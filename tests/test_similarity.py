"""Similarity search: the numpy kernels of operators/similarity.py follow
one NULL rule (stated at ``_matrix``), match their JVM higher-order-function
references in tests/parity_references.py bit for bit, and match the DuckDB
oracle on NULL and zero-norm vectors."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from helpers import assert_matches_oracle
from parity_references import corpus_plane_buckets_expr, cosine_expr
from pyspark.sql import functions as F

from trde703_openfoodfacts_etl_spark.operators.similarity import (
    _buckets,
    _cos,
    _index,
    _matrix,
    _norm,
    _seqdot,
    _top_cells,
    corpus_ivf_topk,
    corpus_lsh_topk,
    corpus_plane_buckets,
    cosine_vec,
)
from trde703_openfoodfacts_etl_spark.plans.analytics import REGISTRY

SF001 = "/root/testdata/sf0.01"
#: edge rows: a probe, a corpus row, a q29 centroid, a q28 plane, a plain row
NULL_IDS = [1, 7, 203, 106, 300]
ZERO_IDS = [2, 9, 205, 104, 301]
PLANES = [100 + i for i in range(12)]
CENTROIDS = list(range(200, 208))


def _edge_dir(tmp_path, nulls: bool = True) -> str:
    """sf0.01 ``embeddings`` with NULL vectors at NULL_IDS (if ``nulls``)
    and zero vectors at ZERO_IDS, written under ``tmp_path``."""
    t = pq.read_table(f"{SF001}/embeddings.parquet")
    field = t.schema.field("embedding")
    drop = set(NULL_IDS) if nulls else set()
    vecs = [
        None if i in drop else [0.0] * len(v) if i in ZERO_IDS else v
        for i, v in zip(t.column("vec_id").to_pylist(), t.column("embedding").to_pylist())
    ]
    t = t.set_column(t.schema.get_field_index("embedding"), field, pa.array(vecs, field.type))
    pq.write_table(t, tmp_path / "embeddings.parquet")
    return str(tmp_path)


# ---------------------------------------------------------------------------
# numpy helpers, Spark-free
# ---------------------------------------------------------------------------


def _series(*vecs):
    return pd.Series([None if v is None else np.array(v, dtype=np.float32) for v in vecs],
                     dtype=object)


def test_matrix_reads_null_as_zero_vector():
    m = _matrix(_series([1.0, 2.0], None, [0.5, -1.0]))
    assert m.dtype == np.float64
    assert m.tolist() == [[1.0, 2.0], [0.0, 0.0], [0.5, -1.0]]
    assert _matrix(_series(None, None), width=3).tolist() == [[0.0] * 3] * 2


def test_matrix_raises_on_ragged_batch():
    with pytest.raises(ValueError, match="expected 2, found 3"):
        _matrix(_series([1.0, 2.0], None, [1.0, 2.0, 3.0]))
    with pytest.raises(ValueError, match="expected 3, found 2"):
        _matrix(_series([1.0, 2.0]), width=3)


def test_helpers_on_empty_and_single_row_batches():
    empty = _matrix(_series())
    assert empty.shape == (0, 0) and _seqdot(empty, empty).shape == (0,)
    assert _buckets(_matrix(_series(), 2), np.eye(2), 1).shape == (0, 2)
    assert _top_cells(_matrix(_series(), 2), np.eye(2), 1).shape == (0, 1)
    one = _matrix(_series([3.0, 4.0]))
    assert _norm(one).tolist() == [5.0]
    assert _top_cells(one, np.array([[0.0, 1.0], [1.0, 0.0]]), 5).tolist() == [[0, 1]]


def test_seqdot_sums_left_to_right():
    # 1e16 + 1 - 1e16 is 0 in left-to-right doubles, 1 in exact arithmetic
    a = np.array([[1e16, 1.0, -1e16]])
    assert _seqdot(a, np.ones(3)).tolist() == [0.0]


def test_cosine_of_null_or_zero_vector_is_nan():
    x = _matrix(_series([1.0, 0.0], None, [0.0, 0.0], [2.0, 0.0]))
    y = _matrix(_series([1.0, 0.0], [1.0, 0.0], [1.0, 0.0], None))
    got = _cos(_seqdot(x, y), _norm(x), _norm(y))
    assert got[0] == 1.0 and np.isnan(got[1:]).all()


def test_buckets_null_and_zero_vectors_set_no_bit():
    planes = np.array([[1.0, 0.0], [0.0, 1.0], [-1.0, 0.0], [0.0, 0.0]])
    V = _matrix(_series([1.0, 1.0], None, [0.0, 0.0], [-1.0, 1.0], [-1.0, 1.0]))
    got = _buckets(V, planes, 2).tolist()
    assert got == [[3, 0], [0, 0], [0, 0], [2, 1], [2, 1]]  # duplicates agree


def test_top_cells_orders_cosine_desc_null_last_ties_to_smaller_index():
    C = np.array([[0.0, 0.0], [1.0, 0.0], [1.0, 0.0], [0.0, 1.0]])  # 0 zero, 1 == 2
    V = _matrix(_series([1.0, 0.1], None, [0.0, 0.0], [0.1, 1.0]))
    assert _top_cells(V, C, 4).tolist() == [
        [1, 2, 3, 0],  # the zero centroid ranks last
        [0, 1, 2, 3],  # a NULL vector: every cosine NULL, smallest ids first
        [0, 1, 2, 3],  # a zero vector: same
        [3, 1, 2, 0],
    ]


# ---------------------------------------------------------------------------
# kernels against the HOF references, on the edge table
# ---------------------------------------------------------------------------


def test_corpus_plane_buckets_vectorized_matches_expr(spark, tmp_path):
    e = spark.read.parquet(f"{_edge_dir(tmp_path)}/embeddings.parquet")
    _, planes = _index(e, PLANES, "plane")
    fast = corpus_plane_buckets(e, planes, 4, "id").orderBy("id", "band").collect()
    pm = spark.createDataFrame(
        [(p, i // 4, 1 << (i % 4)) for i, p in enumerate(PLANES)],
        "plane_id long, band int, weight long",
    )
    ptab = pm.join(
        e.select(F.col("vec_id").alias("plane_id"), F.col("embedding").alias("_p")),
        "plane_id",
    )
    ref = corpus_plane_buckets_expr(e, ptab).orderBy("id", "band").collect()
    assert [tuple(r) for r in fast] == [tuple(r) for r in ref]


def test_corpus_ivf_cells_match_hof_argmax(spark, tmp_path):
    """The cell kernel's cell for every vector equals the HOF argmax:
    max_by over (cosine, -cent_id), where a NULL cosine loses to any
    number and all-NULL falls to the smallest cent_id."""
    e = spark.read.parquet(f"{_edge_dir(tmp_path)}/embeddings.parquet")
    cids, C = _index(e, CENTROIDS, "centroid")
    pdf = e.orderBy("vec_id").toPandas()
    fast = cids[_top_cells(_matrix(pdf["embedding"]), C, 1)[:, 0]]
    cents = e.filter(F.col("vec_id").isin(CENTROIDS)).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("_c")
    )
    ref = (
        e.crossJoin(F.broadcast(cents))
        .select("vec_id", "cent_id", cosine_expr(F.col("embedding"), F.col("_c")).alias("s"))
        .groupBy("vec_id")
        .agg(F.max_by("cent_id", F.struct("s", -F.col("cent_id"))).alias("cell"))
        .orderBy("vec_id")
        .toPandas()
    )
    assert ref["vec_id"].tolist() == pdf["vec_id"].tolist()
    assert fast.tolist() == ref["cell"].tolist()
    assert fast[pdf["vec_id"].isin(NULL_IDS + ZERO_IDS).to_numpy()].tolist() == [200] * 10


def test_cosine_vec_matches_expr(spark, tmp_path):
    e = spark.read.parquet(f"{_edge_dir(tmp_path)}/embeddings.parquet")
    pairs = e.select(F.col("vec_id").alias("i"), F.col("embedding").alias("a")).crossJoin(
        e.filter(F.col("vec_id").isin(NULL_IDS + ZERO_IDS + [0, 3]))
        .select(F.col("embedding").alias("b"))
    )
    out = pairs.select(
        cosine_expr(F.col("a"), F.col("b")).alias("ref"),
        cosine_vec(F.col("a"), F.col("b")).alias("fast"),
    )
    assert out.filter(~F.col("ref").eqNullSafe(F.col("fast"))).count() == 0
    assert out.filter(F.col("fast").isNull()).count() > 0


# ---------------------------------------------------------------------------
# the four vector queries against their oracles, and loud errors
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "name", ["q20_ann_bruteforce", "q28_ann_lsh", "q29_ann_ivf", "q37_cosine_neardup"]
)
def test_vector_query_matches_oracle_on_null_and_zero_vectors(spark, tmp_path, name):
    # q20's oracle (DuckDB list_cosine_similarity) rejects NULL lists
    d = _edge_dir(tmp_path, nulls=name != "q20_ann_bruteforce")
    fn, sql = REGISTRY[name]
    got = fn(spark, d).toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS FROM '{d}/embeddings.parquet'")
    want = con.sql(sql).df()
    con.close()
    assert_matches_oracle(name, got, want)


def test_lsh_raises_on_plane_ids_missing_from_corpus(spark):
    e = spark.read.parquet(f"{SF001}/embeddings.parquet")
    with pytest.raises(ValueError, match=r"plane ids missing from the corpus: \[9000, 9001\]"):
        corpus_lsh_topk(e, e, plane_ids=[100, 9001, 9000], bands=1)


def test_ivf_raises_on_centroid_ids_missing_from_corpus(spark):
    e = spark.read.parquet(f"{SF001}/embeddings.parquet")
    with pytest.raises(ValueError, match=r"centroid ids missing from the corpus: \[9000\]"):
        corpus_ivf_topk(e, e, centroid_ids=[200, 9000])
    with pytest.raises(ValueError, match="no centroid ids given"):
        corpus_ivf_topk(e, e, centroid_ids=[])
