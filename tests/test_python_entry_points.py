"""Every Python function the package hands to Spark: each pandas UDF, the
``applyInPandas`` kernel and each ``mapInPandas`` function.

- They call :func:`~trde703_openfoodfacts_etl_spark.forget_zip_importers`
  first, so a reused worker's next task reads no zip archive when PySpark
  runs ``importlib.invalidate_caches()``. Checked without Spark, and
  inside a worker.
- Edge batches go through each of them: an empty partition, a single row
  and an all-NULL batch. Each result equals the function's parity twin in
  ``tests/parity_references.py`` where one exists, and a pinned value
  otherwise.
"""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import numpy as np
import pandas as pd
import pytest
from parity_references import (
    corpus_plane_buckets_expr,
    cosine_expr,
    cosine_neardup_pairs,
    mingram_fingerprint_expr,
    minhash_signatures_expr,
    reference_normalize,
)
from pyspark.sql import functions as F
from pyspark.sql import types as T

from trde703_openfoodfacts_etl_spark import forget_zip_importers
from trde703_openfoodfacts_etl_spark.functions.normalize import normalize_key, normalize_text
from trde703_openfoodfacts_etl_spark.functions.text import (
    lang_id,
    mingram_fingerprint_vec,
    simhash64,
)
from trde703_openfoodfacts_etl_spark.operators.dedup import minhash_signatures
from trde703_openfoodfacts_etl_spark.operators.multimodal import decode_features
from trde703_openfoodfacts_etl_spark.operators.similarity import (
    corpus_ivf_topk,
    corpus_plane_buckets,
    cosine_neardup_pairs_matmul,
    cosine_vec,
)

# ---------------------------------------------------------------------------
# the zip-importer cache
# ---------------------------------------------------------------------------


def _archive_reads(archive: str, monkeypatch) -> int:
    """How many times ``importlib.invalidate_caches()`` reads ``archive``'s
    central directory."""
    reads = []
    orig = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return orig(path)

    with monkeypatch.context() as m:
        m.setattr(zipimport, "_read_directory", counting)
        importlib.invalidate_caches()
    return len(reads)


@pytest.mark.parametrize("forget", [False, True])
def test_forgotten_zip_importers_leave_invalidate_caches_nothing_to_read(
    tmp_path, monkeypatch, forget
):
    archive = str(tmp_path / "lib.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("pkg/__init__.py", "")
        z.writestr("pkg/sub/__init__.py", "")
    for entry in (archive, f"{archive}/pkg"):  # an archive and a subpackage prefix
        monkeypatch.setitem(sys.path_importer_cache, entry, zipimport.zipimporter(entry))
    if forget:
        forget_zip_importers()
        assert archive not in sys.path_importer_cache
    assert _archive_reads(archive, monkeypatch) == (0 if forget else 2)


def test_package_udf_task_leaves_no_zip_importer_in_worker(spark):
    """A probe evaluated after ``normalize_key`` in the same Python worker
    task finds no zip importer cached, and ``invalidate_caches()`` reads no
    archive, though zip archives are on the worker's ``sys.path``."""

    @F.pandas_udf("array<long>")
    def probe(s: pd.Series) -> pd.Series:
        import importlib
        import sys
        import zipimport

        cached = sum(
            isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
        )
        on_path = sum(p.endswith((".zip", ".jar")) for p in sys.path)
        reads = [0]
        orig = zipimport._read_directory

        def counting(path):
            reads[0] += 1
            return orig(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = orig
        return pd.Series([[cached, on_path, reads[0]]] * len(s))

    df = spark.range(400).select(
        F.concat(F.lit("Crème  "), F.col("id").cast("string")).alias("t")
    ).repartition(4)
    for _ in range(2):  # warm workers
        df.select(normalize_key("t")).write.format("noop").mode("overwrite").save()
    got = (
        df.select(normalize_key("t").alias("k"), probe("t").alias("p"))
        .select(F.col("p")[0].alias("cached"), F.col("p")[1].alias("on_path"),
                F.col("p")[2].alias("reads"))
        .distinct()
        .collect()
    )
    assert len(got) == 1
    assert got[0]["on_path"] > 0
    assert (got[0]["cached"], got[0]["reads"]) == (0, 0)


# ---------------------------------------------------------------------------
# edge batches
# ---------------------------------------------------------------------------

CASES = ["empty", "single", "all_null"]


def _frame(spark, case: str, rows: dict, schema: str):
    """``rows[case]`` as a frame. ``empty`` and ``single`` come in two
    partitions, so at least one partition is empty; ``all_null`` is one
    batch."""
    st = T._parse_datatype_string(schema)
    pdf = pd.DataFrame(rows[case], columns=st.fieldNames())
    return spark.createDataFrame(pdf, st).repartition(1 if case == "all_null" else 2)


def _sorted(df, *cols):
    return [tuple(r) for r in df.orderBy(*cols).collect()]


TEXT_ROWS = {
    "empty": [],
    "single": [(1, "  Crème  Brûlée\tet le CAFÉ de la gare  ")],
    "all_null": [(1, None), (2, None), (3, None)],
}
TEXT = "doc_id long, text string"


@pytest.mark.parametrize("case", CASES)
@pytest.mark.parametrize("udf, lowercase", [(normalize_text, False), (normalize_key, True)])
def test_normalize_edge_batches(spark, case, udf, lowercase):
    df = _frame(spark, case, TEXT_ROWS, TEXT)
    got = _sorted(df.select("doc_id", udf("text")), "doc_id")
    assert got == [(i, reference_normalize(t, lowercase)) for i, t in TEXT_ROWS[case]]


@pytest.mark.parametrize("case", CASES)
def test_fingerprint_edge_batches(spark, case):
    df = _frame(spark, case, TEXT_ROWS, TEXT)
    got = _sorted(
        df.select("doc_id", mingram_fingerprint_vec(F.col("text")),
                  mingram_fingerprint_expr(F.col("text"))),
        "doc_id",
    )
    assert len(got) == len(TEXT_ROWS[case])
    assert all(fast == ref for _, fast, ref in got)


#: pinned per case: (lang_id, simhash64) of each row of TEXT_ROWS
PINNED_TEXT = {
    "empty": [],
    "single": [("fr", 68973543449626713)],
    "all_null": [(None, None)] * 3,
}


@pytest.mark.parametrize("case", CASES)
def test_lang_id_and_simhash_edge_batches(spark, case):
    df = _frame(spark, case, TEXT_ROWS, TEXT)
    got = _sorted(df.select("doc_id", lang_id("text"), simhash64("text")), "doc_id")
    assert [r[1:] for r in got] == PINNED_TEXT[case]


@pytest.mark.parametrize("case", CASES)
def test_minhash_signatures_edge_batches(spark, case):
    rows = dict(TEXT_ROWS, single=[(1, "the quick brown fox jumps")])
    df = _frame(spark, case, rows, TEXT)
    fast = _sorted(minhash_signatures(df, num_hashes=64, shingle_n=3), "doc_id")
    ref = _sorted(minhash_signatures_expr(df, num_hashes=64, shingle_n=3), "doc_id")
    assert fast == ref
    # a NULL text has no shingles, so it gets no signature
    assert len(fast) == sum(t is not None for _, t in rows[case])


PAIR_ROWS = {
    "empty": [],
    "single": [(1, [1.0, 2.0, 2.0], [2.0, 0.0, 1.0])],
    "all_null": [(1, None, None), (2, None, None), (3, None, None)],
}


@pytest.mark.parametrize("case", CASES)
def test_cosine_vec_edge_batches(spark, case):
    df = _frame(spark, case, PAIR_ROWS, "id long, a array<float>, b array<float>")
    got = _sorted(
        df.select("id", cosine_vec(F.col("a"), F.col("b")), cosine_expr(F.col("a"), F.col("b"))),
        "id",
    )
    assert len(got) == len(PAIR_ROWS[case])
    assert all(fast == ref for _, fast, ref in got)
    if case == "all_null":
        assert {fast for _, fast, _ in got} == {None}


VEC_ROWS = {
    "empty": [],
    "single": [(1, 7, [1.0, -2.0, 0.5])],
    "all_null": [(1, None, None), (2, None, None), (3, None, None)],
}
VEC = "vec_id long, label long, embedding array<float>"
PLANES = np.array([[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0], [1.0, 1.0, -1.0]])


@pytest.mark.parametrize("case", CASES)
def test_corpus_plane_buckets_edge_batches(spark, case):
    df = _frame(spark, case, VEC_ROWS, VEC)
    fast = _sorted(corpus_plane_buckets(df, PLANES, 2, "id"), "id", "band")
    planes = spark.createDataFrame(
        pd.DataFrame({"band": [i // 2 for i in range(4)], "weight": [1 << (i % 2) for i in range(4)],
                      "_p": [list(p) for p in PLANES]}),
        "band int, weight long, _p array<double>",
    )
    ref = _sorted(corpus_plane_buckets_expr(df, planes), "id", "band")
    assert fast == ref
    assert len(fast) == 2 * len(VEC_ROWS[case])


@pytest.mark.parametrize("case", CASES)
def test_cosine_neardup_pairs_matmul_edge_batches(spark, case):
    df = _frame(spark, case, VEC_ROWS, VEC)
    fast = _sorted(cosine_neardup_pairs_matmul(df, threshold=0.5, block_col="label"), "id_a")
    ref = _sorted(cosine_neardup_pairs(df, 0.5, block_col="label"), "id_a")
    assert fast == ref == []


#: a fixed corpus for the IVF probes: centroids 0 and 3
IVF_CORPUS = [(i, None, v) for i, v in enumerate(
    [[1.0, 0.0], [0.9, 0.1], [0.5, 0.5], [0.0, 1.0], [0.1, 0.9], [-1.0, 0.2]]
)]
IVF_PROBES = dict(VEC_ROWS, single=[(1, None, [0.8, 0.2])])
#: pinned per case: (probe_id, rank, neighbor_id) with nprobe=1, k=2
PINNED_IVF = {
    "empty": [],
    "single": [(1, 1, 1), (1, 2, 0)],
    # a NULL probe reads as the zero vector: every cosine is NULL, the
    # first centroid (0) is its cell, and NULLs rank by neighbor id
    "all_null": [(p, r, n) for p in (1, 2, 3) for r, n in ((1, 0), (2, 1))],
}


@pytest.mark.parametrize("case", CASES)
def test_corpus_ivf_topk_edge_batches(spark, case):
    corpus = spark.createDataFrame(
        pd.DataFrame(IVF_CORPUS, columns=["vec_id", "label", "embedding"]), VEC
    )
    probes = _frame(spark, case, IVF_PROBES, VEC).withColumn("vec_id", F.col("vec_id") + 100)
    got = _sorted(corpus_ivf_topk(corpus, probes, centroid_ids=[0, 3], nprobe=1, k=2),
                  "probe_id", "rank")
    assert got == [(p + 100, r, n) for p, r, n in PINNED_IVF[case]]


MEDIA_ROWS = {
    "empty": [],
    "single": [(1, "audio", b"abc")],
    "all_null": [(1, "image", None), (2, "audio", None), (3, "video", None)],
}


@pytest.mark.parametrize("case", CASES)
def test_decode_features_edge_batches(spark, case):
    df = _frame(spark, case, MEDIA_ROWS, "media_id long, kind string, payload binary")
    got = _sorted(decode_features(df), "media_id")
    want = {
        "empty": [],
        # audio: the first 64 payload bytes, zero-padded, averaged in fours
        "single": [(1, "audio", [73.5] + [0.0] * 15, 97 + 98 + 99)],
        "all_null": [(i, k, None, None) for i, k, _ in MEDIA_ROWS["all_null"]],
    }[case]
    assert [(i, k, None if f is None else list(f), s) for i, k, f, s in got] == want
