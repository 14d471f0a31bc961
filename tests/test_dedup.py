"""Dedup family: n-gram Jaccard, MinHash, SimHash, connected components —
planted duplicates must be found, non-duplicates must not collide."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from trde703_openfoodfacts_etl_spark.operators.dedup import (
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_near_dups,
    word_shingles,
)
from trde703_openfoodfacts_etl_spark.plans.analytics import load

from helpers import build_jobs

BASE = (
    "the quick brown fox jumps over the lazy dog while the spark engine "
    "shuffles partitions across the cluster and merges change events into the lake"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),  # exact dup of 0
        (2, "The  QUICK brown fox " + BASE[20:]),  # case/ws variant of 0
        (3, BASE.replace("lazy", "sleepy")),  # near dup (1 token changed)
        (4, "completely different content about databases and query optimizers "
            "with columnar storage vectorized execution and cost based planning"),
        (5, "yet another unrelated document mentioning streams watermarks "
            "state stores and exactly once processing guarantees in flink"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_word_shingles_short_text(spark):
    df = spark.createDataFrame([(1, "only two")], ["doc_id", "text"])
    [row] = df.select(word_shingles(F.col("text"), 3).alias("s")).collect()
    assert row["s"] == ["only two"]  # shorter than n → whole text as one shingle


def test_ngram_jaccard_finds_near_dup(spark, docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert pairs[(0, 1)] == 1.0
    assert pairs[(0, 3)] >= 0.5  # one-token edit keeps most shingles
    assert (0, 4) not in pairs and (4, 5) not in pairs


def test_minhash_estimates_jaccard(spark, docs):
    sig = minhash_signatures(docs, num_hashes=64).collect()
    assert len(sig) == 6 and len([c for c in sig[0].asDict() if c.startswith("mh_")]) == 64
    by_id = {r["doc_id"]: [r[f"mh_{i}"] for i in range(64)] for r in sig}
    assert by_id[0] == by_id[1]  # identical docs → identical signatures
    sim03 = sum(a == b for a, b in zip(by_id[0], by_id[3])) / 64
    sim04 = sum(a == b for a, b in zip(by_id[0], by_id[4])) / 64
    assert sim03 > 0.5 > sim04  # near-dup ≫ unrelated


def test_simhash_near_dups(spark, docs):
    res = {(r["id_a"], r["id_b"]): r["hamming"] for r in simhash_near_dups(docs).collect()}
    assert res[(0, 1)] == 0
    if (0, 3) in res:
        assert res[(0, 3)] <= 16
    assert (0, 4) not in res or res[(0, 4)] > 10


def test_connected_components_multihop(spark):
    """Min-label propagation must traverse chains (diameter > 1), keep
    disjoint components apart, and produce the canonical min-id labels."""
    from trde703_openfoodfacts_etl_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),      # chain: component {1,2,3,4}
         (10, 11),                    # pair component
         (20, 21), (21, 22), (20, 22)],  # triangle
        "id_a long, id_b long",
    )
    got = {r.id: r.cluster_id for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_connected_components_raises_when_not_converged(spark, monkeypatch):
    """A diameter larger than CC_MAX_ITER must fail loudly — silently
    returning non-minimal labels would report one component as several."""
    from trde703_openfoodfacts_etl_spark.operators import dedup

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long"
    )
    monkeypatch.setattr(dedup, "CC_MAX_ITER", 2)
    with pytest.raises(RuntimeError, match="not converged"):
        dedup.connected_components(chain)
    # and with the default rounds the same chain converges to one cluster
    monkeypatch.undo()
    got = dedup.connected_components(chain)
    assert {r.cluster_id for r in got.collect()} == {0}


def test_minhash_signatures_over_a_spread_scan_runs_no_job_at_build(spark, docs, tmp_path):
    """q24 loads its scan with ``load(..., spread=True)`` and hands it to
    minhash_signatures. Loading the spread scan and building the signatures
    over it run no Spark job: ``load`` decides from the parquet footer, and
    no operator inspects the partitions of the frame it is given."""
    docs.coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    assert build_jobs(spark, "minhash", lambda: minhash_signatures(
        load(spark, str(tmp_path), "documents", spread=True), num_hashes=64, shingle_n=3
    )) == 0


def test_null_and_empty_texts_match_the_oracles(spark, tmp_path):
    """A NULL text has no shingles: it pairs with nothing in q21 and q24,
    as in their DuckDB oracles, rather than with every other NULL or empty
    text at Jaccard 1.0."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from trde703_openfoodfacts_etl_spark.plans.analytics import (
        SQL_Q21,
        SQL_Q24,
        q21_ngram_jaccard,
        q24_minhash_lsh,
    )

    texts = {1: "a b c d", 2: None, 3: None, 4: "a b c d", 5: ""}
    path = tmp_path / "documents.parquet"
    pq.write_table(
        pa.table({"doc_id": pa.array(list(texts), pa.int64()),
                  "text": pa.array(list(texts.values()), pa.string())}),
        str(path),
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS FROM '{path}'")
    for fn, sql in ((q21_ngram_jaccard, SQL_Q21), (q24_minhash_lsh, SQL_Q24)):
        got = sorted(tuple(r) for r in fn(spark, str(tmp_path)).collect())
        want = sorted(tuple(r) for r in con.sql(sql).fetchall())
        assert got == want == [(1, 4, 1.0)], fn.__name__


def test_ngram_jaccard_bitmap_filter_lossless_on_repetitive_corpus(spark):
    """r6: the 256-bit bitmap overlap bound added to the prefix path must
    keep every true pair even when per-doc bit collisions are maximal —
    repetitive docs built from a tiny shared vocabulary (all shingles land
    on few bit positions, so |A| − popcount(bmA) is large) compared against
    the exact brute-force Jaccard over the same shingle sets."""
    import itertools

    from trde703_openfoodfacts_etl_spark.operators.dedup import (
        ngram_jaccard_pairs,
        word_shingles,
    )

    # 12 docs over a 6-word vocabulary: dense overlap structure, many
    # near-dup pairs at t=0.5, heavy shingle re-use across docs
    vocab = ["aa", "bb", "cc", "dd", "ee", "ff"]
    docs = []
    for i in range(12):
        words = [vocab[(i + j) % 6] for j in range(8)] + [vocab[i % 6]] * (i % 3)
        docs.append((i, " ".join(words)))
    df = spark.createDataFrame(docs, "doc_id long, text string")

    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, threshold=0.5).collect()
    }
    sh = {
        r["doc_id"]: set(r["s"])
        for r in df.select("doc_id", word_shingles(F.col("text"), 3).alias("s")).collect()
    }
    want = {}
    for x, y in itertools.combinations(sorted(sh), 2):
        j = len(sh[x] & sh[y]) / len(sh[x] | sh[y])
        if round(j, 6) >= 0.5:
            want[(x, y)] = round(j, 6)
    assert set(got) == set(want) and want
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9
