"""Manifest bucket stats (rows, tombstones, hwm_lsn) equal the data.

Every commit that replaces a bucket records its live-row and tombstone
counts and its high-watermark LSN. Those numbers drive the COW detection
shape and the inspect_cli report, so after each kind of rewrite they are
checked against a Spark aggregate over the bucket's files.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from trde703_openfoodfacts_etl_spark.operators.merge import apply_batch
from trde703_openfoodfacts_etl_spark.schema import TRANSCRIPT_SCHEMA
from trde703_openfoodfacts_etl_spark.sources.lake import LakeTable, bucket_expr

from helpers import make_events

NUM_BUCKETS = 4


def _assert_stats_match_data(spark, lake, parent=None):
    """Each bucket's manifest stats against its files. The expected
    hwm_lsn is the files' max ``_lsn``, floored at the bucket's hwm_lsn in
    ``parent`` (a high-watermark never moves back); pass ``parent=None``
    when the layout changed."""
    snap = lake.snapshot()
    for b, binfo in snap["buckets"].items():
        paths = [os.path.join(lake.root, fe["path"]) for fe in binfo["files"]]
        live = dead = hwm = 0
        if paths:
            r = (
                spark.read.parquet(*paths)
                .agg(
                    F.count(F.when(~F.col("_deleted"), 1)).alias("live"),
                    F.count(F.when(F.col("_deleted"), 1)).alias("dead"),
                    F.max("_lsn").alias("hwm"),
                )
                .first()
            )
            live, dead, hwm = r["live"], r["dead"], r["hwm"] or 0
        if parent is not None:
            hwm = max(hwm, int(parent["buckets"].get(b, {}).get("hwm_lsn") or 0))
        got = (binfo["rows"], binfo["tombstones"], binfo["hwm_lsn"])
        assert got == (live, dead, hwm), (b, got, (live, dead, hwm))


def test_manifest_stats_equal_data_after_every_rewrite(spark, tmp_path):
    convs = [f"c{i}" for i in range(12)]
    bucket_of = {
        r["conv_id"]: r["b"]
        for r in spark.createDataFrame([(c,) for c in convs], "conv_id string")
        .select("conv_id", bucket_expr(NUM_BUCKETS).alias("b"))
        .collect()
    }
    dead_b = bucket_of["c0"]
    dead = [c for c in convs if bucket_of[c] == dead_b]
    live = [c for c in convs if bucket_of[c] != dead_b]
    assert live and len({bucket_of[c] for c in live}) >= 2

    lake = LakeTable.create(spark, str(tmp_path / "lake"), TRANSCRIPT_SCHEMA,
                            num_buckets=NUM_BUCKETS)
    lsn = iter(range(1, 10_000))

    def ev(op, conv, turn, text, ts):
        return (op, next(lsn), conv, turn, "user", text, None, ts)

    # COW inserts, then a COW apply with updates and deletes
    apply_batch(lake, make_events(spark, [
        ev("I", c, t, f"{c}-{t}", 100) for c in convs for t in (0, 1)
    ]), 0)
    parent = lake.snapshot()
    apply_batch(lake, make_events(spark, [
        ev(op, c, t, "v2" if op == "U" else None, 200)
        for c in live for op, t in (("U", 0), ("D", 1))
    ]), 1)
    _assert_stats_match_data(spark, lake, parent)
    assert sum(b["tombstones"] for b in lake.snapshot()["buckets"].values()) == len(live)

    # a COW batch that leaves one bucket holding only tombstones: its
    # _row_hash column chunk is all NULL (a null count, no min/max)
    parent = lake.snapshot()
    apply_batch(lake, make_events(spark, [
        ev("D", c, t, None, 300) for c in dead for t in (0, 1)
    ]), 2)
    _assert_stats_match_data(spark, lake, parent)
    b = lake.snapshot()["buckets"][str(dead_b)]
    assert (b["rows"], b["tombstones"]) == (0, 2 * len(dead))

    # MOR deltas on the live buckets, then a compaction
    apply_batch(lake, make_events(spark, [
        ev("U", c, 0, "v3", 400) for c in live
    ]), 3, mode="mor")
    apply_batch(lake, make_events(spark, [
        ev("I", c, 2, "new", 500) for c in live
    ] + [ev("D", live[0], 0, None, 500)]), 4, mode="mor")
    parent = lake.snapshot()
    lake.compact()
    _assert_stats_match_data(spark, lake, parent)
    assert not any(b.get("delta") for b in lake.snapshot()["buckets"].values())

    # rebucket: every bucket is new, so hwm_lsn is the files' max _lsn
    lake.rebucket(8)
    _assert_stats_match_data(spark, lake)
    snap = lake.snapshot()
    assert sum(b["rows"] for b in snap["buckets"].values()) == lake.read().count()
