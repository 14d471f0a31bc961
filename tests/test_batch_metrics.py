"""Per-batch quality/lineage metrics vs generator ground truth
(FIXTURES.md §6: the engine's report must account for every event)."""

from __future__ import annotations

import pyarrow.parquet as pq

from trde703_openfoodfacts_etl_spark.schema import TRANSCRIPT_SCHEMA
from trde703_openfoodfacts_etl_spark.sources.genfeed import generate_segments
from trde703_openfoodfacts_etl_spark.sources.lake import LakeTable, bucket_expr
from trde703_openfoodfacts_etl_spark.streaming.pipeline import list_segments, run_incremental


def test_batch_metrics_account_for_every_event(spark, tmp_path):
    wal = str(tmp_path / "wal")
    paths = generate_segments(wal, n_convs=80, n_events=4_000, n_segments=4, seed=19)
    truth = {p: pq.read_metadata(p).num_rows for p in paths}

    lake = LakeTable.create(spark, str(tmp_path / "lake"), TRANSCRIPT_SCHEMA, num_buckets=8)
    metrics = run_incremental(lake, wal, segments_per_batch=1)

    assert len(metrics) == len(paths)
    for m, p in zip(metrics, sorted(truth)):
        # every event in the segment is observed by the batch
        assert m["events_in"] == truth[p]
        assert m["gated_out"] == 0  # generator emits no null/empty keys
        assert m["buckets_touched"] >= m["buckets_rewritten"] > 0
        # a touched bucket is one the segment's conv_ids hash to
        buckets = spark.read.parquet(p).select(bucket_expr(8).alias("b")).distinct()
        assert m["buckets_touched"] == buckets.count()
        assert m["events_per_sec"] > 0
        # per-bucket event counts cover exactly the events that passed the gate
        assert sum(m["per_bucket_events"].values()) == m["events_in"] - m["gated_out"]
        # one skinny detection job, then the payload write and the commit
        assert set(m["phase_sec"]) == {"plan", "a2_skinny", "a3_write", "commit"}

    # manifest lineage: snapshot metrics equal the returned metrics
    snap = lake.snapshot()
    assert snap["metrics"]["batch_id"] == metrics[-1]["batch_id"]
    assert snap["metrics"]["events_in"] == metrics[-1]["events_in"]
    # high-watermark covers the last lsn of the feed (4000 events + dups keep lsn max at 4000)
    assert max(b["hwm_lsn"] for b in snap["buckets"].values()) == 4_000
