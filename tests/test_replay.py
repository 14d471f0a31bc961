"""End-to-end replay: seeded WAL → streaming/incremental merge → final state
equals a naive single-pass DuckDB oracle (SURVEY.md §5 replay tests; the
analog of the reference's golden row counts, DOCKER.md:38-50)."""

from __future__ import annotations

import pytest

from trde703_openfoodfacts_etl_spark.schema import CDC_SCHEMA, TRANSCRIPT_SCHEMA
from trde703_openfoodfacts_etl_spark.sources.genfeed import generate_segments
from trde703_openfoodfacts_etl_spark.sources.lake import LakeTable
from trde703_openfoodfacts_etl_spark.streaming.pipeline import run_incremental, run_stream

from helpers import assert_states_equal, duckdb_replay_oracle, lake_state_pdf


@pytest.fixture(scope="module")
def wal_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("wal")
    generate_segments(str(d), n_convs=200, n_events=10_000, n_segments=3, seed=42)
    return str(d)


def test_incremental_replay_matches_oracle(spark, tmp_path, wal_dir):
    lake = LakeTable.create(spark, str(tmp_path / "lake"), TRANSCRIPT_SCHEMA, num_buckets=8)
    metrics = run_incremental(lake, wal_dir, segments_per_batch=1)
    assert len(metrics) == 3
    oracle = duckdb_replay_oracle(f"{wal_dir}/*.parquet")
    assert_states_equal(lake_state_pdf(lake), oracle)
    assert oracle.shape[0] > 1000

    # re-running the whole feed is a no-op (resume sees committed batches)
    again = run_incremental(lake, wal_dir, segments_per_batch=1)
    assert again == []
    assert_states_equal(lake_state_pdf(lake), oracle)


def test_batch_arrangement_independence(spark, tmp_path, wal_dir):
    """Same feed, one big batch instead of three → identical final state."""
    lake = LakeTable.create(spark, str(tmp_path / "lake1"), TRANSCRIPT_SCHEMA, num_buckets=8)
    run_incremental(lake, wal_dir, segments_per_batch=3)
    assert_states_equal(lake_state_pdf(lake), duckdb_replay_oracle(f"{wal_dir}/*.parquet"))


def test_structured_streaming_replay(spark, tmp_path, wal_dir):
    """Idiomatic path: readStream file source + foreachBatch merge."""
    lake = LakeTable.create(spark, str(tmp_path / "lake2"), TRANSCRIPT_SCHEMA, num_buckets=8)
    run_stream(
        lake,
        wal_dir,
        CDC_SCHEMA,
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    assert_states_equal(lake_state_pdf(lake), duckdb_replay_oracle(f"{wal_dir}/*.parquet"))


def test_quality_report_gates(spark, tmp_path, wal_dir):
    from trde703_openfoodfacts_etl_spark.quality import table_quality_report

    lake = LakeTable.create(spark, str(tmp_path / "lake3"), TRANSCRIPT_SCHEMA, num_buckets=8)
    run_incremental(lake, wal_dir, segments_per_batch=3)
    rpt = table_quality_report(lake.read(), snapshot_id=lake.latest_id())
    assert rpt["passed"]  # natural-key uniqueness 100%, roles valid
    assert rpt["uniqueness"]["duplicate_keys"] == 0
    assert rpt["rows"] > 0 and rpt["completeness"]["score"] > 0.7


def test_run_stream_rejects_mid_stream_schema_evolution(spark, tmp_path):
    """A v2 segment (added tool_meta, widened turn_idx) arriving under
    run_stream's fixed v1 source schema must raise loudly instead of being
    silently conformed (Spark streaming sources cannot change schema
    mid-query; run_incremental is the evolving driver)."""
    from trde703_openfoodfacts_etl_spark.schema import SchemaEvolutionError

    wal = str(tmp_path / "wal")
    generate_segments(wal, n_convs=50, n_events=3_000, n_segments=3, seed=11,
                      v2_from_segment=2)
    lake = LakeTable.create(spark, str(tmp_path / "lake"), TRANSCRIPT_SCHEMA, num_buckets=4)
    import pyspark.errors

    with pytest.raises(
        (SchemaEvolutionError, pyspark.errors.exceptions.base.PySparkException)
    ) as ei:
        run_stream(
            lake, wal, CDC_SCHEMA, str(tmp_path / "ckpt"),
            max_files_per_trigger=100,
        )
    # foreachBatch wraps user exceptions: the loud message must surface
    assert "run_incremental" in str(ei.value) and "tool_meta" in str(ei.value)


def test_structured_streaming_maintained_mor(spark, tmp_path, wal_dir):
    """run_stream with the full maintenance loop live (MOR + auto-compact +
    vacuum + auto-rebucket inside foreachBatch): final state equals the
    oracle, the rebucket policy fired, and compaction bounded delta depth."""
    lake = LakeTable.create(spark, str(tmp_path / "lake4"), TRANSCRIPT_SCHEMA, num_buckets=2)
    run_stream(
        lake,
        wal_dir,
        CDC_SCHEMA,
        checkpoint_dir=str(tmp_path / "ckpt4"),
        max_files_per_trigger=1,
        mode="mor",
        auto_compact_after=1,
        auto_vacuum_every=2,
        vacuum_keep_snapshots=2,
        auto_rebucket_target_bytes=20_000,
    )
    assert lake.snapshot()["num_buckets"] > 2  # policy fired mid-stream
    assert max(lake.delta_pressure().values(), default=0) <= 1  # compaction kept pace
    assert_states_equal(lake_state_pdf(lake), duckdb_replay_oracle(f"{wal_dir}/*.parquet"))
