"""Unit semantics of the LWW merge (reference etl/bronze_to_silver.py:230-236,
extended to cross-batch CDC apply — SURVEY.md §2.5 W1, §2.9)."""

from __future__ import annotations

from trde703_openfoodfacts_etl_spark.operators.merge import apply_batch
from trde703_openfoodfacts_etl_spark.schema import TRANSCRIPT_SCHEMA
from trde703_openfoodfacts_etl_spark.sources.lake import LakeTable

from helpers import lake_state_pdf, make_events


def _lake(spark, tmp_path, name):
    return LakeTable.create(spark, str(tmp_path / name), TRANSCRIPT_SCHEMA, num_buckets=4)


def test_last_writer_wins_by_ts(spark, tmp_path):
    lake = _lake(spark, tmp_path, "l1")
    apply_batch(lake, make_events(spark, [
        ("I", 1, "c1", 0, "user", "old", None, 100),
        ("U", 2, "c1", 0, "user", "new", None, 200),
    ]), 0)
    st = lake_state_pdf(lake)
    assert st["text"].tolist() == ["new"]


def test_ts_tie_broken_by_lsn(spark, tmp_path):
    lake = _lake(spark, tmp_path, "l2")
    apply_batch(lake, make_events(spark, [
        ("I", 5, "c1", 0, "user", "lsn5", None, 100),
        ("U", 4, "c1", 0, "user", "lsn4", None, 100),  # same ts, lower lsn
    ]), 0)
    assert lake_state_pdf(lake)["text"].tolist() == ["lsn5"]


def test_late_event_does_not_win_across_batches(spark, tmp_path):
    lake = _lake(spark, tmp_path, "l3")
    apply_batch(lake, make_events(spark, [("I", 10, "c1", 0, "user", "winner", None, 500)]), 0)
    # late event: smaller (ts, lsn), arrives in a later batch — must NOT win
    apply_batch(lake, make_events(spark, [("U", 3, "c1", 0, "user", "stale", None, 100)]), 1)
    assert lake_state_pdf(lake)["text"].tolist() == ["winner"]


def test_delete_then_reinsert(spark, tmp_path):
    lake = _lake(spark, tmp_path, "l4")
    apply_batch(lake, make_events(spark, [("I", 1, "c1", 0, "user", "a", None, 100)]), 0)
    apply_batch(lake, make_events(spark, [("D", 2, "c1", 0, None, None, None, 200)]), 1)
    assert lake_state_pdf(lake).shape[0] == 0
    apply_batch(lake, make_events(spark, [("I", 3, "c1", 0, "user", "b", None, 300)]), 2)
    assert lake_state_pdf(lake)["text"].tolist() == ["b"]


def test_late_event_cannot_resurrect_deleted_key(spark, tmp_path):
    lake = _lake(spark, tmp_path, "l5")
    apply_batch(lake, make_events(spark, [("I", 1, "c1", 0, "user", "a", None, 100)]), 0)
    apply_batch(lake, make_events(spark, [("D", 5, "c1", 0, None, None, None, 500)]), 1)
    # stale update older than the delete arrives afterwards: stays deleted
    apply_batch(lake, make_events(spark, [("U", 2, "c1", 0, "user", "zombie", None, 200)]), 2)
    assert lake_state_pdf(lake).shape[0] == 0


def test_duplicate_lsn_redelivery_absorbed(spark, tmp_path):
    lake = _lake(spark, tmp_path, "l6")
    ev = [("I", 1, "c1", 0, "user", "x", None, 100)]
    apply_batch(lake, make_events(spark, ev + ev), 0)  # dup within batch
    m = apply_batch(lake, make_events(spark, ev), 1)  # redelivered across batch
    st = lake_state_pdf(lake)
    assert st.shape[0] == 1 and st["text"].tolist() == ["x"]
    assert m["buckets_rewritten"] == 0  # no-op skip: nothing rewritten


def test_quality_gate_drops_null_keys(spark, tmp_path):
    lake = _lake(spark, tmp_path, "l7")
    m = apply_batch(lake, make_events(spark, [
        ("I", 1, "c1", 0, "user", "keep", None, 100),
        ("I", 2, None, 1, "user", "drop-null-conv", None, 100),
        ("I", 3, "", 1, "user", "drop-empty-conv", None, 100),
    ]), 0)
    assert m["gated_out"] == 2
    assert lake_state_pdf(lake)["text"].tolist() == ["keep"]


def test_cow_batch_over_empty_lake_first_batch_matches_oracle(spark, tmp_path):
    """The first COW batch merges against the empty lake read (an empty
    local relation); the second merges against the files the first wrote.
    Both states equal the DuckDB LWW replay of the segments applied."""
    from trde703_openfoodfacts_etl_spark.sources.genfeed import generate_segments
    from trde703_openfoodfacts_etl_spark.streaming.pipeline import run_incremental

    from helpers import assert_states_equal, duckdb_replay_oracle

    wal = str(tmp_path / "wal")
    segs = generate_segments(wal, n_convs=30, n_events=1_500, n_segments=2, seed=9)
    lake = _lake(spark, tmp_path, "empty_first")
    run_incremental(lake, wal, mode="cow", max_batches=1)
    assert_states_equal(lake_state_pdf(lake), duckdb_replay_oracle(segs[0]))
    run_incremental(lake, wal, mode="cow")
    assert lake.snapshot()["streams"]["default"] == 1
    assert_states_equal(lake_state_pdf(lake), duckdb_replay_oracle(f"{wal}/*.parquet"))
