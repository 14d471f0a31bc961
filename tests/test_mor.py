"""Merge-on-read mode: delta-append ingest + LWW-at-read + compaction all
converge to the same state as copy-on-write (and the DuckDB oracle)."""

from __future__ import annotations

import pytest

from trde703_openfoodfacts_etl_spark.operators.merge import apply_batch
from trde703_openfoodfacts_etl_spark.schema import TRANSCRIPT_SCHEMA
from trde703_openfoodfacts_etl_spark.sources.genfeed import generate_segments
from trde703_openfoodfacts_etl_spark.sources.lake import LakeTable
from trde703_openfoodfacts_etl_spark.streaming.pipeline import run_incremental

from helpers import assert_states_equal, duckdb_replay_oracle, lake_state_pdf, make_events


@pytest.fixture(scope="module")
def wal_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("wal_mor")
    generate_segments(str(d), n_convs=120, n_events=6_000, n_segments=3, seed=31)
    return str(d)


def test_mor_replay_matches_oracle(spark, tmp_path, wal_dir):
    lake = LakeTable.create(spark, str(tmp_path / "lake"), TRANSCRIPT_SCHEMA, num_buckets=8)
    metrics = run_incremental(lake, wal_dir, mode="mor")
    assert all(m["mode"] == "mor" for m in metrics)
    oracle = duckdb_replay_oracle(f"{wal_dir}/*.parquet")
    assert_states_equal(lake_state_pdf(lake), oracle)


def test_compaction_preserves_state_and_clears_deltas(spark, tmp_path, wal_dir):
    lake = LakeTable.create(spark, str(tmp_path / "lake2"), TRANSCRIPT_SCHEMA, num_buckets=8)
    run_incremental(lake, wal_dir, mode="mor")
    before = lake_state_pdf(lake)
    snap = lake.snapshot()
    assert any(b.get("delta") for b in snap["buckets"].values())
    n_files_before = sum(len(b["files"]) for b in snap["buckets"].values())

    new_snap = lake.compact()
    assert not any(b.get("delta") for b in new_snap["buckets"].values())
    n_files_after = sum(len(b["files"]) for b in new_snap["buckets"].values())
    assert n_files_after < n_files_before
    assert_states_equal(lake_state_pdf(lake), before)
    # manifest row counts are exact again after compaction
    assert lake.total_rows() == lake.read().count()


def test_mor_with_mid_stream_schema_evolution(spark, tmp_path):
    """Delta files of different schema generations resolve correctly at read."""
    from pyspark.sql import types as T

    wal = str(tmp_path / "walv2")
    generate_segments(wal, n_convs=60, n_events=3_000, n_segments=3, seed=37,
                      v2_from_segment=2)
    lake = LakeTable.create(spark, str(tmp_path / "lakev2"), TRANSCRIPT_SCHEMA, num_buckets=4)
    run_incremental(lake, wal, mode="mor")
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts", "tool_meta"]
    oracle = duckdb_replay_oracle(f"{wal}/*.parquet", extra_cols=["tool_meta"])
    assert_states_equal(lake_state_pdf(lake, cols), oracle)
    assert isinstance(
        {f.name: f for f in lake.user_schema().fields}["turn_idx"].dataType, T.LongType
    )
    lake.compact()
    assert_states_equal(lake_state_pdf(lake, cols), oracle)


def test_mor_then_cow_compose(spark, tmp_path):
    """COW apply over delta-carrying buckets resolves LWW on its
    current-state read — modes compose on one table."""
    lake = LakeTable.create(spark, str(tmp_path / "lake3"), TRANSCRIPT_SCHEMA, num_buckets=4)
    apply_batch(lake, make_events(spark, [
        ("I", 1, "c1", 0, "user", "v1", None, 100),
        ("U", 2, "c1", 0, "user", "v2", None, 200),
    ]), 0, mode="mor")
    apply_batch(lake, make_events(spark, [
        ("U", 3, "c1", 0, "user", "v3", None, 300),
        ("I", 4, "c2", 0, "user", "x", None, 310),
    ]), 1, mode="cow")
    st = {(r["conv_id"], r["turn_idx"]): r["text"] for r in lake.read().collect()}
    assert st == {("c1", 0): "v3", ("c2", 0): "x"}


def test_auto_compaction_policy(spark, tmp_path, wal_dir):
    """auto_compact_after bounds per-bucket delta file counts during MOR
    ingest, without changing the final state."""
    lake = LakeTable.create(spark, str(tmp_path / "lakeac"), TRANSCRIPT_SCHEMA, num_buckets=8)
    run_incremental(lake, wal_dir, mode="mor", auto_compact_after=1)
    assert max(lake.delta_pressure().values(), default=0) <= 2
    assert_states_equal(lake_state_pdf(lake), duckdb_replay_oracle(f"{wal_dir}/*.parquet"))


def test_selective_read_merges_only_delta_buckets(spark, tmp_path):
    """After compacting, reads bypass the LWW aggregate (plan check)."""
    lake = LakeTable.create(spark, str(tmp_path / "lakesel"), TRANSCRIPT_SCHEMA, num_buckets=4)
    apply_batch(lake, make_events(spark, [("I", 1, "c1", 0, "user", "a", None, 100)]), 0, mode="mor")
    plan_delta = lake.read()._jdf.queryExecution().executedPlan().toString()
    assert "max_by" in plan_delta or "HashAggregate" in plan_delta
    lake.compact()
    plan_clean = lake.read()._jdf.queryExecution().executedPlan().toString()
    assert "max_by" not in plan_clean


def test_mor_delete_and_late_event(spark, tmp_path):
    lake = LakeTable.create(spark, str(tmp_path / "lake4"), TRANSCRIPT_SCHEMA, num_buckets=4)
    apply_batch(lake, make_events(spark, [("I", 1, "c1", 0, "user", "a", None, 100)]), 0, mode="mor")
    apply_batch(lake, make_events(spark, [("D", 5, "c1", 0, None, None, None, 500)]), 1, mode="mor")
    apply_batch(lake, make_events(spark, [("U", 2, "c1", 0, "user", "zombie", None, 200)]), 2, mode="mor")
    assert lake_state_pdf(lake).shape[0] == 0  # tombstone wins over late event
    lake.compact()
    assert lake_state_pdf(lake).shape[0] == 0  # tombstone survives compaction
    apply_batch(lake, make_events(spark, [("I", 9, "c1", 0, "user", "b", None, 900)]), 3, mode="mor")
    assert lake_state_pdf(lake)["text"].tolist() == ["b"]


@pytest.mark.parametrize("mode", ["mor", "cow"])
def test_apply_batch_runs_no_extra_action(spark, tmp_path, monkeypatch, mode):
    """A non-empty batch runs no action beyond its mode's own, and no
    count. MOR runs exactly ONE action (the delta write) and ZERO driver
    collects: the touched-bucket set and observe() metrics ride the write.
    COW makes exactly one collect, the skinny change detection, which also
    yields the touched buckets: no pre-pass materializes the batch first.
    Regression guard against reintroducing a separate touched-buckets scan
    (a full extra pass over every batch). The same holds for compact() and
    rebucket(): no stats pass after the rewrite."""
    # the concrete class: Spark 4's classic DataFrame overrides collect and
    # count, so patching the pyspark.sql.DataFrame base would count nothing
    DataFrame = type(spark.range(0))

    lake = LakeTable.create(spark, str(tmp_path / "lake_jobs"), TRANSCRIPT_SCHEMA, num_buckets=4)
    batch = make_events(spark, [
        ("I", 1, "c1", 0, "user", "hi", None, 10),
        ("I", 2, "c1", 1, "assistant", "yo", None, 11),
        ("I", 3, "c2", 0, "user", "hey", None, 12),
    ])
    calls = {"collect": 0, "count": 0}
    orig_collect, orig_count = DataFrame.collect, DataFrame.count
    monkeypatch.setattr(
        DataFrame, "collect", lambda self: calls.__setitem__("collect", calls["collect"] + 1) or orig_collect(self)
    )
    monkeypatch.setattr(
        DataFrame, "count", lambda self: calls.__setitem__("count", calls["count"] + 1) or orig_count(self)
    )
    res = apply_batch(lake, batch, batch_id=1, mode=mode)
    expected = {"collect": 0 if mode == "mor" else 1, "count": 0}
    assert calls == expected, calls
    assert res["rows_written"] == 3 and res["buckets_touched"] >= 1

    # maintenance: compact() and rebucket() take their manifest stats from
    # the written files' footers, so the rewrite is their only action
    snap = lake.compact()
    assert calls == expected, calls
    assert sum(b["rows"] for b in snap["buckets"].values()) == 3
    snap = lake.rebucket(8)
    assert calls == expected, calls
    assert sum(b["rows"] for b in snap["buckets"].values()) == 3


def test_crash_between_compaction_write_and_commit(spark, tmp_path, wal_dir, monkeypatch):
    """Crash after compaction wrote its new files but BEFORE the manifest
    commit: readers still see the old (delta) state untouched — the
    half-written epoch is orphan data only — and a re-run compaction
    converges to the same state."""
    from trde703_openfoodfacts_etl_spark.sources.lake import LakeTable as LT

    lake = LakeTable.create(spark, str(tmp_path / "lake_crash"), TRANSCRIPT_SCHEMA, num_buckets=8)
    run_incremental(lake, wal_dir, mode="mor")
    before = lake_state_pdf(lake)
    head_before = lake.snapshot()["snapshot_id"]

    def boom(self, snap):
        raise RuntimeError("simulated crash before manifest commit")

    monkeypatch.setattr(LT, "_write_snapshot", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        lake.compact()
    monkeypatch.undo()

    # reader unaffected: head unchanged, state identical (deltas still live)
    assert lake.snapshot()["snapshot_id"] == head_before
    assert_states_equal(lake_state_pdf(lake), before)

    # re-run compacts cleanly; state converges; orphans removable by vacuum
    lake.compact()
    assert_states_equal(lake_state_pdf(lake), before)
    assert lake.vacuum(keep_snapshots=1)  # the crashed epoch's files go
    assert_states_equal(lake_state_pdf(lake), before)


def test_mor_long_run_maintenance_loop(spark, tmp_path):
    """Sustained MOR ingest with BOTH maintenance policies engaged
    (auto-compaction bounding delta pressure + auto-vacuum bounding
    snapshot/file counts): 10 batches in, the lake must be oracle-equal,
    delta pressure bounded by the compaction threshold, file and manifest
    counts bounded — and vacuum must never have deleted a LIVE delta file
    (the read would crash if it had)."""
    import glob
    import json
    import os

    wal = str(tmp_path / "wal")
    generate_segments(wal, n_convs=120, n_events=8_000, n_segments=10, seed=9)
    lake = LakeTable.create(spark, str(tmp_path / "lake"), TRANSCRIPT_SCHEMA, num_buckets=4)
    metrics = run_incremental(
        lake, wal, segments_per_batch=1, mode="mor",
        auto_compact_after=3, auto_vacuum_every=3, vacuum_keep_snapshots=3,
    )
    assert len(metrics) == 10
    # correctness after interleaved compact/vacuum cycles
    assert_states_equal(lake_state_pdf(lake), duckdb_replay_oracle(f"{wal}/*.parquet"))
    # delta pressure bounded by the policy (compaction keeps folding)
    assert all(n <= 4 for n in lake.delta_pressure().values())
    # manifests bounded by the keep window (+ trailing commits since last sweep)
    manifests = glob.glob(os.path.join(str(tmp_path / "lake"), "manifests", "snapshot-*.json"))
    assert len(manifests) <= 6
    # no orphaned data files beyond one uncollected epoch's worth
    data_files = glob.glob(os.path.join(str(tmp_path / "lake"), "data", "**", "*.parquet"),
                           recursive=True)
    live = set()
    for m in manifests:
        s = json.loads(open(m).read())
        for b in s["buckets"].values():
            live.update(fe["path"] for fe in b["files"])
    assert len(data_files) <= len(live) + 8


def test_mor_correct_at_depth_24(spark, tmp_path):
    """Correctness at the deepest measured point of the read-amplification
    curve (scripts/mor_readamp.py): 24 uncompacted delta batches per bucket
    — read-path LWW must still resolve exactly, both for full scans and for
    the manifest-pruned single-bucket lookup path."""
    from pyspark.sql import functions as F

    from trde703_openfoodfacts_etl_spark.sources.lake import bucket_expr

    wal = str(tmp_path / "wal")
    generate_segments(wal, n_convs=60, n_events=12_000, n_segments=24, seed=77)
    lake = LakeTable.create(spark, str(tmp_path / "lake"), TRANSCRIPT_SCHEMA, num_buckets=2)
    run_incremental(lake, wal, segments_per_batch=1, mode="mor")
    depth = max(lake.delta_pressure().values())
    assert depth >= 24
    oracle = duckdb_replay_oracle(f"{wal}/*.parquet")
    assert_states_equal(lake_state_pdf(lake), oracle)
    # single-bucket point lookup at full depth
    key = oracle["conv_id"].iloc[0]
    b = (
        spark.createDataFrame([(key,)], "c string")
        .select(bucket_expr(2, col="c").alias("b"))
        .first()["b"]
    )
    got = (
        lake.read(buckets=[b])
        .filter(F.col("conv_id") == key)
        .orderBy("turn_idx")
        .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
        .toPandas()
    )
    want = oracle[oracle["conv_id"] == key].reset_index(drop=True)
    assert_states_equal(got, want)


def _split_fixture(spark, tmp_path):
    """Compacted base + two delta generations exercising every contested-key
    shape: plain update, tombstone, delta-only key, and late delta events
    OLDER than the base row (the base must win — an anti-join-only resolve
    would get this wrong)."""
    lake = LakeTable.create(
        spark, str(tmp_path / "lakesplit"), TRANSCRIPT_SCHEMA, num_buckets=4
    )
    apply_batch(lake, make_events(spark, [
        ("I", 1, "c1", 0, "user", "a", None, 100),
        ("I", 2, "c2", 0, "user", "b", None, 110),
        ("I", 3, "c3", 0, "user", "c", None, 120),
        ("I", 4, "c5", 0, "user", "e", None, 130),
    ]), 0, mode="mor")
    lake.compact()  # key-unique base, no deltas
    apply_batch(lake, make_events(spark, [
        ("U", 5, "c1", 0, "user", "a2", None, 200),
        ("D", 6, "c2", 0, None, None, None, 300),
        ("I", 7, "c4", 0, "user", "d", None, 310),
    ]), 1, mode="mor")
    apply_batch(lake, make_events(spark, [
        ("U", 8, "c1", 0, "user", "late-loser", None, 50),
        ("U", 9, "c3", 0, "user", "stale", None, 60),
    ]), 2, mode="mor")
    expect = {("c1", 0): "a2", ("c3", 0): "c", ("c4", 0): "d", ("c5", 0): "e"}
    return lake, expect


def _state(df):
    return {(r["conv_id"], r["turn_idx"]): r["text"] for r in df.collect()}


def test_mor_split_resolve_contested_keys_only(spark, tmp_path, monkeypatch):
    """The contested-key split path: clean base rows bypass the LWW
    aggregate via a broadcast anti-join on the delta keyset; late deltas
    older than the base lose; tombstones in deltas hide base rows.

    The fixture is tiny (5 delta rows on a 4-row base), so the fraction and
    min-base guards are relaxed to force the split path under test."""
    from trde703_openfoodfacts_etl_spark.sources import lake as lake_mod

    monkeypatch.setattr(lake_mod, "MOR_SPLIT_MAX_DELTA_FRACTION", 10.0)
    monkeypatch.setattr(lake_mod, "MOR_SPLIT_MIN_BASE_ROWS", 0)
    lake, expect = _split_fixture(spark, tmp_path)
    snap = lake.snapshot()
    # appended file entries are delta-tagged; base entries are not
    for binfo in snap["buckets"].values():
        if binfo.get("delta"):
            tags = [bool(fe.get("delta")) for fe in binfo["files"]]
            assert any(tags) and not all(tags)
    plan = lake.read()._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan and "LeftSemi" in plan
    assert _state(lake.read()) == expect
    # single-bucket pruned lookup goes through the same split
    from trde703_openfoodfacts_etl_spark.sources.lake import bucket_expr
    b = (
        spark.createDataFrame([("c1",)], "c string")
        .select(bucket_expr(4, col="c").alias("b")).first()["b"]
    )
    got = _state(lake.read(buckets=[b]))
    assert got[("c1", 0)] == "a2"
    # compaction clears per-file delta tags and converges to the same state
    lake.compact()
    snap2 = lake.snapshot()
    assert not any(
        fe.get("delta") for bi in snap2["buckets"].values() for fe in bi["files"]
    )
    assert _state(lake.read()) == expect


def test_mor_split_fallback_paths_agree(spark, tmp_path, monkeypatch):
    """Guarded fallbacks produce the identical state: delta rows over the
    broadcast bound, a base under the min-base floor, and a widely-contested
    base (delta over the fraction guard)."""
    from trde703_openfoodfacts_etl_spark.sources import lake as lake_mod

    lake, expect = _split_fixture(spark, tmp_path)
    # over the absolute broadcast bound: full-aggregate resolve, no split
    monkeypatch.setattr(lake_mod, "MOR_SPLIT_MAX_DELTA_FRACTION", 10.0)
    monkeypatch.setattr(lake_mod, "MOR_SPLIT_MIN_BASE_ROWS", 0)
    monkeypatch.setattr(lake_mod, "MOR_SPLIT_MAX_DELTA_ROWS", 0)
    plan = lake.read()._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" not in plan
    assert _state(lake.read()) == expect
    # under the min-base guard only (rows bound satisfied)
    monkeypatch.setattr(lake_mod, "MOR_SPLIT_MAX_DELTA_ROWS", 1_000_000)
    monkeypatch.setattr(lake_mod, "MOR_SPLIT_MIN_BASE_ROWS", 8_000_000)
    plan = lake.read()._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" not in plan
    assert _state(lake.read()) == expect
    monkeypatch.undo()
    # default guards: the fixture's delta (5 rows on a 4-row base) is over
    # the contested-fraction guard and under the min-base floor — fallback
    plan = lake.read()._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" not in plan
    assert _state(lake.read()) == expect
