"""Bucket-count evolution (lake.rebucket) — VERDICT r4 item 1.

num_buckets was a create-time-frozen knob; these tests prove it is now a
per-snapshot property evolvable mid-stream: replay → rebucket → continue
ingest → final state equals both an un-rebucketed control replay and the
DuckDB oracle; time travel / changes() stay correct across the boundary;
MOR deltas resolve through a rebucket.
"""

from __future__ import annotations

import glob
import os

import pytest

from trde703_openfoodfacts_etl_spark.operators.merge import apply_batch
from trde703_openfoodfacts_etl_spark.schema import TRANSCRIPT_SCHEMA
from trde703_openfoodfacts_etl_spark.sources.genfeed import generate_segments
from trde703_openfoodfacts_etl_spark.sources.lake import LakeTable

from helpers import (
    assert_states_equal,
    duckdb_replay_oracle,
    lake_state_pdf,
    make_events,
)


@pytest.fixture(scope="module")
def wal_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("wal_rb")
    generate_segments(str(d), n_convs=150, n_events=8_000, n_segments=4, seed=7)
    return str(d)


def _replay(spark, root, wal_dir, mode="cow", **kw):
    from trde703_openfoodfacts_etl_spark.streaming.pipeline import run_incremental

    lake = LakeTable.create(spark, root, TRANSCRIPT_SCHEMA, num_buckets=4)
    run_incremental(lake, wal_dir, segments_per_batch=1, mode=mode, **kw)
    return lake


def test_rebucket_mid_stream_equals_control_and_oracle(spark, tmp_path, wal_dir):
    """Replay 2 of 4 segments → rebucket 4→16 → replay the rest: final
    state equals an un-rebucketed control AND the oracle; resumed ingest
    merges under the new bucketing automatically."""
    from trde703_openfoodfacts_etl_spark.streaming.pipeline import run_incremental

    lake = LakeTable.create(spark, str(tmp_path / "lake"), TRANSCRIPT_SCHEMA, num_buckets=4)
    run_incremental(lake, wal_dir, segments_per_batch=1, max_batches=2)
    pre_rb_snapshot = lake.latest_id()
    pre_rb_state = lake_state_pdf(lake)

    snap = lake.rebucket(16)
    assert snap["num_buckets"] == 16
    assert lake.snapshot()["num_buckets"] == 16
    # every manifest file entry now lives under a bucket id < 16 and the
    # buckets map was replaced wholesale (old 4-bucket layout gone)
    assert all(int(b) < 16 for b in snap["buckets"])
    assert len(snap["buckets"]) > 4

    run_incremental(lake, wal_dir, segments_per_batch=1)
    oracle = duckdb_replay_oracle(f"{wal_dir}/*.parquet")
    assert_states_equal(lake_state_pdf(lake), oracle)

    control = _replay(spark, str(tmp_path / "control"), wal_dir)
    assert_states_equal(lake_state_pdf(lake), lake_state_pdf(control))

    # time travel to the pre-rebucket snapshot reads the OLD layout intact
    old = (
        lake.read(snapshot_id=pre_rb_snapshot)
        .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    assert_states_equal(old, pre_rb_state)


def test_rebucket_shrink_and_same_count_noop(spark, tmp_path, wal_dir):
    lake = _replay(spark, str(tmp_path / "lake"), wal_dir)
    before = lake_state_pdf(lake)
    head = lake.latest_id()
    assert lake.rebucket(4)["snapshot_id"] == head  # same count: no-op
    snap = lake.rebucket(2)
    assert snap["num_buckets"] == 2 and len(snap["buckets"]) <= 2
    assert_states_equal(lake_state_pdf(lake), before)
    with pytest.raises(ValueError, match="num_buckets"):
        lake.rebucket(0)


def test_rebucket_resolves_mor_deltas_and_keeps_tombstones(spark, tmp_path):
    """MOR deltas pending + a tombstone → rebucket folds deltas (read-path
    LWW) into the new layout and keeps the tombstone so late events still
    lose to it afterwards."""
    lake = LakeTable.create(spark, str(tmp_path / "lake"), TRANSCRIPT_SCHEMA, num_buckets=2)
    apply_batch(lake, make_events(spark, [
        ("I", 1, "c1", 0, "user", "hello", None, 10),
        ("I", 2, "c2", 0, "user", "other", None, 10),
    ]), 0, mode="mor")
    apply_batch(lake, make_events(spark, [
        ("U", 3, "c1", 0, "user", "hello v2", None, 20),
        ("D", 4, "c2", 0, None, None, None, 30),
    ]), 1, mode="mor")
    assert lake.delta_pressure()  # deltas genuinely pending
    snap = lake.rebucket(8)
    assert not lake.delta_pressure()  # resolved by the rebucket rewrite
    assert sum(b.get("tombstones") or 0 for b in snap["buckets"].values()) == 1
    state = lake_state_pdf(lake)
    assert list(state["text"]) == ["hello v2"]
    # a late event older than the tombstone must NOT resurrect c2
    apply_batch(lake, make_events(spark, [
        ("I", 0, "c2", 0, "user", "zombie", None, 5),
    ]), 2, mode="mor")
    lake.compact()
    assert list(lake_state_pdf(lake)["text"]) == ["hello v2"]


def test_changes_across_rebucket(spark, tmp_path):
    lake = LakeTable.create(spark, str(tmp_path / "lake"), TRANSCRIPT_SCHEMA, num_buckets=3)
    apply_batch(lake, make_events(spark, [
        ("I", 1, "cA", 0, "user", "v1", None, 10),
        ("I", 2, "cB", 0, "user", "b1", None, 10),
    ]), 0)
    s1 = lake.latest_id()
    lake.rebucket(11)
    # pure re-hash: changelog across the boundary must be EMPTY
    assert lake.changes(from_snapshot=s1).count() == 0
    apply_batch(lake, make_events(spark, [
        ("U", 3, "cA", 0, "user", "v2", None, 20),
    ]), 1)
    ch = lake.changes(from_snapshot=s1).orderBy("conv_id").collect()
    assert [(r["conv_id"], r["change_type"]) for r in ch] == [("cA", "update")]


def test_vacuum_reclaims_old_layout_files(spark, tmp_path, wal_dir):
    lake = _replay(spark, str(tmp_path / "lake"), wal_dir)
    root = str(tmp_path / "lake")
    lake.rebucket(16)
    n_before = len(glob.glob(os.path.join(root, "data", "**", "*.parquet"), recursive=True))
    lake.vacuum(keep_snapshots=1)
    n_after = len(glob.glob(os.path.join(root, "data", "**", "*.parquet"), recursive=True))
    assert n_after < n_before  # pre-rebucket layout physically reclaimed
    assert_states_equal(lake_state_pdf(lake), duckdb_replay_oracle(f"{wal_dir}/*.parquet"))


def test_rebucket_cas_conflict_raises(spark, tmp_path, monkeypatch):
    """A concurrent writer committing INSIDE rebucket's read→commit window
    makes the rebucket lose the manifest CAS and raise SnapshotConflict
    (same single-attempt contract as compact): the caller re-runs against
    the new head; the loser's epoch files stay orphaned until vacuum."""
    from trde703_openfoodfacts_etl_spark.sources.lake import SnapshotConflict

    lake = LakeTable.create(spark, str(tmp_path / "lake"), TRANSCRIPT_SCHEMA, num_buckets=2)
    apply_batch(lake, make_events(spark, [("I", 1, "c1", 0, "user", "a", None, 10)]), 0)

    orig = LakeTable.write_bucket_files
    fired = {"done": False}

    def racing_wbf(self, *a, **kw):
        out = orig(self, *a, **kw)
        if not fired["done"]:
            fired["done"] = True
            head = self.snapshot()
            self._write_snapshot({**head, "snapshot_id": head["snapshot_id"] + 1,
                                  "parent": head["snapshot_id"]})
        return out

    monkeypatch.setattr(LakeTable, "write_bucket_files", racing_wbf)
    with pytest.raises(SnapshotConflict):
        lake.rebucket(8)
    # retry against the new head succeeds and preserves state
    assert lake.rebucket(8)["num_buckets"] == 8
    assert list(lake_state_pdf(lake)["text"]) == ["a"]


def test_maybe_rebucket_policy(spark, tmp_path, monkeypatch):
    """maybe_rebucket grows the bucket count geometrically once mean bytes
    per occupied bucket crosses the target; below target / at cap it is a
    no-op returning None."""
    from trde703_openfoodfacts_etl_spark.sources import lake as lake_mod

    lake = LakeTable.create(spark, str(tmp_path / "lake"), TRANSCRIPT_SCHEMA, num_buckets=2)
    apply_batch(lake, make_events(
        spark, [("I", i, f"c{i}", 0, "user", "x" * 200, None, i) for i in range(1, 60)]
    ), 0)
    assert lake.maybe_rebucket(target_bucket_bytes=1 << 40) is None  # under target
    snap = lake.maybe_rebucket(target_bucket_bytes=1)  # over target
    assert snap is not None and snap["num_buckets"] == 8  # 2 * factor 4
    monkeypatch.setattr(lake_mod, "REBUCKET_MAX_BUCKETS", 8)
    assert lake.maybe_rebucket(target_bucket_bytes=1) is None  # at cap
    assert lake.read().count() == 59


def test_auto_rebucket_in_ingest_loop(spark, tmp_path, wal_dir):
    """run_incremental(auto_rebucket_target_bytes=...) grows the layout
    mid-ingest as the table crosses the per-bucket byte target, and the
    final state still equals the oracle."""
    from trde703_openfoodfacts_etl_spark.streaming.pipeline import run_incremental

    lake = LakeTable.create(spark, str(tmp_path / "lake"), TRANSCRIPT_SCHEMA, num_buckets=2)
    run_incremental(lake, wal_dir, segments_per_batch=1, mode="mor",
                    auto_compact_after=1, auto_rebucket_target_bytes=20_000)
    assert lake.snapshot()["num_buckets"] > 2  # policy fired mid-ingest
    assert_states_equal(lake_state_pdf(lake), duckdb_replay_oracle(f"{wal_dir}/*.parquet"))


def test_maybe_rebucket_skew_guards(spark, tmp_path):
    """The growth policy must not thrash on key skew: a hot conversation
    hashes to ONE bucket at any P, so no growth can split it.

    (a) hot-key-only table: a single occupied bucket means more buckets
    cannot spread anything — the policy must never fire, at any target
    (this is the grow-to-cap-storm degenerate case).
    (b) hot key + uniform tail: the MEDIAN occupied-bucket size drives the
    trigger, so the hot bucket's bytes alone (which would push the old
    mean-based trigger over target) do not force a futile rewrite."""
    lake = LakeTable.create(spark, str(tmp_path / "hot"), TRANSCRIPT_SCHEMA, num_buckets=4)
    apply_batch(lake, make_events(
        spark, [("I", i, "hot", i, "user", "x" * 5000, None, i) for i in range(1, 40)]
    ), 0)
    occupied = [b for b in lake.snapshot()["buckets"].values() if b["files"]]
    assert len(occupied) == 1
    assert lake.maybe_rebucket(target_bucket_bytes=1) is None
    assert lake.snapshot()["num_buckets"] == 4

    lake2 = LakeTable.create(spark, str(tmp_path / "mix"), TRANSCRIPT_SCHEMA, num_buckets=4)
    rows = [("I", i, "hot", i, "user", "y" * 20000, None, i) for i in range(1, 30)]
    rows += [("I", 1000 + i, f"c{i}", 0, "user", "z", None, 1000 + i) for i in range(1, 40)]
    apply_batch(lake2, make_events(spark, rows), 0)
    sizes = sorted(
        sum(fe["bytes"] for fe in b["files"])
        for b in lake2.snapshot()["buckets"].values()
        if b["files"]
    )
    assert len(sizes) >= 3  # uniform tail occupies several buckets
    median, mean = sizes[len(sizes) // 2], sum(sizes) / len(sizes)
    target = int(mean) - 1
    assert median < target < sizes[-1]  # mean-trigger would fire; median says no
    assert lake2.maybe_rebucket(target_bucket_bytes=target) is None
    # and with the target below the typical bucket, growth DOES happen
    assert lake2.maybe_rebucket(target_bucket_bytes=max(1, median // 2)) is not None


def test_both_drivers_run_the_same_upkeep(spark, tmp_path, wal_dir, monkeypatch):
    """run_incremental and run_stream share one per-batch step: over the
    same WAL, batch size and MOR upkeep settings they call the lake's
    upkeep methods in the same order with the same arguments."""
    from trde703_openfoodfacts_etl_spark.schema import CDC_SCHEMA
    from trde703_openfoodfacts_etl_spark.streaming.pipeline import (
        run_incremental,
        run_stream,
    )

    calls = []
    for name in ("maybe_compact", "maybe_rebucket", "vacuum"):
        def spy(self, *a, _name=name, _orig=getattr(LakeTable, name), **kw):
            calls.append((_name, a, kw))
            return _orig(self, *a, **kw)

        monkeypatch.setattr(LakeTable, name, spy)
    upkeep = dict(mode="mor", auto_compact_after=1, auto_vacuum_every=2,
                  vacuum_keep_snapshots=3, auto_rebucket_target_bytes=20_000)

    lake = LakeTable.create(spark, str(tmp_path / "inc"), TRANSCRIPT_SCHEMA, num_buckets=2)
    assert len(run_incremental(lake, wal_dir, segments_per_batch=1, **upkeep)) == 4
    incremental = list(calls)
    calls.clear()
    lake = LakeTable.create(spark, str(tmp_path / "stream"), TRANSCRIPT_SCHEMA, num_buckets=2)
    assert len(run_stream(lake, wal_dir, CDC_SCHEMA, str(tmp_path / "ckpt"),
                          max_files_per_trigger=1, **upkeep)) == 4

    per_batch = [
        ("maybe_compact", (), {"max_delta_files": 1}),
        ("maybe_rebucket", (), {"target_bucket_bytes": 20_000}),
    ]
    vacuum = [("vacuum", (), {"keep_snapshots": 3})]
    assert incremental == (per_batch * 2 + vacuum) * 2
    assert calls == incremental
