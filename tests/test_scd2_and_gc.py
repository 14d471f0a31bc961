"""Snapshot CAS multi-writer safety, the vacuum keep window for time
travel, and the quality gates' bounds and alert levels (VERDICT r1 #6-#10).
"""

from __future__ import annotations

import json

import pytest

from trde703_openfoodfacts_etl_spark.operators.merge import apply_batch
from trde703_openfoodfacts_etl_spark import quality
from trde703_openfoodfacts_etl_spark.quality import table_quality_report
from trde703_openfoodfacts_etl_spark.schema import TRANSCRIPT_SCHEMA
from trde703_openfoodfacts_etl_spark.sources.lake import LakeTable, SnapshotConflict

from helpers import make_events


def test_snapshot_cas_conflict_and_retry(spark, tmp_path):
    """Two writers racing to the same child snapshot id: the CAS rejects the
    loser; apply_batch retries against the new head and both batches land."""
    root = str(tmp_path / "lake")
    a = LakeTable.create(spark, root, TRANSCRIPT_SCHEMA, num_buckets=4)
    b = LakeTable(spark, root)

    # direct CAS check
    snap = a.snapshot()
    s1 = dict(snap, snapshot_id=snap["snapshot_id"] + 1, parent=snap["snapshot_id"])
    a._write_snapshot(s1)
    with pytest.raises(SnapshotConflict):
        b._write_snapshot(dict(s1))

    # retry path: simulate writer B computing against a stale head by
    # interleaving commits — apply_batch re-reads the snapshot per attempt,
    # so both writers' batches land even when their target ids collide
    apply_batch(a, make_events(spark, [("I", 10, "w1", 0, "user", "from-a", None, 100)]), 0,
                stream_id="wa")
    apply_batch(b, make_events(spark, [("I", 11, "w2", 0, "user", "from-b", None, 101)]), 0,
                stream_id="wb")
    texts = {r["conv_id"]: r["text"] for r in a.read().collect()}
    assert texts["w1"] == "from-a" and texts["w2"] == "from-b"


def test_quality_thresholds_and_alert_levels(spark, monkeypatch):
    good = spark.createDataFrame(
        [("c1", 0, "user", "hello world", None, None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    rpt = table_quality_report(good)
    assert rpt["passed"] and rpt["alert_level"] == "ok"
    assert {g["gate"] for g in rpt["gates"]} == {
        "completeness", "uniqueness", "invalid_role_rate", "blank_text_rate"}

    # failing fixture: blank text + invalid role trips tightened bounds
    bad = spark.createDataFrame(
        [
            ("c1", 0, "user", "", None, None),
            ("c1", 1, "alien", "x", None, None),
        ],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    monkeypatch.setattr(quality, "MAX_BLANK_TEXT_RATE", 0.1)
    monkeypatch.setattr(quality, "MAX_INVALID_ROLE_RATE", 0.1)
    rpt2 = table_quality_report(bad)
    assert not rpt2["passed"] and rpt2["alert_level"] == "fail"
    failing = {g["gate"] for g in rpt2["gates"] if g["level"] == "fail"}
    assert "blank_text_rate" in failing and "invalid_role_rate" in failing
    # the same data passes under lenient bounds
    monkeypatch.setattr(quality, "MAX_BLANK_TEXT_RATE", 0.9)
    monkeypatch.setattr(quality, "MAX_INVALID_ROLE_RATE", 0.9)
    monkeypatch.setattr(quality, "MIN_COMPLETENESS", 0.1)
    assert table_quality_report(bad)["passed"]
    # report is JSON-serializable (sink contract)
    json.dumps(rpt2)


def test_concurrent_writers_thread_race(spark, tmp_path, monkeypatch):
    """TRUE concurrency: two threads committing batches to the same table
    simultaneously. The manifest CAS serializes them; apply_batch's retry
    re-reads the head per attempt, so every batch lands exactly once and
    the snapshot lineage stays a single parent chain."""
    import threading

    from trde703_openfoodfacts_etl_spark.operators import merge

    monkeypatch.setattr(merge, "MAX_COMMIT_RETRIES", 10)
    root = str(tmp_path / "lake_race")
    lake_a = LakeTable.create(spark, root, TRANSCRIPT_SCHEMA, num_buckets=4)
    lake_b = LakeTable(spark, root)
    errs = []

    def writer(lake, sid, prefix, n):
        try:
            for i in range(n):
                ev = make_events(
                    spark,
                    [("I", i, f"{prefix}{i}", 0, "user", f"txt-{prefix}{i}", None, 10 + i)],
                )
                apply_batch(lake, ev, i, stream_id=sid)
        except Exception as e:  # pragma: no cover - failure path
            errs.append(e)

    t1 = threading.Thread(target=writer, args=(lake_a, "sa", "a", 3))
    t2 = threading.Thread(target=writer, args=(lake_b, "sb", "b", 3))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs, errs

    state = {r["conv_id"]: r["text"] for r in lake_a.read().collect()}
    assert state == {f"{p}{i}": f"txt-{p}{i}" for p in ("a", "b") for i in range(3)}

    # lineage is one unbroken parent chain covering all six commits
    head = lake_a.snapshot()
    chain = [head["snapshot_id"]]
    while head["parent"] is not None:
        head = lake_a.snapshot(head["parent"])
        chain.append(head["snapshot_id"])
    assert chain == sorted(chain, reverse=True) and len(chain) == 7  # init + 6


def test_auto_vacuum_bounds_files_keeps_travel_window(spark, tmp_path):
    """run_incremental(auto_vacuum_every=...) keeps manifest + data file
    counts bounded during long ingest, final state stays oracle-equal, and
    time travel still works inside the keep window."""
    import glob
    import os

    from trde703_openfoodfacts_etl_spark.sources.genfeed import generate_segments
    from trde703_openfoodfacts_etl_spark.streaming.pipeline import run_incremental
    from helpers import assert_states_equal, duckdb_replay_oracle, lake_state_pdf

    wal = str(tmp_path / "wal")
    generate_segments(wal, n_convs=80, n_events=6_000, n_segments=8, seed=3)
    lake = LakeTable.create(spark, str(tmp_path / "lake"), TRANSCRIPT_SCHEMA, num_buckets=4)
    run_incremental(lake, wal, segments_per_batch=1,
                    auto_vacuum_every=2, vacuum_keep_snapshots=3)

    root = str(tmp_path / "lake")
    manifests = glob.glob(os.path.join(root, "manifests", "snapshot-*.json"))
    assert 1 <= len(manifests) <= 4  # keep window (+ at most one post-vacuum commit)
    live = set()
    kept_ids = []
    for m in manifests:
        s = json.load(open(m))
        kept_ids.append(s["snapshot_id"])
        for b in s["buckets"].values():
            live.update(fe["path"] for fe in b["files"])
    # nothing else under data/: every file is a data file a kept snapshot
    # names or its checksum sidecar (no orphaned sidecars, no _SUCCESS
    # markers), and every directory holds one of those files
    allowed = live | {
        os.path.join(os.path.dirname(p), f".{os.path.basename(p)}.crc") for p in live
    }
    files, dirs = set(), set()
    for dirpath, dirnames, filenames in os.walk(os.path.join(root, "data")):
        dirs.update(os.path.relpath(os.path.join(dirpath, d), root) for d in dirnames)
        files.update(os.path.relpath(os.path.join(dirpath, f), root) for f in filenames)
    assert files <= allowed, sorted(files - allowed)[:5]
    live_dirs = {os.path.dirname(p) for p in live}
    live_dirs |= {os.path.dirname(d) for d in live_dirs}
    assert dirs <= live_dirs, sorted(dirs - live_dirs)[:5]
    # state equals the oracle after vacuuming mid-ingest
    assert_states_equal(lake_state_pdf(lake), duckdb_replay_oracle(f"{wal}/*.parquet"))
    # time travel to the oldest kept snapshot still resolves
    past = lake.read(snapshot_id=min(kept_ids))
    assert past.count() > 0


def test_changes_and_time_travel_past_vacuum_fail_loudly(spark, tmp_path):
    """changes(from)/read(snapshot_id=) where the manifest was vacuumed must
    raise SnapshotNotFound with a vacuum-pointing message — never silently
    diff/read against the oldest surviving snapshot (VERDICT r4 item 7)."""
    from trde703_openfoodfacts_etl_spark.sources.lake import SnapshotNotFound

    lake = LakeTable.create(spark, str(tmp_path / "lake"), TRANSCRIPT_SCHEMA, num_buckets=4)
    for i in range(4):
        apply_batch(lake, make_events(spark, [("U", 10 + i, "c1", 0, "user", f"v{i}", None, i)]), i)
    lake.vacuum(keep_snapshots=2)
    with pytest.raises(SnapshotNotFound, match="vacuum"):
        lake.changes(from_snapshot=1)
    with pytest.raises(SnapshotNotFound, match="vacuum"):
        lake.read(snapshot_id=1)
    # inside the keep window still works
    assert lake.changes(from_snapshot=lake.latest_id() - 1).count() >= 0


def test_vacuum_keeping_no_snapshot_raises(spark, tmp_path):
    """keep_snapshots=0 would keep every snapshot (``ids[-0:]`` is the whole
    list) and delete nothing, silently: it raises and names what to pass,
    from vacuum itself and from the incremental driver's upkeep."""
    import os

    from trde703_openfoodfacts_etl_spark.sources.genfeed import generate_segments
    from trde703_openfoodfacts_etl_spark.streaming.pipeline import run_incremental

    lake = LakeTable.create(spark, str(tmp_path / "lake"), TRANSCRIPT_SCHEMA, num_buckets=4)
    for i in range(3):
        apply_batch(lake, make_events(spark, [("U", 10 + i, "c1", 0, "user", f"v{i}", None, i)]), i)
    manifests = sorted(os.listdir(tmp_path / "lake" / "manifests"))
    for keep in (0, -1):
        with pytest.raises(ValueError, match="keep_snapshots=1"):
            lake.vacuum(keep_snapshots=keep)
    assert sorted(os.listdir(tmp_path / "lake" / "manifests")) == manifests

    wal = str(tmp_path / "wal")
    generate_segments(wal, n_convs=10, n_events=200, n_segments=1, seed=6)
    driven = LakeTable.create(spark, str(tmp_path / "driven"), TRANSCRIPT_SCHEMA, num_buckets=4)
    with pytest.raises(ValueError, match="keep_snapshots=1"):
        run_incremental(driven, wal, auto_vacuum_every=1, vacuum_keep_snapshots=0)


@pytest.mark.parametrize("driver", ["incremental", "stream"])
def test_driver_rejects_keeping_no_snapshot_before_first_batch(spark, tmp_path, driver):
    """Both drivers check ``vacuum_keep_snapshots`` before the first batch,
    not at the first auto-vacuum: the lake's head does not move."""
    from trde703_openfoodfacts_etl_spark.schema import CDC_SCHEMA
    from trde703_openfoodfacts_etl_spark.sources.genfeed import generate_segments
    from trde703_openfoodfacts_etl_spark.streaming.pipeline import run_incremental, run_stream

    wal = str(tmp_path / "wal")
    generate_segments(wal, n_convs=10, n_events=200, n_segments=2, seed=6)
    lake = LakeTable.create(spark, str(tmp_path / "lake"), TRANSCRIPT_SCHEMA, num_buckets=4)
    head = lake.latest_id()
    upkeep = dict(auto_vacuum_every=1, vacuum_keep_snapshots=0)
    with pytest.raises(ValueError, match="keep_snapshots=1"):
        if driver == "incremental":
            run_incremental(lake, wal, **upkeep)
        else:
            run_stream(lake, wal, CDC_SCHEMA, str(tmp_path / "ckpt"), **upkeep)
    assert lake.latest_id() == head


_CHILD_WRITER_SRC = """
import sys
from pyspark.sql import SparkSession, functions as F
from trde703_openfoodfacts_etl_spark.schema import TRANSCRIPT_SCHEMA
from trde703_openfoodfacts_etl_spark.sources.genfeed import generate_segments
from trde703_openfoodfacts_etl_spark.sources.lake import LakeTable
from trde703_openfoodfacts_etl_spark.streaming.pipeline import run_incremental

root, wal, sid, prefix, seed = sys.argv[1:6]
spark = (SparkSession.builder.master("local[4]")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false").getOrCreate())
generate_segments(wal, n_convs=60, n_events=4000, n_segments=3, seed=int(seed))
lake = LakeTable(spark, root)
out = run_incremental(
    lake, wal, stream_id=sid, segments_per_batch=1,
    transform=lambda df: df.withColumn(
        "conv_id", F.concat(F.lit(prefix), F.col("conv_id"))),
)
assert len(out) == 3, out
"""


def test_concurrent_writers_process_race(spark, tmp_path):
    """Cross-PROCESS concurrency: two independent driver JVMs (own
    SparkSessions) each run a 3-batch incremental ingest of their own
    stream into the SAME lake directory at the same time. The manifest CAS
    (temp + fsync + os.link — atomic across processes on one filesystem)
    serializes the commits; apply_batch's conflict retry re-reads the head,
    so both streams land exactly once, the final state equals the combined
    per-stream oracles, and the lineage is one unbroken parent chain."""
    import os
    import subprocess
    import sys

    import pandas as pd

    from helpers import assert_states_equal, duckdb_replay_oracle, lake_state_pdf

    root = str(tmp_path / "lake_xproc")
    LakeTable.create(spark, root, TRANSCRIPT_SCHEMA, num_buckets=4)
    env = {**os.environ, "PYTHONPATH": os.getcwd()}
    procs, wals = [], {}
    for sid, prefix, seed in (("sa", "a-", 7), ("sb", "b-", 8)):
        wals[prefix] = str(tmp_path / f"wal_{sid}")
        procs.append(
            subprocess.Popen(
                [sys.executable, "-c", _CHILD_WRITER_SRC,
                 root, wals[prefix], sid, prefix, str(seed)],
                env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            )
        )
    for p in procs:
        out, _ = p.communicate(timeout=540)
        assert p.returncode == 0, out.decode(errors="replace")[-3000:]

    oracle = pd.concat(
        [
            duckdb_replay_oracle(f"{wals[pfx]}/*.parquet").assign(
                conv_id=lambda d, pfx=pfx: pfx + d["conv_id"]
            )
            for pfx in ("a-", "b-")
        ]
    ).sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    lake = LakeTable(spark, root)
    assert_states_equal(lake_state_pdf(lake), oracle)

    # lineage: init + 6 commits in one parent chain; both streams' batch
    # markers and segment watermarks survived the interleaving
    head = lake.snapshot()
    chain = [head["snapshot_id"]]
    while head["parent"] is not None:
        head = lake.snapshot(head["parent"])
        chain.append(head["snapshot_id"])
    assert len(chain) == 7
    assert lake.last_batch_id("sa") == 2 and lake.last_batch_id("sb") == 2
