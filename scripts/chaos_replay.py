#!/usr/bin/env python
"""Seeded fault-injection campaign over the commit protocol (VERDICT r4
item 3).

The point crash tests (test_idempotence_resume, test_mor) kill at CHOSEN
boundaries; this campaign RANDOMIZES them: N seeded trials, each replaying
the same WAL through the full maintained loop (COW or MOR + auto-compact +
vacuum + optional mid-stream rebucket) with one kill injected at a randomly
drawn phase boundary:

  pre_commit        — data files written, manifest CAS never ran
  mid_manifest      — commit temp file written + fsync'd, link never ran
                      (leftover snapshot-*.json.tmp.* junk on disk)
  post_commit       — commit durable, driver died before the next batch
  pre_write         — batch planned, no data files yet
  mid_vacuum        — vacuum died halfway through its removal list
  during_compact    — compaction's rewrite done, its commit never ran
  during_rebucket   — rebucket's rewrite done, its commit never ran

After the kill the trial RESUMES with a fresh LakeTable handle (new driver,
same dirs): drain the WAL, finish maintenance, compact, and assert the
4-component state signature equals the DuckDB LWW oracle — every trial,
every seed. Kills are injected by wrapping engine entry points at the
script level (production code has no test hooks); the wrapped call count
that dies is drawn per-trial from the seed, so the same site fires at
different batches/epochs across trials.

Run:  python scripts/chaos_replay.py [--trials 60] [--seed 5] [--events 30000]
Writes BENCH/chaos_replay.json; exits nonzero if ANY trial fails to
converge.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


class ChaosKill(BaseException):
    """Simulated process death. BaseException so no engine except-Exception
    handler can swallow it — like a real SIGKILL, nothing downstream runs."""


class StreamChaosKill(Exception):
    """Kill form for the --driver stream campaign. A BaseException raised
    inside the py4j foreachBatch callback never sends a response to the JVM
    (py4j's callback loop only handles Exception), so the streaming query
    waits forever — measured, not theorized. An Exception-based kill fails
    the epoch and the query instead: the fault model is "query aborted
    mid-epoch", and the checkpoint restart must redeliver that epoch. TRUE
    process death for the streaming path (SIGKILL between lake commit and
    streaming commit log) is covered by scripts/stream_resume.py."""


SITES = [
    "pre_commit",
    "mid_manifest",
    "post_commit",
    "pre_write",
    "mid_vacuum",
    "during_compact",
    "during_rebucket",
]


def install_chaos(lake_cls, io_obj, plan: dict, kill_exc=ChaosKill):
    """Wrap engine entry points so that the plan's (site, nth-call) dies.
    Returns an uninstall function restoring the originals."""
    counters = {s: 0 for s in SITES}

    def should_die(site: str) -> bool:
        counters[site] += 1
        return plan.get(site) == counters[site]

    orig_commit = lake_cls.commit
    orig_write_snap = lake_cls._write_snapshot
    orig_wbf = lake_cls.write_bucket_files
    orig_compact = lake_cls.compact
    orig_rebucket = lake_cls.rebucket
    orig_remove = io_obj.remove
    orig_remove_data_file = io_obj.remove_data_file

    def commit(self, *a, **kw):
        if should_die("pre_commit"):
            raise kill_exc("pre_commit")
        out = orig_commit(self, *a, **kw)
        if should_die("post_commit"):
            raise kill_exc("post_commit")
        return out

    def write_snapshot(self, snap):
        if should_die("mid_manifest"):
            # the realistic partial state: temp written + fsync'd, link
            # never happened, temp never cleaned up
            path = self._snap_path(snap["snapshot_id"])
            tmp = path + f".tmp.{os.getpid()}.chaos"
            with open(tmp, "w") as f:
                json.dump(snap, f)
                f.flush()
                os.fsync(f.fileno())
            raise kill_exc("mid_manifest")
        return orig_write_snap(self, snap)

    def write_bucket_files(self, *a, **kw):
        if should_die("pre_write"):
            raise kill_exc("pre_write")
        return orig_wbf(self, *a, **kw)

    def compact(self, *a, **kw):
        if should_die("during_compact"):
            # rewrite completes, its commit never runs: emulate by doing the
            # write through the real path but dying at the commit inside —
            # simplest faithful form: run the real compact with commit
            # replaced by a killer for this one call
            lake_cls.commit = _killer_commit
            try:
                orig_compact(self, *a, **kw)
            finally:
                lake_cls.commit = commit
            # compact returned without committing (nothing to fold): treat
            # as a plain kill at the boundary
            raise kill_exc("during_compact(noop)")
        return orig_compact(self, *a, **kw)

    def rebucket(self, *a, **kw):
        if should_die("during_rebucket"):
            lake_cls._write_snapshot = _killer_write_snapshot
            try:
                orig_rebucket(self, *a, **kw)
            finally:
                lake_cls._write_snapshot = write_snapshot
            raise kill_exc("during_rebucket(noop)")
        return orig_rebucket(self, *a, **kw)

    def _killer_commit(self, *a, **kw):
        raise kill_exc("during_compact(commit)")

    def _killer_write_snapshot(self, snap):
        raise kill_exc("during_rebucket(commit)")

    def remove(path):
        if should_die("mid_vacuum"):
            raise kill_exc("mid_vacuum")
        return orig_remove(path)

    def remove_data_file(path, root):
        if should_die("mid_vacuum"):
            raise kill_exc("mid_vacuum")
        return orig_remove_data_file(path, root)

    lake_cls.commit = commit
    lake_cls._write_snapshot = write_snapshot
    lake_cls.write_bucket_files = write_bucket_files
    lake_cls.compact = compact
    lake_cls.rebucket = rebucket
    io_obj.remove = remove
    io_obj.remove_data_file = remove_data_file

    def uninstall():
        lake_cls.commit = orig_commit
        lake_cls._write_snapshot = orig_write_snap
        lake_cls.write_bucket_files = orig_wbf
        lake_cls.compact = orig_compact
        lake_cls.rebucket = orig_rebucket
        io_obj.remove = orig_remove
        io_obj.remove_data_file = orig_remove_data_file

    return uninstall


from siglib import engine_signature  # noqa: E402 — shared with the other campaigns


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--trials", type=int, default=60)
    ap.add_argument("--seed", type=int, default=5)
    ap.add_argument("--events", type=int, default=30_000)
    ap.add_argument("--convs", type=int, default=400)
    ap.add_argument("--segments", type=int, default=6)
    ap.add_argument(
        "--driver", choices=["incremental", "stream"], default="incremental",
        help="ingest loop under chaos: the binlog microbatcher, or the "
        "Structured Streaming driver (foreachBatch maintenance + Spark "
        "checkpoint resume); stream writes BENCH/chaos_replay_stream.json",
    )
    args = ap.parse_args()

    from trde703_openfoodfacts_etl_spark import build_session
    from trde703_openfoodfacts_etl_spark.schema import TRANSCRIPT_SCHEMA
    from trde703_openfoodfacts_etl_spark.sources.fileio import LocalManifestIO
    from trde703_openfoodfacts_etl_spark.sources.genfeed import generate_segments
    from trde703_openfoodfacts_etl_spark.sources.lake import LakeTable
    from trde703_openfoodfacts_etl_spark.streaming.pipeline import run_incremental

    sys.path.insert(0, os.path.join(REPO, "tests"))
    from helpers import duckdb_replay_oracle

    scratch = os.path.join(REPO, "_scratch", "chaos")
    shutil.rmtree(scratch, ignore_errors=True)
    wal = os.path.join(scratch, "wal")
    generate_segments(wal, n_convs=args.convs, n_events=args.events,
                      n_segments=args.segments, seed=args.seed)
    oracle = duckdb_replay_oracle(f"{wal}/*.parquet")
    oracle_sig = [
        len(oracle),
        oracle["conv_id"].nunique(),
        int(oracle["text"].str.len().fillna(0).sum()),
        int(oracle["turn_idx"].sum()),
    ]
    print("oracle signature:", oracle_sig, flush=True)

    spark = build_session(app_name="chaos", cores=8, shuffle_partitions=8)
    rng = random.Random(args.seed)
    results = []
    t_campaign = time.time()
    for trial in range(args.trials):
        t0 = time.time()
        site = rng.choice(SITES)
        # MOR has more moving parts; compaction only runs inline under MOR
        mode = "mor" if site == "during_compact" else rng.choice(["cow", "mor", "mor"])
        # which occurrence of the site dies (sites fire multiple times per
        # run: 6 batches + compactions + vacuums); ranges sized so the kill
        # actually fires for sites with few occurrences
        nth = rng.randint(
            1, {"during_compact": 2, "during_rebucket": 1, "mid_vacuum": 6}.get(site, 4)
        )
        do_rebucket = site == "during_rebucket" or rng.random() < 0.3
        rebucket_to = rng.choice([2, 8, 16])
        lake_dir = os.path.join(scratch, f"lake_{trial}")
        io = LocalManifestIO()
        lake = LakeTable.create(spark, lake_dir, TRANSCRIPT_SCHEMA,
                                num_buckets=4, io=io)
        kw = dict(
            segments_per_batch=1,
            mode=mode,
            auto_compact_after=2 if mode == "mor" else None,
            auto_vacuum_every=2,
            vacuum_keep_snapshots=3,
        )
        uninstall = install_chaos(
            LakeTable, io, {site: nth},
            kill_exc=StreamChaosKill if args.driver == "stream" else ChaosKill,
        )
        killed_at = None
        if args.driver == "stream":
            # Structured Streaming form: maintenance runs inside
            # foreachBatch; the rebucket site fires through the auto policy
            # (maybe_rebucket → rebucket), and resume is a checkpoint
            # restart that redelivers the killed epoch (the lake's batch-id
            # marker must no-op any half-delivered one).
            from trde703_openfoodfacts_etl_spark.schema import CDC_SCHEMA
            from trde703_openfoodfacts_etl_spark.streaming.pipeline import run_stream

            ckpt = os.path.join(scratch, f"ckpt_{trial}")
            skw = dict(
                mode=mode,
                max_files_per_trigger=1,
                auto_compact_after=2 if mode == "mor" else None,
                auto_vacuum_every=2,
                vacuum_keep_snapshots=3,
                auto_rebucket_target_bytes=50_000 if do_rebucket else None,
            )
            try:
                run_stream(lake, wal, CDC_SCHEMA, ckpt, **skw)
            except StreamChaosKill as e:
                killed_at = str(e)
            except Exception as e:
                # a StreamChaosKill raised inside the foreachBatch callback
                # surfaces as a StreamingQueryException from the JVM with
                # the Python traceback embedded in its message
                if "ChaosKill" not in str(e) and site not in str(e):
                    raise
                killed_at = f"{site}(stream)"
            finally:
                uninstall()

            # resume: new driver + checkpoint restart, no chaos; the auto
            # policies (state-derived) re-evaluate whatever died mid-flight
            lake2 = LakeTable.create(spark, lake_dir, TRANSCRIPT_SCHEMA,
                                     num_buckets=4, io=LocalManifestIO())
            run_stream(lake2, wal, CDC_SCHEMA, ckpt, **skw)
            lake2.compact()
        else:
            try:
                run_incremental(lake, wal, max_batches=3, **kw)
                if do_rebucket:
                    lake.rebucket(rebucket_to)
                run_incremental(lake, wal, **kw)
            except ChaosKill as e:
                killed_at = str(e)
            finally:
                uninstall()

            # resume: new driver, same dirs, no chaos
            lake2 = LakeTable.create(spark, lake_dir, TRANSCRIPT_SCHEMA,
                                     num_buckets=4, io=LocalManifestIO())
            if do_rebucket and lake2.snapshot()["num_buckets"] != rebucket_to:
                lake2.rebucket(rebucket_to)  # operator re-issues the op
            run_incremental(lake2, wal, **kw)
            lake2.compact()
        sig = engine_signature(lake2)
        ok = sig == oracle_sig
        results.append(
            {
                "trial": trial,
                "mode": mode,
                "site": site,
                "nth": nth,
                "rebucket": rebucket_to if do_rebucket else None,
                "killed_at": killed_at,
                "converged": ok,
                "sec": round(time.time() - t0, 1),
            }
        )
        print(
            f"trial {trial:02d} mode={mode} kill={site}#{nth} "
            f"fired={'yes' if killed_at else 'NO'} "
            f"rebucket={rebucket_to if do_rebucket else '-'} "
            f"converged={ok} ({results[-1]['sec']}s)",
            flush=True,
        )
        shutil.rmtree(lake_dir, ignore_errors=True)
        shutil.rmtree(os.path.join(scratch, f"ckpt_{trial}"), ignore_errors=True)

    fired = sum(1 for r in results if r["killed_at"])
    converged = sum(1 for r in results if r["converged"])
    by_site = {}
    for r in results:
        if r["killed_at"]:
            by_site[r["site"]] = by_site.get(r["site"], 0) + 1
    out = {
        "trials": args.trials,
        "driver": args.driver,
        "seed": args.seed,
        "events": args.events,
        "fired": fired,
        "converged": converged,
        "all_converged": converged == args.trials,
        "kills_by_site": by_site,
        "oracle_signature": oracle_sig,
        "campaign_sec": round(time.time() - t_campaign, 1),
        "results": results,
    }
    name = "chaos_replay_stream.json" if args.driver == "stream" else "chaos_replay.json"
    path = os.path.join(REPO, "BENCH", name)
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({k: v for k, v in out.items() if k != "results"}))
    shutil.rmtree(scratch, ignore_errors=True)
    sys.exit(0 if out["all_converged"] else 1)


if __name__ == "__main__":
    main()
