#!/usr/bin/env python
"""MOR read-amplification operating curve (VERDICT r4 item 2).

``auto_compact_after`` bounds per-bucket delta file depth, but no number
said what a given depth COSTS a reader. This measures it: on a 10M-event
lake (bench scale), build final states whose buckets carry delta depths
0 / 1 / 2 / 6 / 12 / 24 batches of deltas over an otherwise-identical base
(at this 3.9M-row base every depth takes the full-aggregate fallback —
the split's min-base guard is calibrated from the A/B below), then time

- **latest-state scan**: full ``lake.read()`` materialized to the noop sink
  (what any analytics query over current state pays first);
- **single-key lookup**: manifest-pruned one-bucket read + LWW resolve +
  key filter (the point-query path, ``read(buckets=[b])``).

Each depth gets its own lake built from the SAME WAL: compact after batch
(n_batches - d), then apply the remaining d batches as deltas — so every
measured state holds the same 10M events and differs only in pending delta
depth. Medians of --trials runs. The recommended ``auto_compact_after`` —
the deepest depth whose scan stays under 1.5x the depth-0 scan — is
computed from the measured curve and written into the JSON.

A second scenario calibrates the contested-key split's guards
(MOR_SPLIT_MIN_BASE_ROWS et al., sources/lake.py): a small fresh append
(100k events) on a LARGE compacted base (40M events → ~15.5M rows), then
interleaved A/B trials of the same read with the split engaged vs forced
to the full-aggregate fallback — identical state, the only variable is
the resolve strategy. Interleaving cancels box drift.

Run:  python scripts/mor_readamp.py [--events 10000000] [--depths 0 6 12 24]
Writes BENCH/mor_readamp.json.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--events", type=int, default=10_000_000)
    ap.add_argument("--segments", type=int, default=24)
    ap.add_argument("--buckets", type=int, default=32)
    ap.add_argument("--depths", type=int, nargs="+", default=[0, 1, 2, 6, 12, 24])
    ap.add_argument("--trials", type=int, default=3)
    ap.add_argument("--cores", type=int, default=32)
    ap.add_argument("--split-ab-events", type=int, default=40_000_000,
                    help="base size for the split-vs-fallback A/B (0 skips)")
    ap.add_argument("--split-ab-delta", type=int, default=100_000)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from trde703_openfoodfacts_etl_spark import build_session
    from trde703_openfoodfacts_etl_spark.schema import TRANSCRIPT_SCHEMA
    from trde703_openfoodfacts_etl_spark.sources.genfeed import generate_segments_spark
    from trde703_openfoodfacts_etl_spark.sources.lake import (
        LakeTable,
        bucket_expr,
        distinct_files,
    )
    from trde703_openfoodfacts_etl_spark.streaming.pipeline import (
        list_segments,
        run_incremental,
    )

    scratch = os.path.join(REPO, "_scratch", "readamp")
    wal = os.path.join(scratch, "wal")
    spark = build_session(app_name="mor_readamp", cores=args.cores,
                         shuffle_partitions=2 * args.cores)
    if not os.path.exists(os.path.join(wal, "_SUCCESS")):
        shutil.rmtree(wal, ignore_errors=True)
        generate_segments_spark(spark, wal, n_events=args.events,
                                n_convs=max(1000, args.events // 100),
                                n_segments=args.segments)
    n_files = len(list_segments(wal))
    per_batch = max(1, (n_files + args.segments - 1) // args.segments)

    # a mid-popularity key for the point-lookup probe (deterministic)
    probe_key = "conv_00000017"
    probe_bucket = (
        spark.createDataFrame([(probe_key,)], "c string")
        .select(bucket_expr(args.buckets, col="c").alias("b"))
        .first()["b"]
    )

    curve = []
    for depth in args.depths:
        lake_dir = os.path.join(scratch, f"lake_d{depth}")
        shutil.rmtree(lake_dir, ignore_errors=True)
        lake = LakeTable.create(spark, lake_dir, TRANSCRIPT_SCHEMA,
                                num_buckets=args.buckets)
        t0 = time.time()
        n_base = args.segments - depth
        if n_base > 0:
            run_incremental(lake, wal, segments_per_batch=per_batch,
                            max_batches=n_base, mode="mor")
            lake.compact()
        run_incremental(lake, wal, segments_per_batch=per_batch, mode="mor")
        build_sec = time.time() - t0
        pressure = lake.delta_pressure()
        actual_depth = max(pressure.values()) if pressure else 0

        scans, lookups = [], []
        for _ in range(args.trials):
            t0 = time.time()
            lake.read().write.format("noop").mode("overwrite").save()
            scans.append(time.time() - t0)
            t0 = time.time()
            n = (
                lake.read(buckets=[probe_bucket])
                .filter(F.col("conv_id") == probe_key)
                .count()
            )
            lookups.append(time.time() - t0)
        row = {
            "depth_requested": depth,
            "depth_actual_max_files": actual_depth,
            "delta_buckets": len(pressure),
            "build_sec": round(build_sec, 1),
            "scan_sec_median": round(statistics.median(scans), 2),
            "scan_sec_all": [round(s, 2) for s in scans],
            "lookup_sec_median": round(statistics.median(lookups), 3),
            "lookup_sec_all": [round(s, 3) for s in lookups],
            "lookup_rows": n,
        }
        curve.append(row)
        print(json.dumps(row), flush=True)
        shutil.rmtree(lake_dir, ignore_errors=True)

    base = next((r for r in curve if r["depth_requested"] == 0), curve[0])
    nonzero = [r for r in curve if r["depth_requested"] > 0]
    # read-heavy: deepest depth whose scan stays within 1.5x a compacted
    # scan (if the first delta already blows past that — the LWW resolve is
    # a step cost — the answer is 0: compact every batch / use COW)
    rec_read = max(
        (
            r["depth_requested"]
            for r in curve
            if r["scan_sec_median"] <= 1.5 * base["scan_sec_median"]
        ),
        default=0,
    )
    # ingest-heavy: once past the step, allow depth until the climb beyond
    # the first delta depth exceeds 1.5x (marginal file cost, not the step)
    rec_ingest = (
        max(
            (
                r["depth_requested"]
                for r in nonzero
                if r["scan_sec_median"] <= 1.5 * nonzero[0]["scan_sec_median"]
            ),
            default=nonzero[0]["depth_requested"],
        )
        if nonzero
        else 0
    )
    split_ab = None
    if args.split_ab_events:
        from trde703_openfoodfacts_etl_spark.sources import lake as lake_mod

        ab_dir = os.path.join(scratch, "ab")
        wal_b = os.path.join(ab_dir, "wal_base")
        wal_d = os.path.join(ab_dir, "wal_delta")
        n_convs = args.split_ab_events // 100
        if not os.path.exists(os.path.join(wal_b, "_SUCCESS")):
            generate_segments_spark(spark, wal_b, n_events=args.split_ab_events,
                                    n_convs=n_convs, n_segments=8)
        if not os.path.exists(os.path.join(wal_d, "_SUCCESS")):
            generate_segments_spark(spark, wal_d, n_events=args.split_ab_delta,
                                    n_convs=n_convs, n_segments=1)
        ab_lake_dir = os.path.join(ab_dir, "lake")
        shutil.rmtree(ab_lake_dir, ignore_errors=True)
        ab_lake = LakeTable.create(spark, ab_lake_dir, TRANSCRIPT_SCHEMA,
                                   num_buckets=64)
        run_incremental(ab_lake, wal_b, segments_per_batch=100, mode="mor")
        ab_lake.compact()
        run_incremental(ab_lake, wal_d, stream_id="append",
                        segments_per_batch=100, mode="mor")
        snap = ab_lake.snapshot()
        files = [fe for fe, _ in distinct_files(snap).values()]
        drows = sum(int(fe.get("rows") or 0) for fe in files if fe.get("delta"))
        brows = sum(int(fe.get("rows") or 0) for fe in files if not fe.get("delta"))

        def _scan():
            t0 = time.time()
            ab_lake.read().write.format("noop").mode("overwrite").save()
            return time.time() - t0

        defaults = (lake_mod.MOR_SPLIT_MAX_DELTA_ROWS,
                    lake_mod.MOR_SPLIT_MAX_DELTA_FRACTION,
                    lake_mod.MOR_SPLIT_MIN_BASE_ROWS)
        ab = {"split": [], "fallback": []}
        _scan()  # warmup (default guards)
        lake_mod.MOR_SPLIT_MAX_DELTA_ROWS = 0
        _scan()  # warmup fallback
        for _ in range(5):
            (lake_mod.MOR_SPLIT_MAX_DELTA_ROWS,
             lake_mod.MOR_SPLIT_MAX_DELTA_FRACTION,
             lake_mod.MOR_SPLIT_MIN_BASE_ROWS) = defaults
            ab["split"].append(round(_scan(), 2))
            lake_mod.MOR_SPLIT_MAX_DELTA_ROWS = 0
            ab["fallback"].append(round(_scan(), 2))
        (lake_mod.MOR_SPLIT_MAX_DELTA_ROWS,
         lake_mod.MOR_SPLIT_MAX_DELTA_FRACTION,
         lake_mod.MOR_SPLIT_MIN_BASE_ROWS) = defaults
        split_ab = {
            "base_events": args.split_ab_events,
            "delta_events": args.split_ab_delta,
            "base_rows": brows,
            "delta_rows": drows,
            "contested_frac": round(drows / max(brows, 1), 4),
            "scan_sec": ab,
            "scan_sec_median": {k: statistics.median(v) for k, v in ab.items()},
            "note": "interleaved trials on the identical state; 'fallback' "
                    "forces the full-aggregate resolve by zeroing the "
                    "broadcast bound",
        }
        print(json.dumps(split_ab), flush=True)
        shutil.rmtree(ab_dir, ignore_errors=True)

    out = {
        "events": args.events,
        "buckets": args.buckets,
        "trials": args.trials,
        "split_ab": split_ab,
        "curve": curve,
        "scan_amp_vs_depth0": {
            str(r["depth_requested"]): round(
                r["scan_sec_median"] / base["scan_sec_median"], 2
            )
            for r in curve
        },
        "lookup_amp_vs_depth0": {
            str(r["depth_requested"]): round(
                r["lookup_sec_median"] / base["lookup_sec_median"], 2
            )
            for r in curve
        },
        "recommended_auto_compact_after_read_heavy": rec_read,
        "recommended_auto_compact_after_ingest_heavy": rec_ingest,
        "criteria": {
            "read_heavy": "deepest depth with median scan <= 1.5x depth-0 scan",
            "ingest_heavy": "deepest depth with median scan <= 1.5x the first "
                            "nonzero depth's scan (step cost of the read-time "
                            "LWW resolve excluded, marginal file cost bounded)",
        },
    }
    with open(os.path.join(REPO, "BENCH", "mor_readamp.json"), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({k: v for k, v in out.items() if k != "curve"}))
    shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    main()
