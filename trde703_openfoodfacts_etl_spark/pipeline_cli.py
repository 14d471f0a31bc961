"""End-to-end pipeline CLI — the engine's analog of the reference's
run-pipeline.sh (generate → replay → quality report → analytics), as one
resumable command.

  python -m trde703_openfoodfacts_etl_spark.pipeline_cli \
      --workdir /root/repo/_scratch/pipeline --events 100000 --convs 2000

Stages (each idempotent / resumable):
  1. feed      — seeded WAL segments (skipped if present)
  2. replay    — incremental merge into the lake (resumes from manifest)
  3. quality   — table-level quality report JSON (reference
                 etl/quality_checks.py analog)
  4. analytics — the 7 transcript analytics, printed + saved as JSON
"""

from __future__ import annotations

import argparse
import json
import os


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--events", type=int, default=100_000)
    ap.add_argument("--convs", type=int, default=2_000)
    ap.add_argument("--segments", type=int, default=8)
    ap.add_argument("--buckets", type=int, default=16)
    ap.add_argument("--rebucket-to", type=int, default=None,
                    help="after replay, evolve the table's bucket count "
                         "(committed snapshot op; see LakeTable.rebucket)")
    ap.add_argument("--cores", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    ap.add_argument("--normalize", action="store_true")
    args = ap.parse_args()

    from . import build_session
    from .plans import transcript_analytics as ta
    from .quality import table_quality_report, write_report
    from .schema import TRANSCRIPT_SCHEMA
    from .sources.genfeed import generate_segments
    from .sources.lake import LakeTable
    from .streaming.pipeline import run_incremental

    spark = build_session(app_name="pipeline", cores=args.cores)
    wal = os.path.join(args.workdir, "wal")
    lake_dir = os.path.join(args.workdir, "lake")
    reports = os.path.join(args.workdir, "reports")
    os.makedirs(reports, exist_ok=True)

    # 1. feed
    if not os.path.isdir(wal) or not os.listdir(wal):
        generate_segments(wal, n_convs=args.convs, n_events=args.events,
                          n_segments=args.segments)
        print(f"[feed] generated ~{args.events} events (requested; per-segment rounding may add a few) in {wal}")
    else:
        print(f"[feed] reusing {wal}")

    # 2. replay
    schema = TRANSCRIPT_SCHEMA
    transform = None
    if args.normalize:
        from pyspark.sql import types as T

        from .functions.normalize import with_normalized_text

        transform = with_normalized_text
        schema = T.StructType(
            list(TRANSCRIPT_SCHEMA.fields)
            + [T.StructField("text_norm", T.StringType(), True)]
        )
    lake = LakeTable.create(spark, lake_dir, schema, num_buckets=args.buckets)
    metrics = run_incremental(lake, wal, transform=transform)
    done = sum(m.get("events_in", 0) for m in metrics)
    print(f"[replay] applied {len(metrics)} batches / {done} events "
          f"(resumed past {lake.last_batch_id('default') + 1 - len(metrics)} committed)")

    if args.rebucket_to is not None:
        import time as _time

        # compare against the head BEFORE calling: a resumed run's head may
        # itself be a prior rebucket commit whose metrics entry would make a
        # no-op look like a fresh rewrite
        if int(lake.snapshot()["num_buckets"]) == int(args.rebucket_to):
            print(f"[rebucket] already at {args.rebucket_to} buckets; no-op")
        else:
            t0 = _time.time()
            snap = lake.rebucket(args.rebucket_to)
            rb = snap["metrics"]["rebucket"]
            print(f"[rebucket] {rb['from_buckets']} -> {rb['to_buckets']} buckets "
                  f"({rb['rows']} rows rewritten in {_time.time() - t0:.1f}s)")

    # 3. quality
    rpt = table_quality_report(lake.read(), snapshot_id=lake.latest_id())
    write_report(rpt, os.path.join(reports, "quality_report.json"))
    print(f"[quality] rows={rpt['rows']} uniqueness={rpt['uniqueness']['pct_unique']}% "
          f"completeness={rpt['completeness']['score']} passed={rpt['passed']}")

    # 4. analytics
    state = lake.read().cache()
    out = {}
    for fn in ta.ALL:
        rows = [r.asDict(recursive=True) for r in fn(state).limit(20).collect()]
        out[fn.__name__] = rows
        print(f"[analytics] {fn.__name__}: {len(rows)} rows")
    with open(os.path.join(reports, "analytics.json"), "w") as f:
        json.dump(out, f, indent=2, default=str)
    spark.stop()


if __name__ == "__main__":
    main()
