"""Lake/schema introspection CLI — the engine's analog of the reference's
schema exploration tool (etl/explore_schema.py), aimed at the lake manifest
instead of a raw CSV: schema history with evolution diffs, snapshot lineage
with per-commit metrics, bucket file/row/tombstone stats, stream positions
and watermarks. Reads manifests only — no Spark session, instant on a
100 TB table.

  python -m trde703_openfoodfacts_etl_spark.inspect_cli --lake <dir> [--json]
"""

from __future__ import annotations

import argparse
import json


def inspect_lake(root: str) -> dict:
    """Manifest-only structural report of a lake table."""
    from .sources.lake import LakeTable, bucket_bytes, distinct_files
    from .schema import schema_from_json

    lake = LakeTable(None, root)
    chain = []
    snap = lake.snapshot()
    sid = snap["snapshot_id"]
    while True:
        s = lake.snapshot(sid)
        chain.append(s)
        if s["parent"] is None:
            break
        sid = s["parent"]
    chain.reverse()
    latest = chain[-1]

    schemas = {}
    for schema_id, sj in sorted(latest["schemas"].items(), key=lambda kv: int(kv[0])):
        st = schema_from_json(sj)
        schemas[schema_id] = [f"{f.name}: {f.dataType.simpleString()}" for f in st.fields]

    # per bucket: the files it lists (a shared merge-on-read delta file is
    # listed by every bucket its batch touched) and its share of their bytes
    shares = bucket_bytes(latest)
    buckets = {
        b: {
            "files": len(info["files"]),
            "rows": info.get("rows"),
            "tombstones": info.get("tombstones", 0),
            "hwm_lsn": info.get("hwm_lsn"),
            "delta": bool(info.get("delta")),
            "bytes": round(shares[int(b)]),
        }
        for b, info in sorted(latest["buckets"].items(), key=lambda kv: int(kv[0]))
    }
    files = distinct_files(latest)

    return {
        "root": root,
        "snapshots": len(chain),
        "current_snapshot": latest["snapshot_id"],
        "num_buckets": latest["num_buckets"],
        "current_schema_id": latest["schema_id"],
        "schemas": schemas,
        "evolution": latest.get("evolution", []),
        "streams": latest.get("streams", {}),
        "stream_hwm": latest.get("stream_hwm", {}),
        "watermark_ts": latest.get("watermark_ts"),
        "buckets": buckets,
        "files": len(files),
        "bytes": sum(fe["bytes"] for fe, _ in files.values()),
        "lineage": [
            {
                "snapshot_id": s["snapshot_id"],
                "parent": s["parent"],
                "created_unix": s.get("created_unix"),
                "metrics": s.get("metrics", {}),
            }
            for s in chain
        ],
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--lake", required=True)
    ap.add_argument("--json", action="store_true", help="machine-readable output")
    args = ap.parse_args()
    rpt = inspect_lake(args.lake)
    if args.json:
        print(json.dumps(rpt, indent=2))
        return
    print(f"lake {rpt['root']}: {rpt['snapshots']} snapshots, "
          f"head={rpt['current_snapshot']}, {rpt['num_buckets']} buckets")
    print(f"schema v{rpt['current_schema_id']}:")
    for line in rpt["schemas"][str(rpt["current_schema_id"])]:
        print(f"  {line}")
    for ev in rpt["evolution"]:
        print(f"  evolved -> v{ev['schema_id']}: added={ev.get('added')} "
              f"widened={ev.get('widened')}")
    print(f"streams: {rpt['streams']}  hwm: {rpt['stream_hwm']}  "
          f"watermark_ts: {rpt['watermark_ts']}")
    live = sum(b["rows"] or 0 for b in rpt["buckets"].values())
    dead = sum(b["tombstones"] for b in rpt["buckets"].values())
    print(f"data: {live} live rows, {dead} tombstones, {rpt['files']} files, "
          f"{rpt['bytes']} bytes")


if __name__ == "__main__":
    main()
