"""Spark event-log parser: stage and task metrics per job group.

The benchmark runs every traced span that can start Spark jobs under its
own job group and writes an uncompressed, single-file event log. Each
stage carries the job group it was submitted under in its properties, so
every finished task can be charged to a span. Times are seconds, sizes
bytes.
"""

from __future__ import annotations

import json

GROUP = "spark.jobGroup.id"

#: metric name → reader of one SparkListenerTaskEnd "Task Metrics" dict
TASK_METRICS = {
    "executor_run_s": lambda m: m.get("Executor Run Time", 0) / 1e3,
    "executor_cpu_s": lambda m: m.get("Executor CPU Time", 0) / 1e9,
    "gc_s": lambda m: m.get("JVM GC Time", 0) / 1e3,
    "shuffle_read_bytes": lambda m: (
        m.get("Shuffle Read Metrics", {}).get("Remote Bytes Read", 0)
        + m.get("Shuffle Read Metrics", {}).get("Local Bytes Read", 0)
    ),
    "shuffle_write_bytes": lambda m: (
        m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
    ),
    "spill_bytes": lambda m: m.get("Disk Bytes Spilled", 0),
    "input_records": lambda m: m.get("Input Metrics", {}).get("Records Read", 0),
}
COUNTS = ("jobs", "stages", "tasks")


def empty() -> dict[str, float]:
    return {k: 0 for k in COUNTS} | {k: 0.0 for k in TASK_METRICS}


def parse(lines) -> dict[str | None, dict[str, float]]:
    """Job group → {jobs, stages, tasks, <TASK_METRICS>} from event-log
    lines. Work outside any job group is keyed ``None``. Stages that were
    skipped (their output reused) never complete and are not counted."""
    out: dict[str | None, dict[str, float]] = {}
    stage_group: dict[int, str | None] = {}

    def acc(group):
        return out.setdefault(group, empty())

    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get(GROUP)
            acc(group)["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            stage_group[sid] = (ev.get("Properties") or {}).get(GROUP)
        elif kind == "SparkListenerStageCompleted":
            acc(stage_group.get(ev["Stage Info"]["Stage ID"]))["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            rec = acc(stage_group.get(ev["Stage ID"]))
            rec["tasks"] += 1
            m = ev.get("Task Metrics") or {}
            for name, read in TASK_METRICS.items():
                rec[name] += read(m)
    return out


def parse_file(path: str) -> dict[str | None, dict[str, float]]:
    with open(path) as f:
        return parse(f)


def total(per_group: dict, groups) -> dict[str, float]:
    """Sum of the records of ``groups`` (missing groups count as zero)."""
    out = empty()
    for g in groups:
        rec = per_group.get(g)
        if rec:
            for k, v in rec.items():
                out[k] += v
    return out
