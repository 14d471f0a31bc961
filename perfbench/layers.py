"""Per-layer metrics: names, units, and their computation from spans.

Every value is per measured pass (summed over the traced passes of a run,
divided by their number), so runs with different pass counts compare. A
layer a workload does not exercise reads 0.
"""

from __future__ import annotations

from .eventlog import COUNTS, TASK_METRICS
from .spans import Span, inclusive_jobs, self_times

PHASES = ("plan", "a2_skinny", "a3_write", "delta_write", "commit")

#: per-layer metric → unit, in report order
UNITS: dict[str, str] = {
    "pipeline.list_segments_s": "s",
    "pipeline.read_batch_s": "s",
    "pipeline.read_batch_calls": "count",
    "pipeline.self_s": "s",
    "merge.apply_batch_s": "s",
    "merge.apply_batch_self_s": "s",
    "merge.jobs_per_batch": "count",
    **{f"merge.phase.{p}_s": "s" for p in PHASES},
    "merge.rows_written": "count",
    "merge.rewrite_ratio": "ratio",
    "lake.write_bucket_files_s": "s",
    "lake.files_written": "count",
    "lake.bytes_written": "bytes",
    "lake.commit_s": "s",
    "lake.commit_calls": "count",
    "lake.snapshot_calls": "count",
    "lake.latest_id_calls": "count",
    "lake.read_s": "s",
    "lake.compact_s": "s",
    "lake.compact_jobs": "count",
    "lake.vacuum_s": "s",
    "lake.vacuum_files_removed": "count",
    "lake.self_s": "s",
    "lake.write_amp": "ratio",
    "fileio.list_names_calls": "count",
    "fileio.read_json_calls": "count",
    "fileio.parquet_stats_calls": "count",
    "fileio.calls": "count",
    "fileio.s": "s",
    "genfeed.generate_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.exec_s": "s",
    "plans.exec_jobs": "count",
    **{f"spark.{k}": "count" for k in COUNTS},
    **{f"spark.{k}": ("s" if k.endswith("_s") else
                      "bytes" if k.endswith("_bytes") else "count")
       for k in TASK_METRICS},
    "proc.peak_rss_mb": "MB",
    "trace.pass_s": "s",
    "trace.untraced_pass_s": "s",
    "trace.overhead_s": "s",
    "trace.coverage_min": "ratio",
}

#: span name → layer metric: (duration sum, call count, inclusive-jobs sum)
_SPAN_METRICS = {
    "pipeline.list_segments": ("pipeline.list_segments_s", None, None),
    "pipeline.read_batch": ("pipeline.read_batch_s", "pipeline.read_batch_calls", None),
    "merge.apply_batch": ("merge.apply_batch_s", None, None),
    "lake.write_bucket_files": ("lake.write_bucket_files_s", None, None),
    "lake.commit": ("lake.commit_s", "lake.commit_calls", None),
    "lake.snapshot": (None, "lake.snapshot_calls", None),
    "lake.latest_id": (None, "lake.latest_id_calls", None),
    "lake.read_state": ("lake.read_s", None, None),
    "lake.compact": ("lake.compact_s", None, "lake.compact_jobs"),
    "lake.vacuum": ("lake.vacuum_s", None, None),
    "fileio.list_names": (None, "fileio.list_names_calls", None),
    "fileio.read_json": (None, "fileio.read_json_calls", None),
    "fileio.parquet_stats": (None, "fileio.parquet_stats_calls", None),
    "plans.build": ("plans.build_s", None, "plans.build_jobs"),
    "plans.exec": ("plans.exec_s", None, "plans.exec_jobs"),
}


def from_spans(spans: list[Span]) -> dict[str, float]:
    """Span-derived layer metrics of one pass; the rest stay 0."""
    out = {k: 0.0 for k in UNITS}
    selfs = self_times(spans)
    jobs = inclusive_jobs(spans)
    n_apply = apply_jobs = 0
    for sp in spans:
        if sp.end is None:
            continue
        dur_k, calls_k, jobs_k = _SPAN_METRICS.get(sp.name, (None, None, None))
        if dur_k:
            out[dur_k] += sp.dur
        if calls_k:
            out[calls_k] += 1
        if jobs_k:
            out[jobs_k] += jobs[sp.id]
        if sp.layer in ("pipeline", "lake"):
            out[f"{sp.layer}.self_s"] += selfs[sp.id]
        if sp.layer == "fileio":
            out["fileio.s"] += sp.dur
            out["fileio.calls"] += 1
        if sp.name == "merge.apply_batch":
            out["merge.apply_batch_self_s"] += selfs[sp.id]
            n_apply += 1
            apply_jobs += jobs[sp.id]
    out["merge.jobs_per_batch"] = apply_jobs / n_apply if n_apply else 0.0
    return out


def coverage(spans: list[Span], parents: tuple[str, ...]) -> list[float]:
    """For each span named in ``parents``: the share of its wall time its
    direct children cover."""
    kids: dict[str, list[Span]] = {}
    for sp in spans:
        if sp.parent is not None:
            kids.setdefault(sp.parent, []).append(sp)
    out = []
    for sp in spans:
        if sp.name in parents and sp.end is not None and sp.dur > 0:
            out.append(sum(k.dur for k in kids.get(sp.id, [])) / sp.dur)
    return out
