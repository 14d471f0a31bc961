"""Quality report: per-batch and table-level gates, one aggregation pass.

Mirrors the reference's machine-readable JSON report
(etl/utils/quality.py:90-113, etl/quality_checks.py:143-205) — completeness /
uniqueness / validity / anomaly rates — but computes every metric in a single
``agg`` over conditional sums instead of the reference's ~20 separate
``count()`` actions that each recompute full lineage (SURVEY.md §2.4 A1).

Gate bounds are module constants, as the reference keeps its
QUALITY_THRESHOLDS in config (etl/config.py:47-57), with its alert levels
(docs/quality_rules.md:346-351): each gate evaluates to ok / warn / fail,
``passed`` is derived from the gates, and the report carries the bound next
to the observed value so an operator can see *how close* a metric is to
tripping. The bounds are read at call time.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

#: gate bounds, fractions in [0,1]
MIN_COMPLETENESS = 0.70
MIN_UNIQUENESS = 1.0  # fraction of keys that must be unique
MAX_INVALID_ROLE_RATE = 0.05
MAX_BLANK_TEXT_RATE = 0.30
#: a passing metric within this margin of its bound reports 'warn', not 'ok'
WARN_MARGIN = 0.05


def _gate(name: str, value: float, bound: float, direction: str) -> dict:
    """direction 'min': value must be >= bound; 'max': value must be <= bound.
    All metrics are fractions in [0,1]; the warn band is clamped to the
    metric's ideal (1.0 for min, 0.0 for max) so a perfect value never
    warns even when the bound sits at the domain edge."""
    if direction == "min":
        ok = value >= bound
        near = ok and value < min(bound + WARN_MARGIN, 1.0)
    else:
        ok = value <= bound
        near = ok and value > max(bound - WARN_MARGIN, 0.0)
    level = "fail" if not ok else ("warn" if near else "ok")
    return {"gate": name, "value": round(value, 6), "bound": bound,
            "direction": direction, "level": level}


def table_quality_report(df, snapshot_id: int | None = None) -> dict:
    """Table-level gates over the live lake state (transcript schema)."""
    blank = F.col("text").isNull() | (F.trim(F.col("text")) == "")
    row = df.select(
        F.count(F.lit(1)).alias("rows"),
        F.countDistinct("conv_id").alias("conversations"),
        F.sum(F.when(blank, 1).otherwise(0)).alias("blank_text"),
        F.sum(F.when(F.col("role").isNull(), 1).otherwise(0)).alias("null_role"),
        F.sum(
            F.when(F.col("role").isin("user", "assistant", "system", "tool"), 0).otherwise(1)
        ).alias("invalid_role"),
        F.sum(F.when(F.col("ts").isNull(), 1).otherwise(0)).alias("null_ts"),
        F.avg(F.length("text")).alias("avg_text_len"),
        F.max("turn_idx").alias("max_turn_idx"),
    ).first()
    rows = int(row["rows"]) or 0
    # uniqueness of the natural key — the reference's 100%-uniqueness gate
    # (docs/quality_rules.md:132-145); one extra aggregate, exact.
    dup = df.groupBy("conv_id", "turn_idx").count().filter(F.col("count") > 1).count()
    completeness = (
        0.0 if rows == 0
        else 1.0 - (int(row["blank_text"] or 0) + int(row["null_role"] or 0)) / (2 * rows)
    )
    uniqueness = 1.0 if rows == 0 else 1.0 - dup / rows
    invalid_rate = 0.0 if rows == 0 else int(row["invalid_role"] or 0) / rows
    blank_rate = 0.0 if rows == 0 else int(row["blank_text"] or 0) / rows
    gates = [
        _gate("completeness", completeness, MIN_COMPLETENESS, "min"),
        _gate("uniqueness", uniqueness, MIN_UNIQUENESS, "min"),
        _gate("invalid_role_rate", invalid_rate, MAX_INVALID_ROLE_RATE, "max"),
        _gate("blank_text_rate", blank_rate, MAX_BLANK_TEXT_RATE, "max"),
    ]
    levels = [g["level"] for g in gates]
    rpt = {
        "snapshot_id": snapshot_id,
        "rows": rows,
        "conversations": int(row["conversations"] or 0),
        "uniqueness": {
            "duplicate_keys": int(dup),
            "pct_unique": 100.0 if rows == 0 else round(100.0 * uniqueness, 4),
        },
        "completeness": {
            "blank_text": int(row["blank_text"] or 0),
            "null_role": int(row["null_role"] or 0),
            "null_ts": int(row["null_ts"] or 0),
            "score": round(completeness, 4),
        },
        "validity": {"invalid_role": int(row["invalid_role"] or 0)},
        "stats": {
            "avg_text_len": float(row["avg_text_len"] or 0.0),
            "max_turn_idx": int(row["max_turn_idx"] or 0),
        },
        "thresholds": {
            "min_completeness": MIN_COMPLETENESS,
            "min_uniqueness": MIN_UNIQUENESS,
            "max_invalid_role_rate": MAX_INVALID_ROLE_RATE,
            "max_blank_text_rate": MAX_BLANK_TEXT_RATE,
        },
        "gates": gates,
        "alert_level": ("fail" if "fail" in levels
                        else "warn" if "warn" in levels else "ok"),
    }
    rpt["passed"] = rpt["alert_level"] != "fail"
    return rpt


def write_report(report: dict, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(report, f, indent=2)
