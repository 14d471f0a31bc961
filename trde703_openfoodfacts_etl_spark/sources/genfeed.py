"""Deterministic seeded generator of WAL segment files (the change feed).

Replaces the reference's one-shot HTTP ingest (etl/download_data.py:29-44)
with a synthetic binlog: ordered parquet segment files
``segment_000000.parquet`` … each holding CDC events over the transcript
schema (FIXTURES.md §2). No external data; seed → byte-identical output.

Two paths:

- :func:`generate_segments` — numpy on the driver; for pytest-scale fixtures
  (10k–300k events). Produces every required event pattern: cross-batch
  updates, out-of-order late events, duplicate (redelivered) lsn, delete +
  re-insert, one hot conversation, and (optionally) v2 schema segments with
  an added ``tool_meta`` column + ``turn_idx`` widened to int64.

- :func:`generate_segments_spark` — Spark-native (``spark.range`` + pure
  column functions of the id), for bench-scale feeds (10M+ events): fully
  parallel, deterministic regardless of partitioning, never materializes on
  the driver.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_ROLES = np.array(["user", "assistant", "system", "tool"])
_ROLE_P = np.array([0.45, 0.45, 0.02, 0.08])
_TOOLS = np.array(
    ["search", "code", "browse", "calc", "sql", "shell", "read", "write", "plan", "none"]
)
_WORDS = np.array(
    "the a of to and data model query spark merge stream table turn tool café "
    "naïve résumé détail über señor garçon answer question context token "
    "plan result state batch commit epoch shuffle join window filter".split()
)

EPOCH_2024 = 1704067200  # 2024-01-01T00:00:00Z


def _texts(rng: np.random.Generator, n: int) -> np.ndarray:
    """Seeded token soup; ~5% accented/multi-space, ~2% empty/whitespace."""
    lens = rng.integers(3, 40, size=n)
    out = []
    for ln in lens:
        words = rng.choice(_WORDS, size=ln)
        s = " ".join(words)
        out.append(s)
    out = np.array(out, dtype=object)
    ws = rng.random(n)
    out[ws < 0.02] = "   "  # whitespace-only quality-gate cases
    multi = (ws >= 0.02) & (ws < 0.05)
    out[multi] = np.char.add(out[multi].astype(str), "  été  été ")
    return out


def generate_segments(
    out_dir: str,
    n_convs: int = 200,
    n_events: int = 10_000,
    n_segments: int = 3,
    seed: int = 42,
    v2_from_segment: int | None = None,
) -> list[str]:
    """Write ``n_segments`` ordered WAL segment parquet files; return paths."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    # Zipf-skewed conversation popularity; conversation 0 is the hot one.
    conv_w = 1.0 / np.arange(1, n_convs + 1) ** 1.2
    conv_w /= conv_w.sum()

    next_turn = np.zeros(n_convs, dtype=np.int64)  # next fresh turn_idx per conv
    live: set[tuple[int, int]] = set()  # keys currently insertable for U/D
    tombstoned: list[tuple[int, int]] = []  # deleted keys eligible for re-insert

    lsn = 0
    paths = []
    per_seg = n_events // n_segments
    for seg in range(n_segments):
        v2 = v2_from_segment is not None and seg >= v2_from_segment
        n = per_seg
        convs = rng.choice(n_convs, size=n, p=conv_w)
        kinds = rng.random(n)
        ops, conv_ids, turn_idxs, tss, lsns = [], [], [], [], []
        live_list = list(live)
        for i in range(n):
            c = int(convs[i])
            if kinds[i] < 0.25 and live_list:  # 25% updates
                op = "U"
                c, t = live_list[int(rng.integers(len(live_list)))]
            elif kinds[i] < 0.3 and live_list:  # 5% deletes
                op = "D"
                c, t = live_list[int(rng.integers(len(live_list)))]
                live.discard((c, t))
                tombstoned.append((c, t))
            elif tombstoned and rng.random() < 0.2:
                op = "I"  # delete followed by re-insert of the same key
                c, t = tombstoned.pop(int(rng.integers(len(tombstoned))))
                live.add((c, t))
                live_list.append((c, t))
            else:
                op = "I"
                t = int(next_turn[c])
                next_turn[c] += 1
                live.add((c, t))
                live_list.append((c, t))
            lsn += 1
            base_ts = EPOCH_2024 + lsn * 10
            if rng.random() < 0.03:
                base_ts -= int(rng.integers(100, 10_000))  # out-of-order event
            ops.append(op)
            conv_ids.append(c)
            turn_idxs.append(t)
            tss.append(base_ts)
            lsns.append(lsn)

        n = len(ops)
        roles = rng.choice(_ROLES, size=n, p=_ROLE_P)
        tools = np.where(roles == "tool", rng.choice(_TOOLS, size=n), None)
        texts = _texts(rng, n)
        is_del = np.array(ops) == "D"
        texts[is_del] = None
        roles = roles.astype(object)
        roles[is_del] = None

        cols = {
            "op": pa.array(ops, pa.string()),
            "lsn": pa.array(lsns, pa.int64()),
            "event_ts": pa.array(
                (np.array(tss, dtype="int64") + 5) * 1_000_000, pa.timestamp("us")
            ),
            "conv_id": pa.array([f"conv_{c:08d}" for c in conv_ids], pa.string()),
            "turn_idx": pa.array(turn_idxs, pa.int64() if v2 else pa.int32()),
            "role": pa.array(roles.tolist(), pa.string()),
            "text": pa.array(texts.tolist(), pa.string()),
            "tool": pa.array(tools.tolist(), pa.string()),
        }
        if v2:
            meta = [
                None if r != "tool" else f'{{"call_id": {int(l)}}}'
                for r, l in zip(roles.tolist(), lsns)
            ]
            cols["tool_meta"] = pa.array(meta, pa.string())
        cols["ts"] = pa.array(np.array(tss, dtype="int64") * 1_000_000, pa.timestamp("us"))

        # duplicate (redelivered) events: re-append a sample of this segment's
        # rows verbatim — same lsn, must be idempotently absorbed.
        tbl = pa.table(cols)
        n_dup = int(n * 0.02)
        if n_dup:
            idx = rng.integers(0, n, size=n_dup)
            tbl = pa.concat_tables([tbl, tbl.take(pa.array(idx, pa.int64()))])

        p = os.path.join(out_dir, f"segment_{seg:06d}.parquet")
        pq.write_table(tbl, p)
        paths.append(p)
    return paths


def generate_segments_spark(
    spark,
    out_dir: str,
    n_events: int,
    n_convs: int,
    n_segments: int = 8,
    seed: int = 42,
    hot_conv_frac: float | None = None,
    v2_from_segment: int | None = None,
):
    """Bench-scale feed: every column is a pure function of the event id, so
    generation is embarrassingly parallel and deterministic at any
    parallelism. Skew: conv assignment uses a power-law-ish transform of a
    hash, giving a long tail plus hot conversations (exercises AQE + the
    partial-agg LWW path). ``hot_conv_frac`` additionally routes that
    fraction of ALL events to a single conversation (``conv_00000000``) —
    the adversarial hot-key preset for the skewed-WAL bench (BENCH/
    BASELINE.md): one bucket receives hot_conv_frac of the feed while the
    rest keep the power-law tail.

    ``v2_from_segment``: segments ≥ that index are written with the evolved
    v2 schema — added ``tool_meta`` string column, ``turn_idx`` widened
    int32→int64 — same cutover the pytest-scale generator produces, so a
    mid-run schema evolution can be exercised at bench scale (two writes,
    one per schema generation; event content is identical either way)."""
    from pyspark.sql import functions as F

    df = spark.range(0, n_events)  # id == lsn - 1
    h = F.abs(F.xxhash64(F.col("id") + F.lit(seed)))
    # power-law conversation pick: u^3 concentrates mass near 0
    u = (h % 1_000_000) / 1_000_000.0
    conv = F.floor(F.pow(u, 3.0) * n_convs).cast("long")
    if hot_conv_frac:
        # round, don't truncate: int(0.29 * 1000) == 289 via binary float
        hot = (F.abs(F.xxhash64(F.col("id") * 53 + F.lit(seed))) % 1000) < round(
            hot_conv_frac * 1000
        )
        conv = F.when(hot, F.lit(0)).otherwise(conv)
    h2 = F.abs(F.xxhash64(F.col("id") * 31 + F.lit(seed)))
    opf = (h2 % 100) / 100.0
    df = (
        df.withColumn("lsn", F.col("id") + 1)
        .withColumn("conv", conv)
        .withColumn(
            "op",
            F.when(opf < 0.25, F.lit("U"))
            .when(opf < 0.3, F.lit("D"))
            .otherwise(F.lit("I")),
        )
        .withColumn("conv_id", F.format_string("conv_%08d", F.col("conv")))
        # turn within conversation: hash-derived, bounded
        .withColumn("turn_idx", (F.abs(F.xxhash64(F.col("id") * 17)) % 64).cast("int"))
        .withColumn(
            "ts",
            F.timestamp_seconds(
                F.lit(EPOCH_2024) + F.col("id") * 2 - (F.abs(F.xxhash64("id")) % 7) * 100
            ),
        )
        .withColumn("event_ts", F.timestamp_seconds(F.lit(EPOCH_2024) + F.col("id") * 2 + 5))
        .withColumn(
            "role",
            F.element_at(
                F.array(F.lit("user"), F.lit("assistant"), F.lit("system"), F.lit("tool")),
                ((F.abs(F.xxhash64(F.col("id") + 7)) % 4) + 1).cast("int"),
            ),
        )
        .withColumn(
            "tool", F.when(F.col("role") == "tool", F.lit("search")).otherwise(F.lit(None))
        )
        .withColumn(
            "text",
            # ~280-char natural-language-like payload: 40 vocab words picked
            # by per-position hashes — deterministic, compresses like real
            # transcript text (sha2 hex would be pathologically
            # incompressible and skew the IO/CPU balance), accented words
            # exercise normalization
            F.when(F.col("op") == "D", F.lit(None)).otherwise(
                F.concat_ws(
                    " ",
                    *[
                        F.element_at(
                            F.lit(_WORDS.tolist()),
                            (
                                F.abs(F.xxhash64(F.col("id") * 131 + F.lit(w)))
                                % len(_WORDS)
                                + 1
                            ).cast("int"),
                        )
                        for w in range(40)
                    ],
                )
            ),
        )
        .withColumn("segment", (F.col("id") * n_segments / n_events).cast("int"))
        .select(
            "op", "lsn", "event_ts", "conv_id", "turn_idx", "role", "text", "tool", "ts",
            "segment",
        )
    )
    if v2_from_segment is None:
        df.write.mode("overwrite").partitionBy("segment").parquet(out_dir)
        return out_dir
    # evolved feed: one write per schema generation (a single partitioned
    # write would force one unified footer schema on every segment)
    v1 = df.filter(F.col("segment") < v2_from_segment)
    v2 = (
        df.filter(F.col("segment") >= v2_from_segment)
        .withColumn("turn_idx", F.col("turn_idx").cast("long"))
        .withColumn(
            "tool_meta",
            F.when(
                F.col("role") == "tool",
                F.format_string('{"call_id": %d}', F.col("lsn")),
            ).otherwise(F.lit(None).cast("string")),
        )
        .select(
            "op", "lsn", "event_ts", "conv_id", "turn_idx", "role", "text",
            "tool", "tool_meta", "ts", "segment",
        )
    )
    v1.write.mode("overwrite").partitionBy("segment").parquet(out_dir)
    # The v1 job just committed a _SUCCESS marker, but the feed is only
    # complete once the v2 append lands: a crash between the two jobs must
    # not leave a marker that regeneration gates (`if _SUCCESS exists, skip
    # gen`) accept as a full WAL — they would ingest a truncated, v2-less
    # feed and fail late on the missing column. The append job re-creates
    # the marker on ITS commit, restoring exactly-at-completion semantics.
    import contextlib

    with contextlib.suppress(FileNotFoundError):
        os.remove(os.path.join(out_dir, "_SUCCESS"))
    v2.write.mode("append").partitionBy("segment").parquet(out_dir)
    return out_dir
