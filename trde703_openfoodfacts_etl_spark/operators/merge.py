"""Microbatch MERGE: last-writer-wins upsert/delete into the lake table.

The Spark-first lift of the reference's LWW dedup
(etl/bronze_to_silver.py:230-236: ``row_number() OVER (PARTITION BY code
ORDER BY desc(coalesce(last_modified_t,0)))`` keep rn=1), extended from
in-batch dedup to a full cross-batch CDC apply.

Execution design (what survives 100 TB):

1. **LWW as partial aggregation.** ``max_by(struct(payload), struct(ts,
   lsn))`` under ``groupBy`` (``lww_reduce``/``lww_order`` in
   sources/lake.py, shared with the MOR read path) — Catalyst plans a hash
   aggregate with a map-side partial phase, so a hot key (one turn updated millions of times)
   is reduced on every input partition *before* the shuffle: skew-safe
   without manual salting, AQE mops up residual imbalance. A window
   (`row_number`) would sort every event of the hot key into one task.

2. **Skinny change detection, one job per batch.** Deciding *what
   changed* never moves the payload: a hash-only projection of the raw
   batch (key, bucket, order-key, row-hash) is merged against a hash-only
   read of every bucket's current state (parquet column pruning — the
   text column is not read). One shuffle of ~40 bytes/key instead of the
   full row. Output: per-bucket changed-row counts, event counts and
   high-watermark LSNs, in one collect, which also names the touched
   buckets (those with batch events). The rewritten buckets' live-row and
   tombstone counts are not aggregated at all: the lake reads them from
   the written files' parquet footers. The state read is not pruned to
   the touched buckets first: a WAL segment touches every bucket, so a
   pruning pre-pass (materialize the batch winners, collect their
   buckets) only adds a job. On 4 cores, 8.6M state rows in 16 buckets, a
   1M-event segment: 139 CPU s / 45.7 s wall in one job against 151 /
   51.9 with the pre-pass (medians of 4). Pruning pays only for a batch
   confined to few buckets (one of 16: 10.9 against 38.9 CPU s), which
   no shipping path produces.

3. **Copy-on-write restricted to changed buckets.** Only buckets with real
   changes are rewritten (redelivered/no-op batches rewrite nothing — the
   reference's md5 row-hash idea, etl/bronze_to_silver.py:255-263, promoted
   to a no-op skip). The full-payload merge + write materializes exactly
   once; no DataFrame caches (a columnar cache build of wide rows costs
   more than one recompute of a skinny aggregate).

4. **Tombstones.** A winning ``op='D'`` persists as ``_deleted=true``, so a
   late event with a smaller ``(ts, lsn)`` can never resurrect a deleted
   key and delete + re-insert replays correctly under any batch arrangement
   (order-independence = exactly-once under at-least-once delivery).

5. **Exactly-once.** The manifest commit records ``batch_id`` per stream; a
   replayed foreachBatch epoch returns without touching data. Gate metrics
   ride ``observe()`` on the first action — zero extra passes (the
   reference re-scans the full lineage per count, SURVEY.md §2.4 A1).

6. **Schema evolution.** The batch schema diffs against the lake schema
   before the merge; adds/widens evolve the manifest schema and both sides
   conform to the unified schema (typed-null fill / upcast) before union.

7. **Merge-on-read deltas are shared files.** A MOR batch appends its
   in-batch LWW winners with no bucket shuffle: each write task writes one
   key-sorted file, and every bucket the batch touched lists it (the
   touched set rides the same ``observe()``). At 16 buckets a ~3k-event
   batch was 16 files, and each extra file cost about 45 ms of CPU (the
   parquet writer's set-up and Hadoop's ``chmod`` forks); readers keep each
   bucket's rows of a shared file (``LakeTable.read``).
"""

from __future__ import annotations

import time

from pyspark.sql import Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schema import (
    KEY_COLS,
    META_BUCKET,
    META_DELETED,
    META_LSN,
    META_ROW_HASH,
)
from ..sources.lake import (
    LakeTable,
    SnapshotConflict,
    bucket_expr,
    lww_order,
    lww_reduce,
    row_hash_expr,
)

ENVELOPE_COLS = ("op", "lsn", "event_ts")

#: apply_batch re-applies a batch at most this many times after losing the
#: manifest CAS to another writer, then raises the SnapshotConflict.
MAX_COMMIT_RETRIES = 3


def apply_batch(
    lake: LakeTable,
    batch_df,
    batch_id: int,
    stream_id: str = "default",
    mode: str = "cow",
    segment_hwm: str | None = None,
) -> dict:
    """Apply one CDC microbatch with optimistic-concurrency retry: if
    another writer wins the manifest CAS, re-read the new head and re-apply
    (the loser's data files are orphans until vacuum). See
    :func:`_apply_batch_once` for the merge itself."""
    for attempt in range(MAX_COMMIT_RETRIES + 1):
        try:
            return _apply_batch_once(
                lake, batch_df, batch_id, stream_id, mode, segment_hwm
            )
        except SnapshotConflict:
            if attempt == MAX_COMMIT_RETRIES:
                raise
    raise AssertionError("unreachable")


def _batch_watermark(pre) -> float | None:
    """Observed max event ts → unix seconds (UTC; ts is naive/ntz)."""
    import datetime as _dt

    mt = pre.get("max_ts")
    if mt is None:
        return None
    if mt.tzinfo is None:
        mt = mt.replace(tzinfo=_dt.timezone.utc)
    return mt.timestamp()


def _apply_batch_once(
    lake: LakeTable,
    batch_df,
    batch_id: int,
    stream_id: str = "default",
    mode: str = "cow",
    segment_hwm: str | None = None,
) -> dict:
    """Apply one CDC microbatch (op, lsn, event_ts + payload) to the lake.

    Idempotent on batch_id; commits one new snapshot atomically; returns the
    batch metrics dict that also lands in the manifest.

    ``mode``:
    - ``"cow"`` (copy-on-write): merge into the current state and rewrite
      changed buckets. Read-optimized; write amplification ∝ state size.
    - ``"mor"`` (merge-on-read): append the batch's in-batch LWW winners as
      delta files, one per write task, listed by every bucket the batch
      touched — NO read of current state, NO change detection, write
      ∝ batch size only. Readers resolve LWW on the fly until
      :meth:`LakeTable.compact` folds deltas down. The ingest-optimized
      path for sustained 10^10-event feeds (Hudi/Iceberg-v2 MOR shape).
    """
    t0 = time.time()
    _t = {"start": t0}
    snap = lake.snapshot()

    # ---- exactly-once guard --------------------------------------------------
    if batch_id <= lake.last_batch_id(stream_id, snap):
        return {
            "batch_id": batch_id,
            "skipped_replay": True,
            "snapshot_id": snap["snapshot_id"],
        }

    # ---- schema evolution: diff incoming payload schema vs lake schema -------
    incoming_user = T.StructType(
        [f for f in batch_df.schema.fields if f.name not in ENVELOPE_COLS]
    )
    snap, unified = lake.evolve_schema(snap, incoming_user)
    payload_cols = [f.name for f in unified.fields]
    state_nonkey = [
        *[c for c in payload_cols if c not in KEY_COLS],
        META_LSN, META_DELETED, META_ROW_HASH,
    ]
    num_buckets = snap["num_buckets"]

    # ---- quality gate (reference P3: null/empty/sentinel key filter) ---------
    gate = (
        F.col("conv_id").isNotNull()
        & (F.col("conv_id") != "")
        & F.col("turn_idx").isNotNull()
        & F.col("op").isin("I", "U", "D")
    )
    obs = Observation()
    batch_df = batch_df.observe(
        obs,
        F.count(F.lit(1)).alias("n_raw"),
        F.sum(F.when(gate, 0).otherwise(1)).alias("n_gated_out"),
        F.max("lsn").alias("max_lsn"),
        F.max("ts").alias("max_ts"),
        # MOR: the buckets its shared delta files are listed under
        *([F.collect_set(F.when(gate, bucket_expr(num_buckets))).alias("touched")]
          if mode == "mor" else []),
    )
    have = set(batch_df.columns)
    # events as physical lake rows (the layout lake.read(with_meta=True)
    # returns). The tombstone encoding lives here only: a winning op='D'
    # persists as _deleted=true with a NULL _row_hash.
    deleted = F.col("op") == "D"
    env = batch_df.filter(gate).select(
        F.col("op"),
        F.col("lsn").cast("long").alias(META_LSN),
        *[
            (
                F.col(f.name).cast(f.dataType)
                if f.name in have
                else F.lit(None).cast(f.dataType)
            ).alias(f.name)
            for f in unified.fields
        ],
    ).select(
        *payload_cols,
        META_LSN,
        deleted.alias(META_DELETED),
        F.when(deleted, F.lit(None).cast("long"))
        .otherwise(row_hash_expr(payload_cols))
        .alias(META_ROW_HASH),
    )

    def _obs_pre():
        try:
            return obs.get
        except Exception:
            # an empty batch runs zero tasks → no observed-metrics row; fall
            # back to a direct (trivial) count
            return {"n_raw": batch_df.count(), "n_gated_out": 0, "max_lsn": 0, "max_ts": None}

    def _commit_empty(pre):
        new_snap = lake.commit(
            snap, {}, {}, stream_id, batch_id,
            {"batch_id": batch_id, "events_in": int(pre["n_raw"]), "empty_batch": True},
            stream_hwm=segment_hwm, watermark_ts=_batch_watermark(pre),
        )
        return {
            "batch_id": batch_id,
            "events_in": int(pre["n_raw"]),
            "snapshot_id": new_snap["snapshot_id"],
            "buckets_rewritten": 0,
        }

    def _write_winners(rows):
        """LWW-reduce physical rows per key and write them bucket by bucket
        (the COW rewrite).

        ONE shuffle: the rows are repartitioned by bucket up front (bucket
        is a function of conv_id, so leading the LWW groupBy with it changes
        no group), the aggregate reuses that exchange (HashPartitioning
        (_bucket) satisfies the ClusteredDistribution of groupBy(_bucket,
        conv_id, turn_idx) by the subset rule) and the bucket-partitioned
        write needs no further shuffle. The partitioning is _bucket ALONE:
        each bucket lands in exactly one task, so the dynamic-partition
        writer emits exactly one file per bucket (spread over (_bucket,
        conv_id), every task writes its own file per bucket: 13
        files/bucket/epoch measured on a 200k-row table). A hot bucket is
        one task, the same unit compact()/rebucket() use; skew across keys
        within a bucket is absorbed by map-side partial aggregation, and
        maybe_rebucket is the scale lever."""
        by_bucket = rows.withColumn(META_BUCKET, bucket_expr(num_buckets)).repartition(
            META_BUCKET
        )
        return lake.write_bucket_files(
            lww_reduce(by_bucket, [META_BUCKET, *KEY_COLS], state_nonkey),
            snap["snapshot_id"] + 1, snap["schema_id"], pre_partitioned=True,
        )

    def _commit(pre, replaced, bucket_hwm, per_mode, append=False):
        """The tail both modes share: batch metrics, the manifest commit,
        then the commit phase."""

        def phases():
            ks = list(_t)
            return {ks[i]: round(_t[ks[i]] - _t[ks[i - 1]], 3) for i in range(1, len(ks))}

        wall = round(time.time() - t0, 3)
        metrics = {
            "batch_id": batch_id,
            "events_in": int(pre["n_raw"]),
            "gated_out": int(pre["n_gated_out"] or 0),
            **per_mode,
            "wall_sec": wall,
            # pre-commit phases land IN the manifest (post-hoc regression
            # attribution from committed metrics); the commit duration is
            # added to the returned dict once the commit completes
            "phase_sec": phases(),
            "events_per_sec": round(int(pre["n_raw"]) / wall, 1) if wall > 0 else None,
        }
        new_snap = lake.commit(
            snap, replaced, bucket_hwm, stream_id, batch_id, metrics,
            append=append, stream_hwm=segment_hwm, watermark_ts=_batch_watermark(pre),
        )
        _t["commit"] = time.time()
        metrics["phase_sec"] = phases()
        metrics["snapshot_id"] = new_snap["snapshot_id"]
        return metrics

    _t["plan"] = time.time()

    # ---- MOR fast path: append in-batch winners as delta files ---------------
    # One Spark job total: the winners write IS the first action. No bucket
    # repartition and no partitionBy: one key-sorted file per write task,
    # listed by every bucket the batch touched (module docstring #7).
    if mode == "mor":
        files = lake.write_bucket_files(
            lww_reduce(env, KEY_COLS, state_nonkey),
            snap["snapshot_id"] + 1, snap["schema_id"],
        ).get(None, [])
        pre = _obs_pre()
        _t["delta_write"] = time.time()
        if not files:
            return _commit_empty(pre)
        touched = sorted(pre["touched"])
        hwm = int(pre["max_lsn"] or 0)
        return _commit(
            pre, {b: files for b in touched}, {b: hwm for b in touched},
            {
                "mode": "mor",
                "buckets_touched": len(touched),
                "delta_files": len(files),
                "rows_written": sum(fe["rows"] for fe in files),
            },
            append=True,
        )

    # ---- COW change detection: ONE skinny job (module docstring #2) --------
    # RAW batch rows union every bucket's skinny state → one LWW aggregate →
    # per-bucket changed-row and event counts and HWMs in one collect; the
    # touched buckets are those with batch events. A per-key pre-aggregate
    # of the batch would shuffle it by key only for the union to erase the
    # partitioning and shuffle it by the same key again: LWW is associative,
    # so one aggregate over raw∪state rows is identical, and map-side
    # partials still reduce hot keys. COW thus scans the batch exactly twice
    # end to end: here (skinny) and in the payload write below.
    def _skinny(rows, cur: bool):
        """Hash-only projection of physical rows (module docstring #2).
        Batch rows count as events and carry their lsn into the HWM."""
        return rows.select(
            *KEY_COLS,
            F.col(META_ROW_HASH).alias("_h"),
            F.col(META_DELETED).alias("_d"),
            "ts",
            META_LSN,
            F.lit(0 if cur else 1).cast("long").alias("_n_events"),
            (F.lit(None).cast("long") if cur else F.col(META_LSN)).alias("_max_lsn"),
            F.lit(cur).alias("_cur"),
        )

    sk_cur = _skinny(lake.read(include_deleted=True, with_meta=True, snap=snap), cur=True)
    cur = F.col("_cur")
    sk = (
        _skinny(env, cur=False)
        .unionByName(sk_cur)
        .groupBy(*KEY_COLS)
        .agg(
            F.max_by(
                F.struct(F.col("_h").alias("h"), F.col("_d").alias("d")), lww_order()
            ).alias("_w"),
            F.max(F.when(cur, F.col("_h"))).alias("_cur_h"),
            F.max(F.when(cur, F.col("_d").cast("int"))).alias("_cur_d"),
            F.max(cur.cast("int")).alias("_cur_exists"),
            F.sum("_n_events").alias("_n_events"),
            F.max("_max_lsn").alias("_max_lsn"),
        )
        .select(
            bucket_expr(num_buckets).alias(META_BUCKET),
            (
                (F.col("_cur_exists") == 0)
                | ~F.col("_w.h").eqNullSafe(F.col("_cur_h"))
                | (F.col("_w.d").cast("int") != F.coalesce(F.col("_cur_d"), F.lit(0)))
            ).alias("_changed"),
            "_n_events",
            "_max_lsn",
        )
        .groupBy(META_BUCKET)
        .agg(
            F.sum(F.col("_changed").cast("int")).alias("n_changed"),
            F.sum("_n_events").alias("n_events"),
            F.max("_max_lsn").alias("hwm"),
        )
        .collect()
    )
    _t["a2_skinny"] = time.time()
    pre = _obs_pre()
    # untouched buckets appear too (state-only rows) with n_events = 0 and
    # n_changed = 0
    sk = [r for r in sk if r["n_events"] > 0]
    if not sk:
        return _commit_empty(pre)
    changed_buckets = sorted(int(r[META_BUCKET]) for r in sk if r["n_changed"] > 0)
    bucket_hwm = {int(r[META_BUCKET]): int(r["hwm"]) for r in sk if r["hwm"] is not None}

    # ---- full-payload merge + write, changed buckets only --------------------
    # ONE payload shuffle end-to-end (see _write_winners): raw batch events
    # of the changed buckets union their current state.
    replaced: dict[int, list[dict]] = {}
    if changed_buckets:
        replaced = _write_winners(
            env.filter(bucket_expr(num_buckets).isin(changed_buckets)).unionByName(
                lake.read(
                    buckets=changed_buckets, include_deleted=True, with_meta=True, snap=snap
                )
            )
        )
    _t["a3_write"] = time.time()
    return _commit(
        pre, replaced, bucket_hwm,
        {
            "buckets_touched": len(sk),
            "buckets_rewritten": len(changed_buckets),
            "per_bucket_events": {int(r[META_BUCKET]): int(r["n_events"]) for r in sk},
            "rows_written": sum(fe["rows"] for fs in replaced.values() for fe in fs),
        },
    )
