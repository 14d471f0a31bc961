"""Iceberg-semantics lake table built from scratch on public Spark APIs.

The sandbox Spark has no Iceberg/Delta jars, so the engine implements the
semantics the north rule needs itself (see SURVEY.md §7.1):

- **data layout**: parquet files under ``data/epoch=<snapshot>/_bucket=<b>/``;
  the table is hash-bucketed on ``conv_id`` (``pmod(xxhash64(conv_id), P)``)
  so a whole conversation co-locates in one bucket → manifest-driven
  partition pruning for merges and conversation-local queries. A
  merge-on-read delta batch is the exception: it writes one key-sorted file
  per write task straight under ``data/epoch=<snapshot>/``, and every bucket
  the batch touched lists that shared file; a read keeps only the rows of
  the buckets that list it;
- **snapshots**: numbered JSON manifests under ``manifests/``; a commit is a
  write-temp + atomic ``os.rename``; readers resolve ``latest = max(id)``.
  Old snapshots stay readable (time travel) until vacuumed;
- **copy-on-write MERGE**: a commit replaces the file list of only the
  buckets it changed; untouched buckets keep their existing files;
- **exactly-once**: the manifest records the last applied ``batch_id`` per
  stream — a redelivered foreachBatch epoch is a no-op (analog of the
  reference's double-load caveat, docs/architecture.md:184-191, fixed);
- **schema evolution without ALTER**: the manifest carries every historical
  schema; each file records its ``schema_id``; readers group files by
  schema, read each group with its exact physical schema, cast to the
  current unified schema, and ``unionByName`` — old files stay readable
  after adds/widens (generalizes etl/bronze_to_silver.py:59-181);
- **lineage/metrics**: per-bucket high-watermark LSN, row/byte counts, and
  per-batch apply metrics live in the manifest (resumability evidence).

Physical row = user schema + meta columns ``_deleted`` (tombstone — keeps
LWW order-independent across delete/re-insert races), ``_lsn`` (winning WAL
position), ``_row_hash`` (change detection for no-op skip, lift of the
reference's md5 row_hash, etl/bronze_to_silver.py:255-263).
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..schema import (
    KEY_COLS,
    META_BUCKET,
    META_COLS,
    META_DELETED,
    META_LSN,
    META_ROW_HASH,
    conform,
    merge_schemas,
    schema_from_json,
    schema_to_json,
)

MANIFEST_DIR = "manifests"
DATA_DIR = "data"

#: MOR read-path split guards (all evaluated from manifest row stats before
#: any job runs; failing any falls back to the full-aggregate resolve). The
#: contested-key resolve broadcasts the delta keyset as xxhash64 longs (8
#: B/key — probing the base on a derived long is ~2× cheaper than on the
#: (string, int) key pair, measured) and scans the base twice; its saving is
#: the avoided shuffle+aggregate of the clean base rows, so it pays off when
#: the delta is SMALL — absolutely (the broadcast long-hash relation must
#: build fast) and relative to the base — and the base is big enough that
#: the avoided shuffle beats the split's fixed overheads. Interleaved A/B on
#: identical states (BENCH/mor_readamp.json split_ab): 15.5M-row base at
#: 0.6% contested → split 3.8 s vs full-agg 5.8 s median (1.5×); a 3.9M-row
#: base measured even (1.87 s vs 1.99 s) in calibration — hence the min-base
#: floor. The win grows with base size — and further on a real cluster,
#: where the avoided exchange crosses a network.
MOR_SPLIT_MAX_DELTA_ROWS = 4_000_000
MOR_SPLIT_MAX_DELTA_FRACTION = 0.1
MOR_SPLIT_MIN_BASE_ROWS = 2_000_000

#: maybe_rebucket growth: each rewrite multiplies the bucket count by
#: REBUCKET_GROWTH, never past REBUCKET_MAX_BUCKETS.
REBUCKET_GROWTH = 4
REBUCKET_MAX_BUCKETS = 4096

#: vacuum removes a commit temp older than this: a live CAS holds its temp
#: for milliseconds, so an older one was left by a writer that died.
COMMIT_TEMP_ORPHAN_SEC = 3600.0


def check_keep_snapshots(keep_snapshots: int) -> None:
    """Raise ``ValueError`` if ``keep_snapshots`` is below 1: the newest
    snapshot is the table, so :meth:`LakeTable.vacuum` always keeps it."""
    if keep_snapshots < 1:
        raise ValueError(
            f"vacuum(keep_snapshots={keep_snapshots}): the newest snapshot is "
            "the table and is always kept; pass keep_snapshots=1 to keep only "
            "it, or more to keep older snapshots readable for time travel"
        )


class SnapshotConflict(Exception):
    """Another writer committed the same snapshot id first (CAS lost)."""


class SnapshotNotFound(FileNotFoundError):
    """A requested snapshot id does not exist — most commonly because
    :meth:`LakeTable.vacuum` removed it past the retention window. Raised
    loudly so time travel / ``changes()`` across a vacuumed boundary never
    silently degrades to diffing against the oldest survivor."""


def bucket_expr(num_buckets: int, col: str = "conv_id"):
    """Stable bucket of a conversation; JVM-side, codegen'd."""
    return F.pmod(F.xxhash64(F.col(col)), F.lit(num_buckets)).cast("int")


def row_hash_expr(payload_cols: list[str]):
    """Change-detection hash over the payload (order-stable column list)."""
    return F.xxhash64(*[F.col(c) for c in payload_cols])


def lww_order():
    """The last-writer-wins order key ``(coalesce(ts, epoch), _lsn)`` over
    physical rows: the reference's ``desc(coalesce(last_modified_t, 0))``
    with the WAL position as tiebreaker. The one place the engine states
    that order."""
    epoch = F.lit("1970-01-01 00:00:00").cast("timestamp")
    return F.struct(
        F.coalesce(F.col("ts"), epoch).alias("o_ts"), F.col(META_LSN).alias("o_lsn")
    )


def lww_reduce(df, keys: list[str], carried: list[str]):
    """One row per ``keys`` group: the ``carried`` columns of the row with
    the greatest :func:`lww_order`. ``max_by`` under ``groupBy`` plans a
    hash aggregate with a map-side partial phase, so a hot key is reduced on
    every input partition before the shuffle. Exact duplicate redeliveries
    (same lsn) tie on identical rows, so either winner is the same row."""
    return (
        df.groupBy(*keys)
        .agg(F.max_by(F.struct(*[F.col(c) for c in carried]), lww_order()).alias("_w"))
        .select(*keys, *[F.col(f"_w.{c}").alias(c) for c in carried])
    )


def _bucket_entry(files: list[dict], hwm_lsn: int) -> dict:
    """Bucket manifest entry for a fully rewritten (key-unique) bucket:
    live rows and tombstones summed from the files' footer stats."""
    tombstones = sum(fe["tombstones"] for fe in files)
    return {
        "files": files,
        "hwm_lsn": int(hwm_lsn),
        "rows": sum(fe["rows"] for fe in files) - tombstones,
        "tombstones": tombstones,
    }


def distinct_files(snap: dict) -> dict[str, tuple[dict, set[int]]]:
    """Each data file a snapshot names, once: path → (its manifest entry,
    the buckets that list it). A merge-on-read delta file is listed by
    every bucket its batch touched, any other file by its one bucket; row,
    byte and file counts over a snapshot go through here so that a shared
    file counts once."""
    out: dict[str, tuple[dict, set[int]]] = {}
    for b, binfo in snap["buckets"].items():
        for fe in binfo["files"]:
            out.setdefault(fe["path"], (fe, set()))[1].add(int(b))
    return out


def bucket_bytes(snap: dict) -> dict[int, float]:
    """Bytes per bucket, a shared delta file's bytes split evenly over the
    buckets that list it, so the buckets add up to the table."""
    out = {int(b): 0.0 for b in snap["buckets"]}
    for fe, listing in distinct_files(snap).values():
        for b in listing:
            out[b] += fe["bytes"] / len(listing)
    return out


def _physical_schema(user_schema: T.StructType) -> T.StructType:
    return T.StructType(
        list(user_schema.fields)
        + [
            T.StructField(META_LSN, T.LongType(), True),
            T.StructField(META_ROW_HASH, T.LongType(), True),
            T.StructField(META_DELETED, T.BooleanType(), True),
        ]
    )


class LakeTable:
    def __init__(self, spark, root: str, io=None):
        from .fileio import LocalManifestIO

        self.spark = spark
        self.root = root
        #: driver-side catalog I/O seam (sources/fileio.py): swap for an
        #: object-store/catalog implementation in a real deployment; data
        #: files always go through Spark's own Hadoop FileSystem layer.
        self.io = io or LocalManifestIO()

    # -- creation / snapshot plumbing ------------------------------------

    @classmethod
    def create(cls, spark, root: str, schema: T.StructType, num_buckets: int = 16, io=None):
        t = cls(spark, root, io=io)
        t.io.makedirs(os.path.join(root, MANIFEST_DIR))
        t.io.makedirs(os.path.join(root, DATA_DIR))
        if t.latest_id() is None:
            snap = {
                "snapshot_id": 0,
                "parent": None,
                "num_buckets": num_buckets,
                "schema_id": 0,
                "schemas": {"0": schema_to_json(schema)},
                "buckets": {},
                "streams": {},
                "evolution": [],
                "metrics": {},
                "created_unix": time.time(),
            }
            try:
                t._write_snapshot(snap)
            except SnapshotConflict:
                pass  # another writer initialized the table concurrently
        return t

    def _snap_path(self, sid: int) -> str:
        return os.path.join(self.root, MANIFEST_DIR, f"snapshot-{sid:012d}.json")

    def latest_id(self) -> int | None:
        ids = [
            int(f[len("snapshot-") : -len(".json")])
            for f in self.io.list_names(os.path.join(self.root, MANIFEST_DIR))
            if f.startswith("snapshot-") and f.endswith(".json")
        ]
        return max(ids) if ids else None

    def snapshot(self, sid: int | None = None) -> dict:
        sid = self.latest_id() if sid is None else sid
        if sid is None:
            raise FileNotFoundError(f"no snapshots under {self.root}")
        try:
            return self.io.read_json(self._snap_path(sid))
        except FileNotFoundError:
            latest = self.latest_id()
            raise SnapshotNotFound(
                f"snapshot {sid} does not exist under {self.root} (latest "
                f"committed id: {latest}); if it existed earlier it was "
                "removed by vacuum() past the retention window — time "
                "travel / changes() across a vacuumed boundary is gone by "
                "policy, not recoverable"
            ) from None

    def _write_snapshot(self, snap: dict) -> None:
        """Atomic compare-and-swap commit via the IO seam's create-if-absent
        (locally: temp write + fsync + ``os.link``; on an object store: a
        conditional PUT / catalog CAS — see sources/fileio.py). A writer
        losing the race gets :class:`SnapshotConflict` and retries against
        the new head (see ``apply_batch``'s retry loop)."""
        try:
            self.io.write_json_if_absent(self._snap_path(snap["snapshot_id"]), snap)
        except FileExistsError:
            raise SnapshotConflict(
                f"snapshot {snap['snapshot_id']} already committed by another writer"
            ) from None

    # -- schema ------------------------------------------------------------

    def user_schema(self, snap: dict | None = None) -> T.StructType:
        snap = snap or self.snapshot()
        return schema_from_json(snap["schemas"][str(snap["schema_id"])])

    def evolve_schema(self, snap: dict, incoming: T.StructType) -> tuple[dict, T.StructType]:
        """Merge an incoming batch schema; returns (updated snap dict,
        unified user schema). Mutates a copy of `snap`."""
        current = self.user_schema(snap)
        unified, report = merge_schemas(current, incoming)
        if report["added"] or report["widened"]:
            new_id = max(int(k) for k in snap["schemas"]) + 1
            snap = dict(snap)
            snap["schemas"] = dict(snap["schemas"])
            snap["schemas"][str(new_id)] = schema_to_json(unified)
            snap["schema_id"] = new_id
            snap["evolution"] = snap["evolution"] + [
                {"schema_id": new_id, **report}
            ]
        return snap, unified

    # -- read path -----------------------------------------------------------

    def read(
        self,
        snapshot_id: int | None = None,
        buckets: list[int] | None = None,
        include_deleted: bool = False,
        with_meta: bool = False,
        snap: dict | None = None,
    ):
        """Read table state. Groups data files by schema_id, reads each group
        with its exact physical schema (mixed int32/int64 files never hit the
        vectorized reader with a mismatched schema), casts to the unified
        schema, unions by name. Bucket pruning = simply not listing files of
        other buckets (manifest-driven partition pruning).

        A delta file may hold rows of several buckets (a merge-on-read batch
        writes one file per write task, listed by every bucket it touched).
        Each delta path is read once, keeping the rows of the requested
        buckets that list it: the scan gets a bucket filter only when some
        bucket of the snapshot does not list the file (a partial
        :meth:`compact`, a copy-on-write batch over a merge-on-read lake, a
        bucket-pruned read, or an older per-bucket delta file).

        ``snap`` overrides the committed snapshot — the merge passes its
        in-flight (schema-evolved, not yet committed) snapshot so current
        rows conform to the batch's unified schema.

        A read that lists no files (a fresh table, or only buckets without
        files) returns an empty local relation, not a scan: no job and no
        Python worker runs for it."""
        snap = snap or self.snapshot(snapshot_id)
        unified = self.user_schema(snap)
        phys_unified = _physical_schema(unified)
        every = {int(b) for b in snap["buckets"]}
        wanted = every if buckets is None else every & set(buckets)
        # one pass over the file entries, each classified as clean (its
        # bucket has no pending deltas), base (the key-unique compacted
        # part of a delta bucket) or delta (appended, delta-tagged): only
        # delta buckets pay the merge-on-read LWW aggregate, clean buckets
        # stream straight through (union afterwards). Groups are keyed by
        # (schema_id, buckets to keep), the latter None for a whole file.
        clean: dict[tuple, list[str]] = {}
        base: dict[tuple, list[str]] = {}
        delta: dict[tuple, list[str]] = {}
        base_rows = delta_rows = 0
        for path, (fe, listing) in distinct_files(snap).items():
            keep = listing & wanted
            if not keep:
                continue
            if fe.get("delta"):
                group = delta
                delta_rows += fe["rows"]
            elif any(snap["buckets"][str(b)].get("delta") for b in listing):
                group = base
                base_rows += fe["rows"]
            else:
                group = clean
            # only a delta file holds rows of several buckets
            whole = keep == every or not fe.get("delta")
            group.setdefault(
                (fe["schema_id"], None if whole else tuple(sorted(keep))), []
            ).append(os.path.join(self.root, path))

        def _assemble(groups_: dict[tuple, list[str]]):
            df_ = None
            for (sid_, keep), paths in sorted(
                groups_.items(), key=lambda kv: (kv[0][0], kv[0][1] or ())
            ):
                phys = _physical_schema(schema_from_json(snap["schemas"][str(sid_)]))
                part = self.spark.read.schema(phys).parquet(*paths)
                if keep is not None:
                    part = part.filter(bucket_expr(snap["num_buckets"]).isin(*keep))
                part = conform(part, phys_unified)
                df_ = part if df_ is None else df_.unionByName(part)
            return df_

        df = _assemble(clean)
        if base or delta:
            nonkey = [f.name for f in phys_unified.fields if f.name not in KEY_COLS]
            if (
                delta_rows <= MOR_SPLIT_MAX_DELTA_ROWS
                # widely-contested base: the broadcast build + second base
                # scan would cost more than the full aggregate (measured)
                and delta_rows <= MOR_SPLIT_MAX_DELTA_FRACTION * base_rows
                # small base: the avoided shuffle is cheaper than the
                # split's fixed overheads (measured A/B) — full agg wins
                and base_rows >= MOR_SPLIT_MIN_BASE_ROWS
            ):
                # contested-key split: the compacted base within a delta
                # bucket is key-unique (every replace commit — COW merge,
                # compaction, rebucket — writes LWW-resolved state), so only
                # keys that appear in a delta file can change. Broadcast the
                # contested keyset as xxhash64 longs (guarded by the
                # MOR_SPLIT_* bounds, known from manifest stats before any
                # job runs): clean base rows stream straight from the scan —
                # no shuffle, no aggregate — and only (delta rows + contested
                # base rows) pay the LWW aggregate. A hash collision merely
                # routes an extra base row through the aggregate, where it
                # forms its own (conv_id, turn_idx) group and is emitted
                # unchanged — never a correctness effect. This keeps the MOR
                # scan cost ∝ delta size instead of a step function on "any
                # delta exists".
                ddf = _assemble(delta)
                bdf = _assemble(base)
                if bdf is None:
                    ddf = lww_reduce(ddf, KEY_COLS, nonkey)
                else:
                    hk = F.xxhash64(*KEY_COLS)
                    contested = F.broadcast(
                        ddf.select(hk.alias("_mor_hk")).distinct()
                    )
                    b_h = bdf.withColumn("_mor_hk", hk)
                    clean_b = b_h.join(contested, "_mor_hk", "left_anti").drop("_mor_hk")
                    hot_b = b_h.join(contested, "_mor_hk", "left_semi").drop("_mor_hk")
                    ddf = clean_b.unionByName(
                        lww_reduce(ddf.unionByName(hot_b), KEY_COLS, nonkey)
                    )
            else:
                merged = {
                    key: base.get(key, []) + delta.get(key, [])
                    for key in base.keys() | delta.keys()
                }
                ddf = lww_reduce(_assemble(merged), KEY_COLS, nonkey)
            df = ddf if df is None else df.unionByName(ddf)
        if df is None:
            # no files: an empty Arrow table becomes an empty LocalRelation,
            # which the optimizer prunes from a union; an empty Python list
            # would be a Python RDD scan that starts Python workers
            df = self.spark.createDataFrame(
                to_arrow_schema(phys_unified).empty_table(), phys_unified
            )
        if not include_deleted:
            df = df.filter(~F.coalesce(F.col(META_DELETED), F.lit(False)))
        if not with_meta:
            df = df.drop(*META_COLS)
        return df

    # -- write path ----------------------------------------------------------

    def write_bucket_files(
        self,
        df,
        snapshot_id: int,
        schema_id: int,
        pre_partitioned: bool = False,
    ) -> dict[int | None, list[dict]]:
        """Write a physical DataFrame (user cols + meta cols, plus _bucket
        for a bucketed write) under data/epoch=<snapshot_id>/ and return
        {bucket: [file entries]} for the manifest, each written file once.
        Each entry carries the file's footer stats: physical ``rows``,
        ``bytes``, ``tombstones`` (the ``_row_hash`` null count) and
        ``max_lsn`` — everything the manifest's per-bucket stats derive
        from, with no extra Spark job. This is the only method that writes
        lake data files.

        With a ``_bucket`` column the write is bucketed: one file per bucket
        under ``_bucket=<b>/``. ``pre_partitioned=True`` means the caller's
        plan is already bucket-clustered (e.g. the merge reuses its
        aggregate exchange) — no extra shuffle is added; each task's rows
        split into per-bucket files by the dynamic-partition writer.
        Otherwise one repartition by bucket puts each bucket in one task.

        Without a ``_bucket`` column each write task writes one key-sorted
        file straight under the epoch dir, whatever buckets its rows fall
        in; the result is ``{None: [entries]}`` and the caller names the
        buckets that list them (a merge-on-read delta batch).

        Spark's first write task writes a schema-only file when it gets no
        rows; such files are removed, and so is an epoch dir left with no
        file (a fully gated batch), since no manifest will name it."""
        # unique suffix: two writers racing toward the same child snapshot id
        # must never share a data directory (the CAS on the manifest decides
        # the winner; the loser's files stay orphaned until vacuum)
        rel_epoch = os.path.join(
            DATA_DIR, f"epoch={snapshot_id}-{uuid.uuid4().hex[:8]}"
        )
        out = os.path.join(self.root, rel_epoch)
        bucketed = META_BUCKET in df.columns
        if bucketed:
            # prefixing the sort with the partition column satisfies the file
            # writer's required ordering, so Spark skips its own re-sort and
            # files stay key-sorted (stable (conv_id, turn_idx) reads).
            writer = (
                (df if pre_partitioned else df.repartition(META_BUCKET))
                .sortWithinPartitions(META_BUCKET, *KEY_COLS)
                .write.partitionBy(META_BUCKET)
            )
        else:
            writer = df.sortWithinPartitions(*KEY_COLS).write
        (
            writer.mode("overwrite")
            # no _SUCCESS marker: the manifest CAS is the lake's commit
            # record, and vacuum removes only the files manifests name
            .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
            .parquet(out)
        )
        if bucketed:
            dirs = {
                int(d.split("=")[1]): d
                for d in self.io.list_names(out)
                if d.startswith(f"{META_BUCKET}=")
            }
        else:
            dirs = {None: ""}
        entries: dict[int | None, list[dict]] = {}
        for b, d in dirs.items():
            for fn in self.io.list_names(os.path.join(out, d)):
                if not fn.endswith(".parquet"):
                    continue
                path = os.path.join(out, d, fn)
                rows, nbytes, tombstones, max_lsn = self.io.parquet_stats(path)
                if rows == 0:
                    self.io.remove_data_file(path, out)
                    continue
                entries.setdefault(b, []).append(
                    {
                        "path": os.path.join(rel_epoch, d, fn),
                        "rows": rows,
                        "bytes": nbytes,
                        "tombstones": tombstones,
                        "max_lsn": max_lsn,
                        "schema_id": schema_id,
                    }
                )
        if not entries:
            # empty write (e.g. a fully-gated MOR batch): no manifest will
            # name the epoch dir, and vacuum, which walks files, would never
            # see it if it is left empty
            self.io.remove_tree(out)
        return entries

    def commit(
        self,
        snap: dict,
        replaced_buckets: dict[int, list[dict]],
        bucket_hwm: dict[int, int],
        stream_id: str,
        batch_id: int,
        metrics: dict,
        append: bool = False,
        stream_hwm: str | None = None,
        watermark_ts: float | None = None,
    ) -> dict:
        """Produce + atomically write the child snapshot: replace (COW) or
        append (MOR delta; one shared file may be appended to several
        buckets) file lists for written buckets, bump per-bucket
        high-watermark LSN, record the applied batch id (idempotence marker)
        and batch metrics. A replaced bucket's live-row and tombstone counts
        are summed from its file entries' footer stats."""
        new = dict(snap)
        new["parent"] = snap["snapshot_id"]
        new["snapshot_id"] = snap["snapshot_id"] + 1
        bks = {k: dict(v) for k, v in snap["buckets"].items()}
        for b, files in replaced_buckets.items():
            if append:
                prev = bks.get(str(b), {"files": [], "hwm_lsn": 0, "rows": None})
                # per-file delta tag: the read path uses it to tell the
                # key-unique compacted base apart from appended delta files,
                # so only contested keys pay the read-time LWW aggregate
                bks[str(b)] = {
                    "files": list(prev["files"]) + [dict(fe, delta=True) for fe in files],
                    "hwm_lsn": max(int(prev.get("hwm_lsn") or 0), int(bucket_hwm.get(b, 0))),
                    "rows": None,  # unknown until compaction (LWW-at-read)
                    "delta": True,
                }
                continue
            bks[str(b)] = _bucket_entry(
                files, bucket_hwm.get(b, bks.get(str(b), {}).get("hwm_lsn", 0))
            )
        for b, hwm in bucket_hwm.items():
            if str(b) in bks and b not in replaced_buckets:
                bks[str(b)] = dict(bks[str(b)], hwm_lsn=max(bks[str(b)]["hwm_lsn"], int(hwm)))
        new["buckets"] = bks
        new["streams"] = dict(snap.get("streams", {}), **{stream_id: int(batch_id)})
        if stream_hwm is not None:
            # segment high-watermark, committed atomically with the batch
            # marker: resume skips exactly the applied segments even if the
            # WAL listing has grown since (positional re-slicing is unsafe)
            new["stream_hwm"] = dict(
                snap.get("stream_hwm", {}), **{stream_id: stream_hwm}
            )
        if watermark_ts is not None:
            # event-time watermark (max event ts ever applied), reported by
            # inspect_cli
            new["watermark_ts"] = max(
                float(snap.get("watermark_ts") or 0.0), float(watermark_ts)
            )
        new["metrics"] = metrics
        new["created_unix"] = time.time()
        self._write_snapshot(new)
        return new

    def last_batch_id(self, stream_id: str, snap: dict | None = None) -> int:
        snap = snap or self.snapshot()
        return int(snap.get("streams", {}).get(stream_id, -1))

    def last_segment_hwm(self, stream_id: str) -> str | None:
        """Last applied WAL segment (relative path) for ``stream_id``."""
        return self.snapshot().get("stream_hwm", {}).get(stream_id)

    def total_rows(self) -> int:
        snap = self.snapshot()
        if any(b.get("delta") for b in snap["buckets"].values()):
            # MOR deltas pending: exact live count needs the read-time merge
            return self.read(snap=snap).count()
        return sum(b.get("rows") or 0 for b in snap["buckets"].values())

    def delta_pressure(self) -> dict[int, int]:
        """Writes per MOR bucket (compaction-policy signal): the distinct
        directories its files sit in, i.e. its compacted base, if any, plus
        one per delta batch since. A delta batch counts once however many
        write tasks wrote its shared files, so the signal counts batches,
        not cores or batch size."""
        return {
            int(b): len({os.path.dirname(fe["path"]) for fe in binfo["files"]})
            for b, binfo in self.snapshot()["buckets"].items()
            if binfo.get("delta")
        }

    def maybe_compact(self, max_delta_files: int = 8) -> dict | None:
        """Auto-compaction policy: fold buckets whose :meth:`delta_pressure`
        exceeds the threshold (read amplification bound). In production this
        runs as an async maintenance job; inline here."""
        todo = [b for b, n in self.delta_pressure().items() if n > max_delta_files]
        if not todo:
            return None
        return self.compact(buckets=todo)

    def compact(self, buckets: list[int] | None = None) -> dict:
        """Merge-on-read compaction: rewrite delta-carrying buckets into a
        single resolved generation (LWW applied once). Tombstones are always
        kept: they keep late zombies out.

        One Spark action, the rewrite itself: the new buckets' ``rows``,
        ``tombstones`` and ``hwm_lsn`` (max of the footers' ``_lsn`` and the
        bucket's previous high-watermark) come from the footer stats that
        :meth:`write_bucket_files` returns. Returns the new snapshot."""
        snap = self.snapshot()
        todo = [
            int(b)
            for b, binfo in snap["buckets"].items()
            if binfo.get("delta") and (buckets is None or int(b) in buckets)
        ]
        if not todo:
            return snap
        resolved = self.read(
            buckets=todo, include_deleted=True, with_meta=True, snap=snap
        ).withColumn(META_BUCKET, bucket_expr(snap["num_buckets"]))
        written = self.write_bucket_files(
            resolved, snap["snapshot_id"] + 1, snap["schema_id"]
        )
        # tombstones are kept, so every bucket in todo resolves to at least
        # one row and gets its new file
        hwm = {
            b: max(
                [int(snap["buckets"][str(b)].get("hwm_lsn") or 0)]
                + [fe["max_lsn"] or 0 for fe in files]
            )
            for b, files in written.items()
        }
        return self.commit(
            snap, written, hwm, "compaction",
            self.last_batch_id("compaction", snap) + 1,
            {"compacted_buckets": todo},
        )

    def rebucket(self, new_num_buckets: int) -> dict:
        """Bucket-count evolution as a committed snapshot operation — the
        Iceberg partition-spec-evolution analog. ``num_buckets`` is chosen at
        :meth:`create` time; a table that grows 100× would otherwise be stuck
        with COW rewrite units and pruning granularity sized for day one.

        One Spark action: read the full current state (tombstones kept, MOR
        deltas resolved by the read path), re-hash every row under
        ``bucket_expr(new_num_buckets)``, write all buckets into one new
        epoch, and commit a child snapshot whose ENTIRE buckets map is
        replaced and which carries the new ``num_buckets``; per-bucket
        ``rows``, ``tombstones`` and ``hwm_lsn`` come from the new files'
        footer stats, not from a second pass over the data. Because
        ``num_buckets`` is per-snapshot and every reader/writer derives
        bucketing from the snapshot it reads, everything downstream follows
        automatically: time travel to a pre-rebucket snapshot reads the old
        layout (its file lists are pinned in the old manifest), resumed
        ingest merges under the new bucketing (``apply_batch`` re-reads the
        head snapshot per batch and on CAS retry), and vacuum reclaims the
        old layout's files once the pre-rebucket snapshots age out.

        Cost model at scale: one full-table rewrite — the same price as a
        global compaction, amortized over the 100× of growth that motivated
        it. Concurrency: single CAS attempt; a concurrent writer winning the
        race raises :class:`SnapshotConflict` (re-run against the new head —
        same contract as :meth:`compact`). Per-new-bucket ``hwm_lsn`` is
        the max ``_lsn`` of its files; the table-wide high-watermark is preserved
        via the rebucket metrics entry (resume correctness rides
        ``stream_hwm``/batch markers, which carry over untouched).
        """
        snap = self.snapshot()
        old_p = int(snap["num_buckets"])
        if int(new_num_buckets) == old_p:
            return snap
        if new_num_buckets < 1:
            raise ValueError(f"rebucket: num_buckets must be >= 1, got {new_num_buckets}")
        resolved = self.read(
            include_deleted=True, with_meta=True, snap=snap
        ).withColumn(META_BUCKET, bucket_expr(new_num_buckets))
        written = self.write_bucket_files(
            resolved, snap["snapshot_id"] + 1, snap["schema_id"]
        )
        table_hwm = max(
            (int(b.get("hwm_lsn") or 0) for b in snap["buckets"].values()), default=0
        )
        new = dict(snap)
        new["parent"] = snap["snapshot_id"]
        new["snapshot_id"] = snap["snapshot_id"] + 1
        new["num_buckets"] = int(new_num_buckets)
        new["buckets"] = {
            str(b): _bucket_entry(files, max(fe["max_lsn"] or 0 for fe in files))
            for b, files in written.items()
        }
        new["metrics"] = {
            "rebucket": {
                "from_buckets": old_p,
                "to_buckets": int(new_num_buckets),
                "table_hwm_lsn": table_hwm,
                "rows": sum(binfo["rows"] for binfo in new["buckets"].values()),
            }
        }
        new["created_unix"] = time.time()
        self._write_snapshot(new)
        return new

    def maybe_rebucket(self, target_bucket_bytes: int = 1 << 30) -> dict | None:
        """Rebucket policy (the :meth:`maybe_compact` analog for layout):
        when the MEDIAN bytes per occupied bucket exceeds
        ``target_bucket_bytes``, grow the bucket count by
        :data:`REBUCKET_GROWTH` (geometric — each rewrite buys factor×
        headroom, so total rewrite work over the table's lifetime is
        O(size · log_factor(growth))) capped at
        :data:`REBUCKET_MAX_BUCKETS`. Pure manifest arithmetic — no scan; in
        production this runs on the maintenance cadence next to
        ``maybe_compact``/``vacuum``. Returns the new snapshot or None.

        Skew-safe by construction: the median ignores a hot key's bucket
        (a single conversation hashes to ONE bucket at any P, so no amount
        of growth can split it — only the typical bucket's load should
        drive a rewrite), and growth is skipped entirely when fewer than
        half the current buckets are occupied (per-key data already sits
        alone in its bucket; more buckets cannot spread it and the rewrite
        would be futile — prevents a repeated grow-to-cap storm on a
        degenerate hot-key-only table)."""
        snap = self.snapshot()
        occupied = [int(b) for b, binfo in snap["buckets"].items() if binfo["files"]]
        if not occupied:
            return None
        cur = int(snap["num_buckets"])
        if len(occupied) * 2 < cur:
            return None
        per_bucket = bucket_bytes(snap)
        sizes = sorted(per_bucket[b] for b in occupied)
        if sizes[len(sizes) // 2] <= target_bucket_bytes:
            return None
        if cur >= REBUCKET_MAX_BUCKETS:
            return None
        return self.rebucket(min(cur * REBUCKET_GROWTH, REBUCKET_MAX_BUCKETS))

    def changes(self, from_snapshot: int, to_snapshot: int | None = None):
        """Changelog between two snapshots (CDC-out): one row per key whose
        state differs, with change_type ∈ {insert, update, delete}.

        Snapshot diffing reads only buckets whose file lists differ between
        the manifests (manifest-driven pruning again), joins old vs new
        state on the natural key, and classifies by row-hash. Scales as
        O(changed buckets), not O(table).

        Across a :meth:`rebucket` boundary the two snapshots disagree on
        bucket layout, so bucket-id pruning is meaningless — both sides are
        read in full (accurate: the rebucket rewrote every file) and the
        row-hash classification still yields exactly the real data changes
        (pure re-hashing produces no changelog rows)."""
        s_from = self.snapshot(from_snapshot)
        s_to = self.snapshot(to_snapshot if to_snapshot is not None else self.latest_id())
        if int(s_from["num_buckets"]) != int(s_to["num_buckets"]):
            from_b, to_b = None, None  # layouts differ: full read both sides
        else:
            changed = [
                int(b)
                for b in set(s_from["buckets"]) | set(s_to["buckets"])
                if s_from["buckets"].get(b, {}).get("files")
                != s_to["buckets"].get(b, {}).get("files")
            ]
            from_b, to_b = changed, changed
        old = self.read(snap=s_from, buckets=from_b, with_meta=True).select(
            *KEY_COLS, F.col(META_ROW_HASH).alias("_old_hash")
        )
        new = self.read(snap=s_to, buckets=to_b, with_meta=True)
        j = new.alias("n").join(old.alias("o"), KEY_COLS, "full_outer")
        change_type = (
            F.when(F.col(f"o._old_hash").isNull() & F.col(f"n.{META_ROW_HASH}").isNotNull(), "insert")
            .when(F.col(f"n.{META_ROW_HASH}").isNull() & F.col("o._old_hash").isNotNull(), "delete")
            .when(~F.col(f"n.{META_ROW_HASH}").eqNullSafe(F.col("o._old_hash")), "update")
            .otherwise(None)
        )
        user_cols = [f.name for f in self.user_schema(s_to).fields if f.name not in KEY_COLS]
        return (
            j.withColumn("change_type", change_type)
            .filter(F.col("change_type").isNotNull())
            .select(*KEY_COLS, *[F.col(f"n.{c}").alias(c) for c in user_cols], "change_type")
        )

    def vacuum(self, keep_snapshots: int = 2) -> list[str]:
        """Delete data files referenced only by snapshots older than the
        newest `keep_snapshots` (and those manifests). Returns removed paths.
        Each file goes with its checksum sidecar and with the directories
        its removal leaves empty.

        Also sweeps commit-temp litter: a writer that died between its CAS
        temp write and the link leaves ``snapshot-*.json.tmp.*`` behind
        (chaos-campaign finding — the old id parse choked on it). Temps
        older than :data:`COMMIT_TEMP_ORPHAN_SEC` are removed; younger ones
        are left for the in-flight writer. The temp-name convention is the
        IO backend's private business, so the sweep asks the seam.

        ``keep_snapshots`` below 1 raises ``ValueError``
        (:func:`check_keep_snapshots`)."""
        check_keep_snapshots(keep_snapshots)
        mdir = os.path.join(self.root, MANIFEST_DIR)
        names = self.io.list_names(mdir)
        now = time.time()
        for f in names:
            if self.io.is_commit_temp(f):
                p = os.path.join(mdir, f)
                try:
                    if now - self.io.mtime(p) > COMMIT_TEMP_ORPHAN_SEC:
                        self.io.remove(p)
                except OSError:
                    pass  # raced with the writer's own cleanup
        ids = sorted(
            int(f[len("snapshot-") : -len(".json")])
            for f in names
            if f.startswith("snapshot-") and f.endswith(".json")
        )
        keep = set(ids[-keep_snapshots:])
        live: set[str] = set()
        for sid in keep:
            s = self.snapshot(sid)
            for binfo in s["buckets"].values():
                live.update(fe["path"] for fe in binfo["files"])
        removed = []
        data_root = os.path.join(self.root, DATA_DIR)
        for full in self.io.walk_files(data_root):
            rel = os.path.relpath(full, self.root)
            if full.endswith(".parquet") and rel not in live:
                self.io.remove_data_file(full, data_root)
                removed.append(rel)
        for sid in ids:
            if sid not in keep:
                self.io.remove(self._snap_path(sid))
        return removed
