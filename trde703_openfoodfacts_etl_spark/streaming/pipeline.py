"""Change-feed tailing: Structured Streaming and incremental microbatch drivers.

Two drivers share one per-batch step (:func:`_batch_step`: transform →
:func:`..operators.merge.apply_batch` → inline upkeep):

- :func:`run_stream` — idiomatic Structured Streaming: parquet file source
  over the WAL directory, ``foreachBatch`` apply, Spark checkpoint for
  source offsets + the lake manifest's batch-id marker for sink idempotence
  (together: exactly-once). Requires a fixed source schema (Spark streaming
  sources cannot change schema mid-query), so it reads with the current
  superset schema.

- :func:`run_incremental` — binlog-tail microbatcher for the general case
  the north rule describes: segments are discovered in order, each batch's
  Arrow schema is read from the parquet footers (no Spark job) and diffed
  against the lake schema, so added columns / widened types arriving
  mid-stream evolve the lake live. Resume is segment-watermark-based: the
  manifest records the last applied segment path (atomically with the batch
  marker), so a restarted run skips exactly the applied segments — even if
  the WAL listing grew in between — and re-applies at most the one
  uncommitted batch (whose data files, if any, were never referenced by a
  manifest).

The WAL is a directory of parquet segments. Both drivers list it with
:func:`list_segments`, which refuses any other non-hidden file, so a
foreign file fails either driver loudly instead of being skipped.

This closes the reference's declared gap "Pas de mode incrémental: Full
reload à chaque run" (docs/architecture.md:265,273) and replaces its bash
stage sequencing (run-pipeline.sh:59-77).
"""

from __future__ import annotations

import os
import re

from ..operators.merge import apply_batch
from ..schema import (
    SchemaEvolutionError,
    arrow_schema_of_parquet,
    conform,
    merge_schemas,
    widen,
)
from ..sources.lake import LakeTable, check_keep_snapshots


def _natural_key(path: str) -> str:
    """Order-preserving sort key: every digit run zero-padded to 20 chars,
    so ``segment=10`` sorts after ``segment=2`` (plain lexicographic order
    scrambles unpadded sequence numbers past 9). Pure-string keys keep
    comparisons total — including against a persisted high-watermark."""
    return re.sub(r"\d+", lambda m: m.group(0).zfill(20), path)


def list_segments(segments_dir: str) -> list[str]:
    """WAL segments in commit order (natural numeric order on path). The
    WAL is parquet only: any other non-hidden file raises ``ValueError``
    naming it, so a foreign file fails both drivers loudly instead of being
    skipped (the incremental driver) or misread (the streaming source).

    Path components starting with ``_`` or ``.`` are skipped — the
    Hadoop/Spark hidden-path convention (``_SUCCESS``, ``.crc``). A
    concurrent Spark writer stages in-flight task files under
    ``_temporary/``; Spark's own file source filters those, but this listing
    feeds EXPLICIT-path reads (``spark.read.parquet(*files)``) which do not,
    so without the filter a concurrent append could leak uncommitted (or
    footer-less, mid-write) task files into a batch."""
    out, foreign = [], []
    for dirpath, dirnames, files in os.walk(segments_dir):
        dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
        for f in files:
            if not f.startswith(("_", ".")):
                p = os.path.join(dirpath, f)
                (out if f.endswith(".parquet") else foreign).append(p)
    if foreign:
        raise ValueError(
            f"list_segments: {sorted(foreign, key=_natural_key)} under "
            f"{segments_dir} are not parquet segments; the WAL holds parquet "
            "segments only — convert or move these files"
        )
    return sorted(out, key=_natural_key)


def read_batch(spark, paths: list[str]):
    """Read one microbatch of parquet segment files, unifying footer
    schemas (per-batch Arrow-schema diff; v1/v2 boundary can fall inside a
    batch): files are grouped by footer schema, each group is read with its
    exact schema and conformed to the batch's unified schema.

    Footer reads are driver-side and serial, so within one call the
    ``part-*`` files of a Spark-written segment directory (one writer, one
    schema per directory) share one footer read. Individually named
    segment files (schema may differ file-to-file) are always read. Nothing
    is remembered across calls: a directory rewritten between two batches
    is read afresh.
    """
    by_schema: dict[str, list[str]] = {}
    schemas = {}
    footer_json: dict[str, str] = {}  # segment dir (part-* files) or file
    for p in paths:
        key = os.path.dirname(p) if os.path.basename(p).startswith("part-") else p
        if key not in footer_json:
            s = arrow_schema_of_parquet(p)
            footer_json[key] = s.json()
            schemas.setdefault(footer_json[key], s)
        by_schema.setdefault(footer_json[key], []).append(p)
    unified = None
    for s in schemas.values():
        unified = s if unified is None else merge_schemas(unified, s)[0]
    df = None
    for sj, group in by_schema.items():
        part = conform(spark.read.schema(schemas[sj]).parquet(*group), unified)
        df = part if df is None else df.unionByName(part)
    return df


def _batch_step(
    lake: LakeTable,
    stream_id: str,
    transform,
    mode: str,
    auto_compact_after: int | None,
    auto_vacuum_every: int | None,
    vacuum_keep_snapshots: int,
    auto_rebucket_target_bytes: int | None,
):
    """The per-batch step both drivers run, in this order: ``transform``
    (optional) → :func:`apply_batch` → inline upkeep after the batch's
    commit — ``maybe_compact`` (MOR only), ``maybe_rebucket``, and
    ``vacuum`` every ``auto_vacuum_every`` batches. Upkeep is state-derived
    (delta depth, bytes/bucket, snapshot count), so a crash between a
    commit and its upkeep loses nothing: the next batch re-evaluates the
    same conditions.

    Returns ``(step, applied)``: ``step(df, batch_id, segment_hwm=None)``
    applies one batch and appends its metrics to the ``applied`` list.
    With ``auto_vacuum_every`` set, a ``vacuum_keep_snapshots`` below 1
    raises vacuum's ``ValueError`` here, before any batch commits."""
    if auto_vacuum_every is not None:
        check_keep_snapshots(vacuum_keep_snapshots)
    applied: list[dict] = []

    def step(df, batch_id: int, segment_hwm: str | None = None) -> None:
        if transform is not None:
            df = transform(df)
        applied.append(
            apply_batch(
                lake, df, batch_id, stream_id=stream_id, mode=mode,
                segment_hwm=segment_hwm,
            )
        )
        if auto_compact_after is not None and mode == "mor":
            lake.maybe_compact(max_delta_files=auto_compact_after)
        if auto_rebucket_target_bytes is not None:
            lake.maybe_rebucket(target_bucket_bytes=auto_rebucket_target_bytes)
        if auto_vacuum_every is not None and len(applied) % auto_vacuum_every == 0:
            lake.vacuum(keep_snapshots=vacuum_keep_snapshots)

    return step, applied


def run_incremental(
    lake: LakeTable,
    segments_dir: str,
    stream_id: str = "default",
    segments_per_batch: int = 1,
    transform=None,
    max_batches: int | None = None,
    mode: str = "cow",
    auto_compact_after: int | None = None,
    auto_vacuum_every: int | None = None,
    vacuum_keep_snapshots: int = 4,
    auto_rebucket_target_bytes: int | None = None,
) -> list[dict]:
    """Tail the WAL directory batch by batch; resumable + idempotent.

    Resume is watermark-based, not positional: the manifest records the last
    *applied segment* (relative path) per stream, committed atomically with
    the batch marker. A resumed run skips exactly the applied segments and
    batches the remainder — safe under any ``segments_per_batch`` even when
    new segments arrived between runs (positional re-slicing of the grown
    listing would silently drop segments that fall into an already-committed
    batch id). Requires only that new segments sort after applied ones in
    natural order — true of any sequence-numbered binlog.

    Each batch runs the step shared with :func:`run_stream`
    (:func:`_batch_step`), right after :func:`read_batch` returns.
    ``transform`` (optional) maps the raw batch DataFrame → enriched batch
    (e.g. vectorized text normalization / quality columns) before the merge.
    ``auto_compact_after`` (MOR): fold buckets down once their write count
    (``LakeTable.delta_pressure``: the compacted base plus one per delta
    batch) exceeds the threshold (bounds read amplification during ingest).
    ``auto_vacuum_every``: every K applied batches, drop snapshots (and the
    data files only they reference) beyond the newest
    ``vacuum_keep_snapshots`` — long-running ingest keeps a bounded file
    count while time travel stays available inside the keep window (the
    maintenance-job analog of ``maybe_compact``). A ``vacuum_keep_snapshots``
    below 1 raises ``ValueError`` before the first batch.
    ``auto_rebucket_target_bytes``: after each batch, grow the bucket count
    (``LakeTable.maybe_rebucket``, geometric) once the median bytes per
    occupied bucket crosses the target — the table's layout keeps pace with
    unbounded growth without operator intervention. A COW batch writes one
    file per rewritten bucket per epoch; a MOR batch writes one file per
    write task, listed by every bucket it touched.
    """
    segs = list_segments(segments_dir)
    hwm = lake.last_segment_hwm(stream_id)
    if hwm is not None:
        hk = _natural_key(hwm)
        segs = [
            p for p in segs
            if _natural_key(os.path.relpath(p, segments_dir)) > hk
        ]
    batches = [
        segs[i : i + segments_per_batch] for i in range(0, len(segs), segments_per_batch)
    ]
    next_id = lake.last_batch_id(stream_id) + 1
    step, out = _batch_step(
        lake, stream_id, transform, mode, auto_compact_after,
        auto_vacuum_every, vacuum_keep_snapshots, auto_rebucket_target_bytes,
    )
    for i, paths in enumerate(batches):
        if max_batches is not None and len(out) >= max_batches:
            break
        step(
            read_batch(lake.spark, paths),
            next_id + i,
            segment_hwm=os.path.relpath(paths[-1], segments_dir),
        )
    return out


def run_stream(
    lake: LakeTable,
    segments_dir: str,
    source_schema,
    checkpoint_dir: str,
    transform=None,
    max_files_per_trigger: int = 4,
    mode: str = "cow",
    auto_compact_after: int | None = None,
    auto_vacuum_every: int | None = None,
    vacuum_keep_snapshots: int = 4,
    auto_rebucket_target_bytes: int | None = None,
):
    """Structured Streaming driver: readStream → foreachBatch(merge).

    Runs with the available-now trigger (drains everything currently in the
    WAL directory, then stops) so tests and bench runs are synchronous; a
    production deployment drops the trigger for continuous tailing. Batch
    ids are recorded in the lake under the stream id ``"stream"``.

    Each microbatch runs the step shared with :func:`run_incremental`
    (:func:`_batch_step`) inside ``foreachBatch``, so the maintenance knobs
    are the same — a continuous deployment never returns to an operator
    between batches, so compaction (``auto_compact_after``, MOR only),
    snapshot/file GC (``auto_vacuum_every`` / ``vacuum_keep_snapshots``)
    and bucket-layout growth (``auto_rebucket_target_bytes``) run after the
    batch's lake commit.

    A Spark streaming source cannot change schema mid-query, so the declared
    ``source_schema`` is fixed — a segment whose parquet footer carries
    columns (or wider types) the declared schema lacks would be SILENTLY
    conformed (extra columns dropped). Each microbatch therefore verifies
    its input files' footers against the declared schema and raises
    :class:`SchemaEvolutionError` pointing to :func:`run_incremental` (the
    driver that evolves schema live) instead of dropping data. The same
    check lists the WAL with :func:`list_segments`, so a non-parquet file
    in it fails the microbatch with a ``ValueError`` that names the file.
    """
    spark = lake.spark
    stream = (
        spark.readStream.schema(source_schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(segments_dir)
    )
    step, metrics = _batch_step(
        lake, "stream", transform, mode, auto_compact_after,
        auto_vacuum_every, vacuum_keep_snapshots, auto_rebucket_target_bytes,
    )
    declared = {f.name: f.dataType for f in source_schema.fields}
    checked: set[str] = set()

    def _assert_footer_schemas():
        # The micro-batch DataFrame doesn't expose its input files, so the
        # guard re-lists the WAL directory on EVERY microbatch (footer reads
        # are cached per file, so steady-state cost is one listing). A
        # snapshot taken before query start would race: a segment created
        # between that listing and the availableNow trigger fixing ITS
        # listing would be read but never footer-checked — exactly the
        # silent conform-and-drop this guard exists to prevent. Re-listing
        # also covers continuous (trigger-less) deployments, at the price of
        # possibly refusing an evolved segment this availableNow pass would
        # not have read — fail-loud beats data loss.
        for p in list_segments(segments_dir):
            if p in checked:
                continue
            try:
                footer = arrow_schema_of_parquet(p)
            except FileNotFoundError:
                # listed, then vanished before the footer read (e.g. a
                # task-commit rename racing the listing): the stream cannot
                # have read it either; it is re-checked if it reappears
                continue
            extra = [f.name for f in footer.fields if f.name not in declared]
            wider = [
                f.name
                for f in footer.fields
                if f.name in declared
                and f.dataType != declared[f.name]
                and widen(declared[f.name], f.dataType) != declared[f.name]
            ]
            if extra or wider:
                raise SchemaEvolutionError(
                    f"run_stream: segment {p} evolved beyond the declared "
                    f"source schema (new columns {extra}, widened {wider}); "
                    "a fixed-schema streaming source would silently drop "
                    "them — use run_incremental, which evolves the lake "
                    "schema per batch, or restart run_stream with the new "
                    "superset schema"
                )
            checked.add(p)

    def _apply(batch_df, batch_id: int):
        _assert_footer_schemas()
        step(batch_df, batch_id)

    q = (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return metrics
