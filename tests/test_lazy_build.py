"""Building a query's DataFrame (``fn(spark, sf_dir)``) runs no Spark job:
the work belongs to the action, where every timer sees it. Entries that
still run jobs while they build are listed in ``EAGER`` with the action
behind them, and are not built here.

No built plan scans rows that Python workers produce: a driver-local frame
comes from an Arrow table (a ``LocalRelation``), never from a Python list
(an RDD scan over a ``PythonRDD``, which starts Python workers to produce a
handful of rows). The two driver-local frames the engine builds, the empty
lake read and the quantile result, are checked directly.

A lake read or a WAL batch read plans from the file list the driver already
holds (the manifest, ``list_segments``): Spark lists those files on the
driver, never in a job with one task per file, however many they are."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from helpers import build_jobs, plans_run_under, python_rdd_scans  # noqa: E402
from trde703_openfoodfacts_etl_spark.schema import TRANSCRIPT_SCHEMA  # noqa: E402
from trde703_openfoodfacts_etl_spark.sources.genfeed import generate_segments  # noqa: E402
from trde703_openfoodfacts_etl_spark.sources.lake import LakeTable, distinct_files  # noqa: E402
from trde703_openfoodfacts_etl_spark.streaming.pipeline import (  # noqa: E402
    list_segments,
    read_batch,
    run_incremental,
)

#: Spark's default ``spark.sql.sources.parallelPartitionDiscovery.threshold``:
#: above it, an unset threshold lists the named files in a Spark job
SPARK_DEFAULT_LISTING_THRESHOLD = 32

_REPLAY = "CDC replay: the lake commits each batch while the plan is built"
_TQ = "reads q47's memoized CDC replay (transcript_state), which replays on first use"
_CHECKPOINT = (
    "localCheckpoint over an exchange: AQE runs the stages below it when the "
    "checkpoint takes its RDD"
)

EAGER = {
    "q00_cdc_replay": _REPLAY,
    "q54_cdc_replay_mor": _REPLAY,
    "q40_cdc_changelog": _REPLAY,
    "q44_sql_surface": _REPLAY,
    "q45_time_travel": _REPLAY,
    "q47_top_tools": _REPLAY,
    "q48_role_distribution": _TQ,
    "q49_conversation_stats": _TQ,
    "q50_completeness_by_role": _TQ,
    "q51_anomaly_listing": _TQ,
    "q52_weekly_evolution": _TQ,
    "q53_tool_matrix": _TQ,
    "q59_dedup_clusters": "connected_components: eager checkpoint and count per round",
    "q35_percentiles": "exact_quantiles collects run counts, then the rank rows",
    "q28_ann_lsh": "corpus_lsh_topk collects the plane vectors (similarity._index)",
    "q29_ann_ivf": "corpus_ivf_topk collects the centroid vectors (similarity._index)",
    "q21_ngram_jaccard": _CHECKPOINT + " (the exploded shingles, the candidates)",
    "q24_minhash_lsh": _CHECKPOINT + " (the LSH candidates)",
    "q25_simhash": _CHECKPOINT + " (the spread signatures)",
    "q39_interval_join": _CHECKPOINT + " (the range-count lookup table)",
    "q43_contamination": _CHECKPOINT + " (the per-source fingerprint counts)",
}


def test_every_allowlisted_entry_exists():
    assert set(EAGER) <= set(entrymod.queries())


def test_registry_entries_build_without_spark_jobs(spark, sf_dir):
    eager, python_rows = {}, {}
    for name, fn in entrymod.queries().items():
        if name in EAGER:
            continue
        built = []
        n = build_jobs(spark, name, lambda: built.append(fn(spark, sf_dir)))
        if n:
            eager[name] = n
        scans = python_rdd_scans(built[0])
        if scans:
            python_rows[name] = scans
    assert eager == {}, f"entries that ran Spark jobs while building: {eager}"
    assert python_rows == {}, f"entries that scan Python-produced rows: {python_rows}"


def test_empty_lake_read_is_a_local_relation(spark, tmp_path):
    lake = LakeTable.create(spark, str(tmp_path / "lake"), TRANSCRIPT_SCHEMA, num_buckets=4)
    for df in (lake.read(), lake.read(include_deleted=True, with_meta=True)):
        assert df._jdf.queryExecution().optimizedPlan().nodeName() == "LocalRelation"
        assert python_rdd_scans(df) == []


def test_first_cow_batch_into_empty_lake_scans_no_python_rows(spark, tmp_path):
    """A COW batch into an empty lake reads the empty state twice (change
    detection and the payload write); neither job scans an RDD."""
    wal = str(tmp_path / "wal")
    generate_segments(wal, n_convs=20, n_events=300, n_segments=1, seed=2)
    lake = LakeTable.create(spark, str(tmp_path / "lake"), TRANSCRIPT_SCHEMA, num_buckets=4)
    plans = plans_run_under(
        spark, "first COW batch", lambda: run_incremental(lake, wal, mode="cow")
    )
    assert len(plans) >= 2  # change detection and the payload write
    for plan in plans:
        assert "ExistingRDD" not in plan, plan


def _data_files(lake) -> int:
    """Distinct data files of the head snapshot: every bucket a MOR batch
    touched lists that batch's shared delta file."""
    return len(distinct_files(lake.snapshot()))


def test_lake_read_lists_its_files_without_a_spark_job(spark, tmp_path):
    """A MOR lake whose read names more files than Spark's default listing
    threshold: 40 compacted buckets under a shared delta batch, then with
    half the buckets compacted again (the delta file's scan keeps the rows
    of the buckets that still list it), then fully compacted."""
    wal = str(tmp_path / "wal")
    generate_segments(wal, n_convs=400, n_events=2_000, n_segments=2, seed=4)
    lake = LakeTable.create(spark, str(tmp_path / "lake"), TRANSCRIPT_SCHEMA, num_buckets=40)
    run_incremental(lake, wal, mode="mor", max_batches=1)
    lake.compact()
    run_incremental(lake, wal, mode="mor")  # resumes with the second segment
    assert any(b.get("delta") for b in lake.snapshot()["buckets"].values())
    assert _data_files(lake) > SPARK_DEFAULT_LISTING_THRESHOLD
    assert build_jobs(spark, "mor-read", lake.read) == 0
    assert build_jobs(spark, "mor-read-meta", lambda: lake.read(
        include_deleted=True, with_meta=True)) == 0
    lake.compact(buckets=list(range(20)))
    assert any(b.get("delta") for b in lake.snapshot()["buckets"].values())
    assert _data_files(lake) > SPARK_DEFAULT_LISTING_THRESHOLD
    assert build_jobs(spark, "partly-compacted-read", lake.read) == 0
    lake.compact()
    assert not any(b.get("delta") for b in lake.snapshot()["buckets"].values())
    assert _data_files(lake) > SPARK_DEFAULT_LISTING_THRESHOLD
    assert build_jobs(spark, "compacted-read", lake.read) == 0


def test_batch_read_lists_its_segments_without_a_spark_job(spark, tmp_path):
    wal = str(tmp_path / "wal")
    generate_segments(wal, n_convs=40, n_events=1_200, n_segments=40, seed=5)
    paths = list_segments(wal)
    assert len(paths) > SPARK_DEFAULT_LISTING_THRESHOLD
    assert build_jobs(spark, "wal-batch-read", lambda: read_batch(spark, paths)) == 0
