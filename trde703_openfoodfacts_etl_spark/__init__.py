"""transcript-cdc-engine: a from-scratch PySpark-native CDC / incremental-ingest
engine over an Iceberg-style lake table of multi-turn conversation transcripts.

Re-expresses (idiomatically, NOT a port) the staged ETL-with-quality-gates
semantics of the reference repo ``EPSI-ClementC/trde703-openfoodfacts-etl``
(see /root/repo/SURVEY.md for the full mapping with file:line citations).

Layout
------
- ``schema``       canonical transcript schema, CDC envelope, Arrow-schema diff/merge
- ``sources``      deterministic WAL-segment feed generator + the lake-table format
- ``operators``    microbatch MERGE (LWW upsert/delete), dedup family, similarity
- ``functions``    vectorized pandas/Arrow UDFs (normalization, text analysis)
- ``streaming``    Structured Streaming / incremental microbatch drivers
- ``plans``        analytics query library (reference analytics re-expressed)

Every Python function the package hands to Spark (each pandas UDF, the
``applyInPandas`` kernel and each ``mapInPandas`` function) first calls
:func:`forget_zip_importers`.
"""

from __future__ import annotations

import os
import sys

__version__ = "0.1.0"


def forget_zip_importers() -> None:
    """Delete every ``zipimporter`` from ``sys.path_importer_cache``.

    Every Python function the package hands to Spark calls this first: each
    pandas UDF, the ``applyInPandas`` kernel and each ``mapInPandas``
    function. A reused PySpark worker runs ``importlib.invalidate_caches()``
    at the start of every task (``worker_util.setup_spark_files``), and on
    CPython 3.11 every cached ``zipimporter`` answers that by re-reading its
    archive's whole central directory. A warm worker caches 16 of them:
    ``pyspark.zip`` (1,328 entries) and its subpackages, the py4j zip, and
    the ``spark-core`` jar (5,359 entries) that Spark puts on the worker's
    ``sys.path``. That cost about 0.2 s of CPU per task before the first row
    was read, against 0.02–0.05 s with no zip importer cached.

    The entries are only a cache. A later import builds the importer again
    from ``zipimport._zip_directory_cache`` without reading the archive, so
    nothing else changes, and the next task's ``invalidate_caches()`` finds
    no archive to read."""
    import zipimport

    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            cache.pop(path, None)


#: generated classes Spark keeps compiled (``spark.sql.codegen.cache.maxEntries``,
#: default 100). The query library's working set is several hundred: at the
#: default, three passes of all 60 ``queries()`` entries at sf0.01 in one
#: session compiled 1,097, then 1,032, then 1,034 classes, as the LRU cache
#: evicted each query's classes before the next pass reused them, and JVM
#: metaspace grew 188 → 200 → 209 MB. At 2000 the same passes compiled 754,
#: then 2, then 2 classes, and metaspace held at 186–190 MB.
CODEGEN_CACHE_MAX_ENTRIES = 2000

#: named paths above which Spark lists files in a distributed job
#: (``spark.sql.sources.parallelPartitionDiscovery.threshold``, default 32).
#: Every multi-path read in the engine names files the driver has already
#: enumerated (``LakeTable.read`` from the manifest, ``read_batch`` from
#: ``list_segments``), and that job runs while the plan is built, one task
#: per file (up to 10,000 tasks). Plan build of
#: ``spark.read.parquet(*paths)`` over a local filesystem on 4 cores, CPU s
#: (driver and JVM) / wall s:
#:
#: ======  =======================  =========================
#: paths   distributed              driver-side
#: ======  =======================  =========================
#: 64      2.2–2.5 / 0.60–0.69      0.24–0.26 / 0.08
#: 512     7.8–8.9 / 2.2–2.5        0.28–0.60 / 0.13–0.18
#: 4096    51–57 / 14.6–16.2        0.89–1.05 / 0.74–0.83
#: 16384   134 / 56                 3.2 / 2.9
#: ======  =======================  =========================
#:
#: Driver-side listing is cheaper at every size, up to four times
#: ``REBUCKET_MAX_BUCKETS`` files, so no path count turns the job on.
PARALLEL_LISTING_THRESHOLD = 2**31 - 1


def build_session(
    app_name: str = "transcript-cdc-engine",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
):
    """Build the engine's SparkSession.

    Tuned for the sandbox (single-JVM local mode) but every setting is the
    one you would ship to a multi-executor cluster: AQE on (runtime
    coalescing + skew-join splitting), Arrow on (vectorized pandas UDFs),
    UTC session timezone (oracle comparability), shuffle partitions sized
    to parallelism instead of the 200 default.

    Two settings are sized to this process rather than to a cluster:
    ``spark.sql.codegen.cache.maxEntries`` is
    :data:`CODEGEN_CACHE_MAX_ENTRIES`, so the classes generated for the
    query library stay compiled from one run of a query to the next instead
    of being evicted and recompiled, and ``spark.driver.memory`` defaults to
    a quarter of physical memory (``SPARK_DRIVER_MEM`` overrides it).

    ``spark.sql.sources.parallelPartitionDiscovery.threshold`` is
    :data:`PARALLEL_LISTING_THRESHOLD`, so a read of files the driver named
    is listed on the driver while the plan is built, never in a Spark job.
    Python call-site capture (``spark.python.sql.dataFrameDebugging.enabled``)
    keeps PySpark's default, on. PySpark reads that flag once per Python
    process, so setting it through ``extra_conf`` takes effect only in the
    process's first session.
    """
    from pyspark.sql import SparkSession

    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or cores
    # default driver heap: a quarter of physical memory, which other
    # processes share
    phys_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**20
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # v2 committer: task outputs land in place at task commit (parallel)
        # instead of being renamed serially by the driver at job commit —
        # material for per-bucket file writes
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        # InferFiltersFromGenerate synthesizes `isnotnull AND size > 0` on
        # every explode input; when the exploded array is an EXPRESSION
        # (e.g. the dedup family's word-shingling), the whole expression is
        # cloned into that filter and pushed below the repartition of a
        # spread scan (plans.analytics.load) — evaluating the heavy array
        # build twice, once on the un-spread scan (r6 measurement: 5.9 s →
        # 1.2 s on the q24 postings build at sf1.0). Generate itself
        # already skips null/empty inputs, so excluding the rule never
        # changes results.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_MAX_ENTRIES))
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            str(PARALLEL_LISTING_THRESHOLD),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", f"{phys_mb // 4}m"))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
