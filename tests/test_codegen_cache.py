"""The session's codegen cache holds the query library's generated classes:
running the same queries again compiles almost nothing. Fails once the
library's working set outgrows ``CODEGEN_CACHE_MAX_ENTRIES``, as it
outgrew Spark's default of 100."""

from __future__ import annotations

from trde703_openfoodfacts_etl_spark.plans.analytics import REGISTRY

#: registry queries that build without Spark jobs (tests/test_lazy_build.py);
#: together they generate more classes than Spark's default cache holds
QUERIES = [
    "q01_pricing_summary", "q03_share_of_total", "q06_semi_join",
    "q08_star_join", "q13_lww_latest", "q16_sessionize", "q34_pivot",
    "q36_scd2_intervals", "q38_asof_join", "q41_corpus_prep",
    "q46_percentile_sketch", "q57_sequence_packing",
]

#: second pass over first, in compiled classes. Measured at sf0.001 in a
#: fresh session of this suite's shape: 188 classes, then 0, 0, 0; with the
#: cache at Spark's default of 100: 194, then 182, 182, 182
MAX_SECOND_PASS_SHARE = 0.05
#: classes a warm pass may still compile
SLACK = 5


def _compiled(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _pass(spark, sf_dir) -> int:
    """Classes compiled while every query in ``QUERIES`` builds and runs."""
    before = _compiled(spark)
    for name in QUERIES:
        REGISTRY[name][0](spark, sf_dir).write.format("noop").mode("overwrite").save()
    return _compiled(spark) - before


def test_second_pass_reuses_generated_classes(spark, sf_dir):
    # After earlier tests warmed the cache the first pass compiles little,
    # and so must the second. Past the cache size both compile the whole
    # working set: LRU evicts each class before the next pass reuses it.
    first = _pass(spark, sf_dir)
    second = _pass(spark, sf_dir)
    assert second <= max(first * MAX_SECOND_PASS_SHARE, SLACK), (first, second)
