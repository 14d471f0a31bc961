"""Distributed exact-quantile operator vs Spark's builtin percentile()
(same quantile_cont semantics, but bounded per-task memory)."""

from __future__ import annotations

import datetime as dt
import os
import random
import time

import pytest
from pyspark.sql import functions as F

from trde703_openfoodfacts_etl_spark.operators.quantiles import exact_quantiles

from helpers import plans_run_under, python_rdd_scans

PROBS = [0.0, 0.25, 0.5, 0.75, 0.95, 1.0]


def _builtin(df, group_cols, value_col, probs):
    arr = ", ".join(f"{p}D" for p in probs)
    out = df.groupBy(*group_cols).agg(
        F.expr(f"percentile({value_col}, array({arr}))").alias("_p")
    )
    res = {}
    for r in out.collect():
        if r["_p"] is None:  # all values NULL: no quantiles
            continue
        g = tuple(r[c] for c in group_cols)
        for qi, v in enumerate(r["_p"]):
            res[(g, qi)] = v
    return res


def _ours(df, group_cols, value_col, probs, **kw):
    out = exact_quantiles(df, group_cols, value_col, probs, **kw)
    return {
        (tuple(r[c] for c in group_cols), r["_qi"]): r["_q"] for r in out.collect()
    }


def _compare(df, group_cols, value_col, probs=PROBS, **kw):
    want = _builtin(df, group_cols, value_col, probs)
    got = _ours(df, group_cols, value_col, probs, **kw)
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], rel=1e-12, abs=1e-12), k


def test_random_groups_with_ties(spark):
    rng = random.Random(7)
    rows = [
        (rng.choice("ABCD"), float(rng.choice([1, 2, 2, 3, 5, 5, 5, 8, 13])))
        for _ in range(5_000
        )
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    # many partitions: ranks cross partition boundaries constantly
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try:
        _compare(df, ["g"], "v")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_tiny_and_skewed_groups(spark):
    rows = (
        [("one", 42.0)]
        + [("two", v) for v in (10.0, 20.0)]
        + [("hot", float(i % 37)) for i in range(3_000)]
    )
    df = spark.createDataFrame(rows, "g string, v double")
    _compare(df, ["g"], "v")


def test_nulls_ignored_and_null_group_key(spark):
    rows = [("a", 1.0), ("a", None), ("a", 3.0), (None, 5.0), (None, 7.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    _compare(df, ["g"], "v", probs=[0.5])


def test_multi_column_group_and_int_values(spark):
    rng = random.Random(11)
    rows = [
        (rng.choice("xy"), rng.randrange(3), rng.randrange(1000))
        for _ in range(2_000)
    ]
    df = spark.createDataFrame(rows, "g1 string, g2 int, v int")
    _compare(df, ["g1", "g2"], "v")


def test_empty_input(spark):
    df = spark.createDataFrame([], "g string, v double")
    assert exact_quantiles(df, ["g"], "v", PROBS).collect() == []
    _compare(df, ["g"], "v")


def test_all_null_values(spark):
    df = spark.createDataFrame([("a", None), ("a", None), ("b", None)], "g string, v double")
    assert exact_quantiles(df, ["g"], "v", PROBS).collect() == []
    _compare(df, ["g"], "v")
    # an all-NULL group next to a group with values: only the latter
    mixed = df.union(spark.createDataFrame([("c", 2.0), ("c", 4.0)], "g string, v double"))
    _compare(mixed, ["g"], "v")


def test_single_row(spark):
    df = spark.createDataFrame([("a", 3.5)], "g string, v double")
    _compare(df, ["g"], "v")


def test_one_group_over_every_partition(spark):
    """One group range-partitioned over all 16 partitions: every target
    rank's row id is the first id of some partition's run plus an offset,
    so rank → id must carry across each partition boundary."""
    rng = random.Random(3)
    vals = [float(rng.randrange(500)) for _ in range(4_000)]
    df = spark.createDataFrame([("only", v) for v in vals], "g string, v double")
    probs = [i / 40 for i in range(41)]
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try:
        pids = df.repartitionByRange(16, "g", "v").select(F.spark_partition_id()).distinct()
        assert pids.count() == 16
        _compare(df, ["g"], "v", probs=probs)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _typed_rows(key):
    """Values in three keyed groups and one NULL-keyed group."""
    rng = random.Random(5)
    keys = [key(0), key(1), key(40), None]
    return [(keys[i % 4], float(rng.randrange(100))) for i in range(400)]


def test_date_group_keys(spark):
    rows = _typed_rows(lambda d: dt.date(2024, 1, 1) + dt.timedelta(days=d))
    _compare(spark.createDataFrame(rows, "g date, v double"), ["g"], "v")


@pytest.fixture
def driver_tz_new_york():
    """The driver's local time zone set to a non-UTC zone: ``collect()``
    returns timestamps as naive datetimes in this zone."""
    prev = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    yield
    if prev is None:
        del os.environ["TZ"]
    else:
        os.environ["TZ"] = prev
    time.tzset()


def test_timestamp_group_keys_in_non_utc_driver_zone(spark, driver_tz_new_york):
    """The result's timestamp keys carry Spark's instants, not the naive
    local datetimes ``collect()`` gave back read as UTC (5 h early here)."""
    rows = _typed_rows(lambda h: dt.datetime(2024, 3, 9, 12) + dt.timedelta(hours=h))
    df = spark.createDataFrame(rows, "g timestamp, v double")
    _compare(df, ["g"], "v")
    got = exact_quantiles(df, ["g"], "v", [0.5]).select(F.unix_micros("g")).collect()
    want = df.select(F.unix_micros("g")).distinct().collect()
    assert sorted(got, key=str) == sorted(want, key=str)


def test_typed_empty_input(spark):
    df = spark.createDataFrame([], "g timestamp, d date, v double")
    out = exact_quantiles(df, ["g", "d"], "v", PROBS)
    assert out.schema.fieldNames() == ["g", "d", "_qi", "_q"]
    assert out.collect() == []


def test_arrow_conversion_disabled(spark):
    """A ``pyarrow.Table`` goes through Arrow whatever
    ``spark.sql.execution.arrow.pyspark.enabled`` says: the result is a
    local relation either way."""
    key = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        rows = _typed_rows(lambda d: dt.date(2024, 1, 1) + dt.timedelta(days=d))
        df = spark.createDataFrame(rows, "g date, v double")
        _compare(df, ["g"], "v")
        out = exact_quantiles(df, ["g"], "v", PROBS)
        assert out._jdf.queryExecution().optimizedPlan().nodeName() == "LocalRelation"
    finally:
        spark.conf.set(key, prev)


def test_result_is_a_local_relation(spark):
    """The result is built from an Arrow table: no action on it starts a
    Python worker, where a frame made from a Python list is an RDD scan
    over a ``PythonRDD``."""
    df = spark.createDataFrame([("a", 1.0), ("a", 2.0), ("b", 3.0)], "g string, v double")
    out = exact_quantiles(df, ["g"], "v", PROBS)
    assert out._jdf.queryExecution().optimizedPlan().nodeName() == "LocalRelation"
    assert python_rdd_scans(out) == []
    assert python_rdd_scans(df)  # the check sees a Python-list frame


def test_plan_has_no_value_buffer_aggregate(spark):
    """The scale claim: no percentile() aggregate (per-group value buffer)
    and no single-task-per-group window in any job the operator runs — the
    heavy stages are a range-partitioned sort and an id-set selection — and
    no MapInPandas / PythonMapInArrow node: ranks are selected in the JVM.
    The returned frame is a small local relation, so the jobs' own plans
    are read back from the SQL status store."""
    df = spark.createDataFrame(
        [(g, float(i)) for g in "ab" for i in range(200)], "g string, v double"
    )
    plans = plans_run_under(
        spark, "exact_quantiles plan check",
        lambda: exact_quantiles(df, ["g"], "v", PROBS).collect(),
    )
    assert len(plans) >= 2  # the counts pass and the selection
    for plan in plans:
        assert "percentile" not in plan.lower(), plan
        assert "Window" not in plan, plan
        assert "MapInPandas" not in plan and "PythonMapInArrow" not in plan, plan
