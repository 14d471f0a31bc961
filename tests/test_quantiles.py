"""Distributed exact-quantile operator vs Spark's builtin percentile()
(same quantile_cont semantics, but bounded per-task memory)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from trde703_openfoodfacts_etl_spark.operators.quantiles import exact_quantiles

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


def _plans_run_under(spark, description, action):
    """Physical plans of the SQL executions ``action`` runs, tagged with a
    job description and read back from the SQL status store."""
    sc = spark.sparkContext
    sc.setJobDescription(description)
    try:
        action()
    finally:
        sc.setJobDescription(None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    execs = spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava(store.executionsList())
    return [e.physicalPlanDescription() for e in execs if e.description() == description]


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
    plans = _plans_run_under(
        spark, "exact_quantiles plan check",
        lambda: exact_quantiles(df, ["g"], "v", PROBS).collect(),
    )
    assert len(plans) >= 2  # the counts pass and the selection
    for plan in plans:
        assert "percentile" not in plan.lower(), plan
        assert "Window" not in plan, plan
        assert "MapInPandas" not in plan and "PythonMapInArrow" not in plan, plan
