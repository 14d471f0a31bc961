"""The reference's 7 analytics queries (sql/queries/analytics.sql)
re-expressed over the transcript lake table — DataFrame/Spark-SQL only.

Each function takes the live lake DataFrame (lake.read()) and returns the
transcript-domain analog of one reference query; docstrings cite the
original. These run in bench and tests over replayed state; the generic
testdata analogs (same operator shapes, DuckDB-oracled) live in
analytics.py.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F


def top_tools(df):
    """analytics.sql:5-20 (top-10 brands by product count + quality) →
    top-10 tools by call count + avg text length, HAVING-gated."""
    return (
        df.filter(F.col("tool").isNotNull())
        .groupBy("tool")
        .agg(
            F.count(F.lit(1)).alias("n_calls"),
            F.round(F.avg(F.length("text")), 2).alias("avg_text_len"),
        )
        .filter(F.col("n_calls") >= 5)
        .orderBy(F.desc("n_calls"), F.asc("tool"))
        .limit(10)
    )


def role_distribution(df):
    """analytics.sql:25-36 (nutriscore distribution with share-of-total
    window) → per-role share of turns within each conversation size band."""
    band = (
        F.when(F.col("n_turns") < 10, "short")
        .when(F.col("n_turns") < 50, "medium")
        .otherwise("long")
    )
    sized = df.join(
        df.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n_turns")), "conv_id"
    ).withColumn("band", band)
    g = sized.groupBy("band", "role").agg(F.count(F.lit(1)).alias("n"))
    w = W.partitionBy("band")
    return g.select(
        "band", "role", "n",
        F.round(F.col("n") * 100.0 / F.sum("n").over(w), 2).alias("pct_of_band"),
    )


def conversation_stats(df):
    """analytics.sql:52-66 (stats pack per category, IN-subquery semi join)
    → avg/min/max/stddev turn counts over conversations that used tools.

    The IN-subquery is folded into the per-conversation aggregate: a
    conversation "used tools" iff max(tool IS NOT NULL) — one shuffle on
    conv_id instead of a distinct + semi-join + aggregate (r6; result
    identical: the semi-join kept exactly the has-tool conversations)."""
    per_conv = (
        df.groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.max(F.col("tool").isNotNull()).alias("_has_tool"),
        )
        .filter(F.col("_has_tool"))
    )
    return per_conv.agg(
        F.count(F.lit(1)).alias("n_conversations"),
        F.round(F.avg("n_turns"), 4).alias("avg_turns"),
        F.min("n_turns").alias("min_turns"),
        F.max("n_turns").alias("max_turns"),
        F.round(F.stddev("n_turns"), 4).alias("std_turns"),
    )


def completeness_by_role(df):
    """analytics.sql:70-85 (conditional-sum completeness ratios, HAVING) →
    per-role completeness of text/tool/ts fields."""
    blank = F.col("text").isNull() | (F.trim(F.col("text")) == "")
    return (
        df.groupBy("role")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.round(F.sum(F.when(~blank, 1).otherwise(0)) * 100.0 / F.count(F.lit(1)), 2)
            .alias("pct_text_filled"),
            F.round(
                F.sum(F.when(F.col("ts").isNotNull(), 1).otherwise(0)) * 100.0
                / F.count(F.lit(1)),
                2,
            ).alias("pct_ts_filled"),
        )
        .filter(F.col("n_turns") >= 10)
    )


def anomaly_listing(df):
    """analytics.sql:100-125 (CASE-ladder anomaly classification + outer
    join listing) → the first 50 classified per-turn anomalies."""
    blank = F.col("text").isNull() | (F.trim(F.col("text")) == "")
    anomaly = (
        F.when(blank & (F.col("role") != "tool"), "empty_text")
        .when(F.col("role").isNull(), "missing_role")
        .when(F.col("ts").isNull(), "missing_ts")
        .when(F.col("turn_idx") < 0, "negative_turn")
        .otherwise(None)
    )
    return (
        df.withColumn("anomaly", anomaly)
        .filter(F.col("anomaly").isNotNull())
        .select("conv_id", "turn_idx", "role", "anomaly")
        .orderBy("anomaly", "conv_id", "turn_idx")
        .limit(50)
    )


def weekly_evolution(df):
    """analytics.sql:128-155 (weekly product-addition evolution with date
    arithmetic) → turns + active conversations per week."""
    return (
        df.groupBy(F.date_trunc("week", F.col("ts")).alias("week"))
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.countDistinct("conv_id").alias("active_conversations"),
        )
        .orderBy("week")
    )


def tool_conversation_matrix(df):
    """analytics.sql:160-176 (country×category matrix, COUNT DISTINCT,
    HAVING) → role×tool usage matrix over distinct conversations, pairs in
    at least 3 conversations."""
    return (
        df.filter(F.col("tool").isNotNull())
        .groupBy("role", "tool")
        .agg(
            F.countDistinct("conv_id").alias("n_conversations"),
            F.count(F.lit(1)).alias("n_turns"),
        )
        .filter(F.col("n_conversations") >= 3)
    )


ALL = [
    top_tools,
    role_distribution,
    conversation_stats,
    completeness_by_role,
    anomaly_listing,
    weekly_evolution,
    tool_conversation_matrix,
]
