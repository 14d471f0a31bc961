"""Query library: every operator family of SURVEY.md §2 expressed Spark-first,
with a DuckDB-equivalent ANSI-SQL oracle per query (the driver's correctness
gate). Re-expresses the reference's 7 analytics patterns
(sql/queries/analytics.sql: star joins, conditional aggregation, HAVING,
window share-of-total, IN-subquery semi join, CASE ladder, date arithmetic,
top-k) over the driver's TPC-H-ish tables, plus CDC/LWW, sessionization,
JSON extraction, text metrics, dedup and ANN entries.

Each registry item: name -> (spark_fn(spark, sf_dir) -> DataFrame, oracle_sql
or None). Column names/aliases are identical on both sides; floats are
rounded where parallel summation order could differ in the last ulp.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..schema import parquet_table_footer

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
]


#: share of the default parallelism, in parquet row groups, at which
#: ``load(spread=True)`` leaves a scan alone
SPREAD_MIN_FILL = 0.5


def load(spark, sf_dir: str, name: str, spread: bool = False):
    """Read a test table. The schema and the row-group count come from the
    parquet footers
    (:func:`~trde703_openfoodfacts_etl_spark.schema.parquet_table_footer`),
    so building a plan over the table runs no Spark job.

    ``spread=True`` round-robins a table of fewer than
    ``SPREAD_MIN_FILL``·defaultParallelism row groups over the default
    parallelism, and returns any other table unchanged. A row group is
    indivisible, so the single-row-group test tables scan in ONE task
    whatever ``maxPartitionBytes`` says, and per-row work on the scan runs
    on one core (input skew: one huge unsplittable file). The
    queries whose per-row work dominates the scan (regex packs, HOFs,
    pandas UDFs, vector math) ask for it (r6 measurement: q56 3.3 s → 0.5 s
    at sf1.0 from this alone); those whose cost is post-shuffle (windows,
    joins keyed downstream) do not, since the exchange already spreads them
    and the extra shuffle would be pure overhead. A table of many row groups
    (a real multi-file corpus) is never forced through a full shuffle. This
    is the only place the engine spreads a scan: an operator takes the
    frame it is given."""
    path = f"{sf_dir}/{name}.parquet"
    schema, row_groups = parquet_table_footer(path)
    df = spark.read.schema(schema).parquet(path)
    if spread:
        target = spark.sparkContext.defaultParallelism
        if row_groups < max(1, int(target * SPREAD_MIN_FILL)):
            df = df.repartition(target)
    return df


# ---------------------------------------------------------------------------
# A. Aggregations / sorts (reference A1-A10, O1-O3)
# ---------------------------------------------------------------------------


def q01_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: scan-side filter pushdown + 8-agg hash aggregate
    (reference A6/A7 conditional-sum + stats rollups)."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "1998-09-02")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))), 2
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


SQL_Q01 = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_extendedprice), 4) AS avg_price,
       round(avg(l_discount), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q02_top_brands(spark, sf_dir):
    """Top-k (reference O2: ORDER BY ... LIMIT; analytics.sql:19-20).
    Spark plans TakeOrderedAndProject — no global sort materialization."""
    return (
        load(spark, sf_dir, "part")
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n_parts"),
             F.round(F.avg("p_retailprice"), 2).alias("avg_retail"))
        .orderBy(F.desc("n_parts"), F.asc("p_brand"))
        .limit(10)
    )


SQL_Q02 = """
SELECT p_brand, count(*) AS n_parts, round(avg(p_retailprice), 2) AS avg_retail
FROM part GROUP BY p_brand ORDER BY n_parts DESC, p_brand ASC LIMIT 10
"""


def q03_share_of_total(spark, sf_dir):
    """Windowed share-of-total (reference W3, analytics.sql:29)."""
    c = load(spark, sf_dir, "customer")
    g = c.groupBy("c_mktsegment", "c_nationkey").agg(F.count(F.lit(1)).alias("n"))
    w = W.partitionBy("c_mktsegment")
    return g.select(
        "c_mktsegment",
        "c_nationkey",
        "n",
        F.round(F.col("n") * 100.0 / F.sum("n").over(w), 4).alias("pct_of_segment"),
    )


SQL_Q03 = """
SELECT c_mktsegment, c_nationkey, count(*) AS n,
       round(count(*) * 100.0 / sum(count(*)) OVER (PARTITION BY c_mktsegment), 4)
           AS pct_of_segment
FROM customer GROUP BY c_mktsegment, c_nationkey
"""


def q04_conditional_agg(spark, sf_dir):
    """SUM(CASE WHEN ...) rollup (reference A6, analytics.sql:11-12)."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.when(F.col("o_orderstatus") == "O", 1).otherwise(0)).alias("n_open"),
        F.round(
            F.sum(F.when(F.col("o_orderstatus") == "O", 1).otherwise(0)) * 100.0
            / F.count(F.lit(1)),
            4,
        ).alias("pct_open"),
    )


SQL_Q04 = """
SELECT o_orderpriority, count(*) AS n_orders,
       CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
       round(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) * 100.0 / count(*), 4)
           AS pct_open
FROM orders GROUP BY o_orderpriority
"""


def q05_having(spark, sf_dir):
    """Post-aggregation filter (reference A9 HAVING, analytics.sql:18)."""
    return (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"),
             F.round(F.sum("o_totalprice"), 2).alias("total_spend"))
        .filter(F.col("n_orders") >= 15)
    )


SQL_Q05 = """
SELECT o_custkey, count(*) AS n_orders, round(sum(o_totalprice), 2) AS total_spend
FROM orders GROUP BY o_custkey HAVING count(*) >= 15
"""


def q09_stats_pack(spark, sf_dir):
    """AVG/MIN/MAX/STDDEV pack (reference A7, analytics.sql:54-57)."""
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.min("l_quantity"), 2).alias("min_qty"),
            F.round(F.max("l_quantity"), 2).alias("max_qty"),
            F.round(F.stddev("l_quantity"), 4).alias("std_qty"),
        )
    )


SQL_Q09 = """
SELECT l_returnflag,
       round(avg(l_quantity), 4) AS avg_qty,
       round(min(l_quantity), 2) AS min_qty,
       round(max(l_quantity), 2) AS max_qty,
       round(stddev_samp(l_quantity), 4) AS std_qty
FROM lineitem GROUP BY l_returnflag
"""


def q12_distinct_agg(spark, sf_dir):
    """COUNT(DISTINCT) (reference A4/A8, analytics.sql:164-166)."""
    return (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(F.countDistinct("o_custkey").alias("n_customers"),
             F.count(F.lit(1)).alias("n_orders"))
    )


SQL_Q12 = """
SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_customers, count(*) AS n_orders
FROM orders GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# B. Joins (reference J1-J7)
# ---------------------------------------------------------------------------


def q06_semi_join(spark, sf_dir):
    """Semi join: customers with ≥1 1995 order (reference J7 IN-subquery,
    analytics.sql:42-49,62). left_semi — never duplicates the left side."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1996-01-01")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_active_customers"))
    )


SQL_Q06 = """
SELECT c_mktsegment, count(*) AS n_active_customers
FROM customer
WHERE c_custkey IN (
    SELECT o_custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01')
GROUP BY c_mktsegment
"""


def q07_anti_join(spark, sf_dir):
    """Anti join: customers with no orders at all, per nation (the engine's
    idempotence primitive, SURVEY.md §2.3 note)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    n = load(spark, sf_dir, "nation")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "inner")
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_inactive_customers"))
    )


SQL_Q07 = """
SELECT n_name, count(*) AS n_inactive_customers
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
GROUP BY n_name
"""


def q08_star_join(spark, sf_dir):
    """3+-way star join with broadcast dims (reference J5,
    analytics.sql:13-15,166-169): revenue per region/nation."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


SQL_Q08 = """
SELECT r_name, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_lineitems
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


def q10_case_ladder(spark, sf_dir):
    """CASE classification ladder (reference F9, analytics.sql:108-114)."""
    o = load(spark, sf_dir, "orders")
    band = (
        F.when(F.col("o_totalprice") < 50_000, "small")
        .when(F.col("o_totalprice") < 150_000, "medium")
        .when(F.col("o_totalprice") < 300_000, "large")
        .otherwise("jumbo")
    )
    return (
        o.select(band.alias("price_band"), "o_totalprice")
        .groupBy("price_band")
        .agg(F.count(F.lit(1)).alias("n_orders"),
             F.round(F.avg("o_totalprice"), 2).alias("avg_price"))
    )


SQL_Q10 = """
SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
            WHEN o_totalprice < 150000 THEN 'medium'
            WHEN o_totalprice < 300000 THEN 'large'
            ELSE 'jumbo' END AS price_band,
       count(*) AS n_orders, round(avg(o_totalprice), 2) AS avg_price
FROM orders GROUP BY 1
"""


def q11_date_arith(spark, sf_dir):
    """Date arithmetic window (reference F8: DATE_SUB(CURDATE(), INTERVAL),
    analytics.sql:140) pinned to the dataset's max date for determinism."""
    o = load(spark, sf_dir, "orders")
    cutoff = F.date_sub(F.to_date(F.lit("2001-08-01")), 90).cast("timestamp")
    return (
        o.filter(F.col("o_orderdate") >= cutoff)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_recent"),
             F.round(F.sum("o_totalprice"), 2).alias("recent_spend"))
    )


SQL_Q11 = """
SELECT o_orderpriority, count(*) AS n_recent, round(sum(o_totalprice), 2) AS recent_spend
FROM orders
WHERE o_orderdate >= TIMESTAMP '2001-08-01' - INTERVAL 90 DAY
GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# C. CDC / windows / streaming analogs (reference W1-W3, §2.9)
# ---------------------------------------------------------------------------


def q13_lww_latest(spark, sf_dir):
    """The engine's core CDC operator on the generic events table: LWW winner
    per (user_id, event_type) by (ts, event_id) — max_by partial aggregation,
    the skew-safe form of reference etl/bronze_to_silver.py:230-236."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", "event_type")
        .agg(
            F.round(
                F.max_by(F.col("value"), F.struct(F.col("ts"), F.col("event_id"))), 2
            ).alias("last_value"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


SQL_Q13 = """
WITH ranked AS (
    SELECT user_id, event_type, value,
           row_number() OVER (PARTITION BY user_id, event_type
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events),
cnt AS (SELECT user_id, event_type, count(*) AS n_events
        FROM events GROUP BY user_id, event_type)
SELECT r.user_id, r.event_type, round(r.value, 2) AS last_value, c.n_events
FROM ranked r JOIN cnt c USING (user_id, event_type)
WHERE r.rn = 1
"""


def q14_json_extract(spark, sf_dir):
    """Semi-structured extraction (props JSON column) + modular bucketing."""
    e = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        e.select((k % 10).alias("k_bucket"), "value")
        .groupBy("k_bucket")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.avg("value"), 4).alias("avg_value"))
    )


SQL_Q14 = """
SELECT CAST(json_extract_string(props, 'k') AS INT) % 10 AS k_bucket,
       count(*) AS n, round(avg(value), 4) AS avg_value
FROM events GROUP BY 1
"""


def q15_weekly_rollup(spark, sf_dir):
    """Time-bucketed rollup (reference F4 date functions + weekly evolution,
    analytics.sql:128-155)."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.date_trunc("week", F.col("ts")).alias("week"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 2).alias("sum_value"))
    )


SQL_Q15 = """
SELECT CAST(date_trunc('week', ts) AS TIMESTAMP) AS week,
       count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM events GROUP BY 1
"""


def q16_sessionize(spark, sf_dir):
    """Sessionization: 30-minute inactivity gap via lag + running sum window
    (streaming session_window's batch equivalent)."""
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # Fractional-second epoch: unix_timestamp() truncates to whole seconds
    # and sessionizes differently from the epoch() oracle whenever a gap
    # straddles the 1800s boundary by < 1s. NTZ won't cast to double
    # directly; via ltz is exact under the UTC session timezone.
    ts_s = F.col("ts").cast("timestamp_ltz").cast("double")
    gap = ts_s - F.lag(ts_s).over(w)
    new_s = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    return (
        e.withColumn("new_s", new_s)
        .groupBy("user_id")
        .agg(F.sum("new_s").alias("n_sessions"), F.count(F.lit(1)).alias("n_events"))
    )


SQL_Q16 = """
WITH g AS (
    SELECT user_id,
           CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                     OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id
                                                        ORDER BY ts, event_id)) > 1800
                THEN 1 ELSE 0 END AS new_s
    FROM events)
SELECT user_id, CAST(sum(new_s) AS BIGINT) AS n_sessions, count(*) AS n_events
FROM g GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# D. Text / documents (training-data pipeline ops)
# ---------------------------------------------------------------------------


def q17_text_metrics(spark, sf_dir):
    """Token counting + punctuation ratio + exact-dup fingerprint, all
    JVM-side expressions (functions/text.py)."""
    from ..functions.text import fingerprint_expr, token_count_expr

    d = load(spark, sf_dir, "documents", spread=True)
    from ..functions.text import _WORD_SPACE_CHARS

    n = F.length("text")
    # translate char-map, not the regex engine: [^A-Za-z0-9_\s] is a fixed
    # ASCII set, so counting survivors of a translate-delete is the exact
    # same number with no per-char regex and no stripped-copy allocation
    # (2.8 s → 0.4 s of this query at sf1.0; see punct_ratio_expr)
    punct = F.length(F.translate(F.col("text"), _WORD_SPACE_CHARS, ""))
    return d.select(
        "doc_id",
        token_count_expr(F.col("text")).cast("long").alias("n_tokens"),
        F.round(punct.cast("double") / n.cast("double"), 4).alias("punct_ratio"),
        fingerprint_expr(F.col("text")).alias("fingerprint"),
    )


SQL_Q17 = """
SELECT doc_id,
       len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
       round((length(text) - length(regexp_replace(text, '[^A-Za-z0-9_\\s]', '', 'g')))
             * 1.0 / length(text), 4) AS punct_ratio,
       md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
FROM documents
"""


def q18_exact_dedup(spark, sf_dir):
    """Exact dedup via content fingerprint groupBy (hash-groupBy dedup;
    scalable: one shuffle on the 128-bit hash, not the text)."""
    from ..functions.text import fingerprint_expr

    d = load(spark, sf_dir, "documents")
    return (
        d.groupBy(fingerprint_expr(F.col("text")).alias("fingerprint"))
        .agg(F.count(F.lit(1)).alias("n_copies"), F.min("doc_id").alias("keeper_doc_id"))
        .orderBy(F.desc("n_copies"), F.asc("fingerprint"))
        .limit(20)
    )


SQL_Q18 = """
SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint,
       count(*) AS n_copies, min(doc_id) AS keeper_doc_id
FROM documents GROUP BY 1 ORDER BY n_copies DESC, fingerprint ASC LIMIT 20
"""


def q19_lang_profile(spark, sf_dir):
    """Per-language corpus profile (quality-report shape over documents)."""
    d = load(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.round(F.avg(F.length("text")), 4).alias("avg_len"),
    )


SQL_Q19 = """
SELECT lang, count(*) AS n_docs, round(avg(n_chars), 4) AS avg_chars,
       round(avg(length(text)), 4) AS avg_len
FROM documents GROUP BY lang
"""


# ---------------------------------------------------------------------------
# E. Similarity / embeddings
# ---------------------------------------------------------------------------


def q20_ann_bruteforce(spark, sf_dir):
    """Brute-force cosine top-5 for 5 probe vectors: broadcast probes ×
    corpus, cosine per Arrow batch in numpy (operators/similarity.py
    cosine_vec), rank via window. Integer output only (float32-vs-float64
    safe). The scan is not spread: the numpy kernel is light per row, and
    the extra round-robin shuffle cost more than it bought (sf0.1 A/B, 4
    cores)."""
    from ..operators.similarity import cosine_vec

    e = load(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("p")
    )
    corpus = e.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("v"))
    j = F.broadcast(probes).crossJoin(corpus).filter(F.col("probe_id") != F.col("neighbor_id"))
    w = W.partitionBy("probe_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        j.select("probe_id", "neighbor_id", cosine_vec(F.col("p"), F.col("v")).alias("cos"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("probe_id", "rank", "neighbor_id")
    )


SQL_Q20 = """
WITH p AS (SELECT vec_id AS probe_id, embedding AS pe FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id AS neighbor_id, embedding AS ne FROM embeddings),
s AS (SELECT probe_id, neighbor_id, list_cosine_similarity(pe, ne) AS cos
      FROM p, c WHERE probe_id <> neighbor_id),
r AS (SELECT probe_id, neighbor_id,
             row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) AS rank
      FROM s)
SELECT probe_id, rank, neighbor_id FROM r WHERE rank <= 5
"""


# ---------------------------------------------------------------------------
# F. Dedup / text-analysis / ANN operators as gated queries
# ---------------------------------------------------------------------------


def q21_ngram_jaccard(spark, sf_dir):
    """Word-3-gram Jaccard similarity join at threshold 0.5 via LOSSLESS
    prefix filtering (operators/dedup.py ngram_jaccard_pairs): each doc
    indexes only its floor((1-t)·|A|)+1 rarest shingles, so candidates
    collide on rare shingles only — the hot-boilerplate quadratic blowup is
    gone and the output is still exactly all pairs with J ≥ t (the oracle
    computes the unfiltered exact join)."""
    from ..operators.dedup import ngram_jaccard_pairs

    d = load(spark, sf_dir, "documents", spread=True)
    return ngram_jaccard_pairs(d, threshold=0.5).select(
        "id_a", "id_b", F.round("jaccard", 4).alias("jaccard")
    )


SQL_Q21 = """
WITH toks AS (SELECT doc_id,
        string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS w
    FROM documents),
sh AS (SELECT doc_id, CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
        ELSE list_distinct(list_transform(range(1, len(w)-1),
                                          i -> array_to_string(w[i:i+2], ' '))) END AS s
    FROM toks),
ex AS (SELECT doc_id, len(s) AS sz, unnest(s) AS g FROM sh),
pairs AS (SELECT a.doc_id id_a, b.doc_id id_b, a.sz sa, b.sz sb, count(*) nc
          FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
          GROUP BY 1, 2, 3, 4)
SELECT id_a, id_b, round(round(nc * 1.0 / (sa + sb - nc), 6), 4) AS jaccard
FROM pairs WHERE round(nc * 1.0 / (sa + sb - nc), 6) >= 0.5
"""


def q22_quality_score(spark, sf_dir):
    """Composite quality heuristics (functions/text.py quality_score_expr)
    aggregated per language."""
    from ..functions.text import quality_score_expr

    d = load(spark, sf_dir, "documents", spread=True)
    return (
        d.select("lang", quality_score_expr(F.col("text")).alias("score"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.round(F.avg("score"), 4).alias("avg_score"))
    )


SQL_Q22 = """
WITH m AS (
    SELECT lang,
           len(string_split_regex(trim(text), '\\s+')) AS n_tok,
           (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
               * 1.0 / length(text) AS punct,
           len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
               t -> t IN ('the','a','of','to','and','in','is','it','for','on')))
               * 1.0 / len(string_split_regex(lower(trim(text)), '\\s+')) AS sw
    FROM documents)
SELECT lang, count(*) AS n_docs,
       round(avg(
           (CASE WHEN n_tok >= 5 AND n_tok <= 100000 THEN 1 ELSE 0 END) * 0.4
         + (CASE WHEN punct < 0.3 THEN 1 ELSE 0 END) * 0.3
         + (CASE WHEN sw > 0.01 THEN 1 ELSE 0 END) * 0.3), 4) AS avg_score
FROM m GROUP BY lang
"""


def q23_normalize(spark, sf_dir):
    """Vectorized NFD normalization (the reference's normalize_string,
    etl/silver_to_gold.py:20-29, as a pandas UDF) — oracle via DuckDB
    strip_accents (equal on latin-script inputs)."""
    from ..functions.normalize import normalize_key

    d = load(spark, sf_dir, "documents", spread=True)
    return d.select(
        "doc_id",
        F.md5(normalize_key(F.col("text"))).alias("norm_hash"),
        F.length(normalize_key(F.col("text"))).cast("long").alias("norm_len"),
    )


SQL_Q23 = """
SELECT doc_id,
       md5(trim(regexp_replace(strip_accents(lower(text)), '\\s+', ' ', 'g'))) AS norm_hash,
       length(trim(regexp_replace(strip_accents(lower(text)), '\\s+', ' ', 'g'))) AS norm_len
FROM documents
"""


def q24_minhash_lsh(spark, sf_dir):
    """Banded MinHash LSH candidates verified with EXACT Jaccard: the output
    is the set of near-dup pairs (jaccard ≥ 0.5) that LSH recovered. With 32
    bands × 2 rows, P(miss) at s=0.5 is (1-0.25)^32 ≈ 1e-4 and at the data's
    real near-dup band (s ≥ 0.7) ≈ 4e-10 — so the oracle (all exact pairs ≥
    0.5) matches deterministically, making the whole LSH pipeline
    hash-checkable rather than rows-only."""
    from ..operators.dedup import (
        minhash_lsh_candidates,
        minhash_signatures,
        word_shingles,
    )

    d = load(spark, sf_dir, "documents", spread=True)
    sig = minhash_signatures(d, num_hashes=64, shingle_n=3)
    # candidates feed the id set and the final join — materialize the small
    # pair list once instead of re-running signatures + band join per
    # consumer (same executor-local-persist tradeoff as ngram_jaccard_pairs)
    cand = minhash_lsh_candidates(sig, num_hashes=64, bands=32).localCheckpoint(
        eager=False
    )
    # exact-Jaccard verification only needs the shingle arrays of CANDIDATE
    # docs (~0.1% of the corpus): semi-join the raw docs down first — the
    # previous form shingled the WHOLE corpus twice, once per join side
    # (r6: 3.4 s of q24's 7.8 s at a 50k-doc corpus)
    cids = F.broadcast(
        cand.select(F.col("id_a").alias("doc_id"))
        .union(cand.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    sh = (
        d.select("doc_id", "text")
        .join(cids, "doc_id", "left_semi")
        .select(F.col("doc_id"), word_shingles(F.col("text"), 3).alias("_sh"))
    )
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("_sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("_sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter / (F.size("sh_a") + F.size("sh_b") - inter)
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .filter(jac >= 0.5)
        .select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
    )


SQL_Q24 = """
WITH toks AS (SELECT doc_id,
        string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS w
    FROM documents),
sh AS (SELECT doc_id, CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
        ELSE list_distinct(list_transform(range(1, len(w)-1),
                                          i -> array_to_string(w[i:i+2], ' '))) END AS s
    FROM toks),
ex AS (SELECT doc_id, len(s) AS sz, unnest(s) AS g FROM sh),
pairs AS (SELECT a.doc_id id_a, b.doc_id id_b, a.sz sa, b.sz sb, count(*) nc
          FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
          GROUP BY 1, 2, 3, 4)
SELECT id_a, id_b, round(nc * 1.0 / (sa + sb - nc), 4) AS jaccard
FROM pairs WHERE nc * 1.0 / (sa + sb - nc) >= 0.5
"""


def q25_simhash(spark, sf_dir):
    """SimHash chunk-collision candidates with exact Hamming distance. The
    signature is md5-token-hash bit voting (functions/text.py simhash64), so
    the oracle recomputes identical signatures in pure SQL (md5 + hex-nibble
    bit extraction) and replicates the candidate contract exactly: pairs
    sharing ≥1 equal 16-bit chunk, Hamming ≤ 12."""
    from ..operators.dedup import simhash_near_dups

    d = load(spark, sf_dir, "documents", spread=True)
    # threshold pushed into the operator (pre-dedup; same pair set — the
    # Hamming distance is a pure function of the signatures)
    return simhash_near_dups(d, max_hamming=12).select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    )


SQL_Q25 = """
WITH toks AS (
    SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                      t -> t <> '')) AS tok
    FROM documents),
th AS (SELECT doc_id, md5(tok) AS h FROM toks),
bits AS (
    SELECT doc_id, j,
           ((16 * (strpos('0123456789abcdef', h[2*(j//8)+1:2*(j//8)+1]) - 1)
               + (strpos('0123456789abcdef', h[2*(j//8)+2:2*(j//8)+2]) - 1))
            >> (j % 8)) & 1 AS bit
    FROM th CROSS JOIN (SELECT unnest(range(0, 64)) AS j)),
votes AS (SELECT doc_id, j, sum(2 * bit - 1) AS v FROM bits GROUP BY 1, 2),
sigbits AS (SELECT doc_id, j, CASE WHEN v > 0 THEN 1 ELSE 0 END AS sb FROM votes),
chunks AS (
    SELECT doc_id, j // 16 AS c,
           sum(sb * (1::BIGINT << (j % 16))) AS ck
    FROM sigbits GROUP BY 1, 2),
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM chunks a JOIN chunks b ON a.c = b.c AND a.ck = b.ck
    WHERE a.doc_id < b.doc_id),
ham AS (
    SELECT cand.id_a, cand.id_b,
           CAST(sum(CASE WHEN x.sb <> y.sb THEN 1 ELSE 0 END) AS BIGINT) AS hamming
    FROM cand
    JOIN sigbits x ON x.doc_id = cand.id_a
    JOIN sigbits y ON y.doc_id = cand.id_b AND y.j = x.j
    GROUP BY 1, 2)
SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 12
"""


def q26_lang_id(spark, sf_dir):
    """Heuristic language ID (vectorized pandas UDF, functions/text.py
    lang_id) — distribution of detected languages. The heuristic (CJK
    codepoint share, stopword-profile argmax with first-wins ties) is
    deterministic and mirrored 1:1 in the SQL oracle."""
    from ..functions.text import lang_id

    d = load(spark, sf_dir, "documents", spread=True)
    return (
        d.select(lang_id(F.col("text")).alias("detected"))
        .groupBy("detected")
        .agg(F.count(F.lit(1)).alias("n"))
    )


SQL_Q26 = """
WITH m AS (
    SELECT text,
           len(regexp_extract_all(coalesce(text, ''), '[一-鿿]')) AS cjk,
           greatest(length(coalesce(text, '')), 1) AS total,
           regexp_extract_all(lower(coalesce(text, '')), '[a-zà-ÿ]+') AS toks
    FROM documents),
s AS (
    SELECT text, cjk, total,
        len(list_filter(toks, t -> t IN ('the','and','of','to','is','in','it','you','that','was'))) AS en,
        len(list_filter(toks, t -> t IN ('le','la','les','de','et','un','une','est','que','pour'))) AS fr,
        len(list_filter(toks, t -> t IN ('der','die','das','und','ist','nicht','ein','mit','für','auf'))) AS de,
        len(list_filter(toks, t -> t IN ('el','la','los','de','y','que','es','en','un','por'))) AS es
    FROM m)
SELECT CASE WHEN text IS NULL THEN NULL
            WHEN cjk * 1.0 / total > 0.2 THEN 'zh'
            WHEN greatest(en, fr, de, es) = 0 THEN 'und'
            WHEN en >= fr AND en >= de AND en >= es THEN 'en'
            WHEN fr >= de AND fr >= es THEN 'fr'
            WHEN de >= es THEN 'de'
            ELSE 'es' END AS detected,
       count(*) AS n
FROM s GROUP BY 1
"""


def q27_fingerprint(spark, sf_dir):
    """Winnowing-style document fingerprints: min md5 over word 3-grams of
    the normalized text (functions/text.py mingram_fingerprint_vec, a
    pandas UDF; as a HOF expression the per-gram md5 chain ran
    interpreted, r6: 2.3 s → 0.5 s), portable to the SQL oracle because
    the md5 hex-string min is engine-independent (the Karp-Rabin numeric variant
    stays in the library for production use; its uint64 wrap semantics
    aren't SQL-expressible). Output: collision structure."""
    from ..functions.text import mingram_fingerprint_vec

    d = load(spark, sf_dir, "documents", spread=True)
    return (
        d.select(mingram_fingerprint_vec(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(
            F.count(F.lit(1)).alias("distinct_fps"),
            F.max("n").alias("max_collisions"),
        )
    )


SQL_Q27 = """
WITH toks AS (SELECT doc_id,
        string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS w
    FROM documents),
f AS (
    SELECT list_aggregate(
               CASE WHEN len(w) < 3 THEN [md5(array_to_string(w, ' '))]
                    ELSE list_transform(range(1, len(w)-1),
                                        i -> md5(array_to_string(w[i:i+2], ' ')))
               END, 'min') AS fp
    FROM toks),
g AS (SELECT fp, count(*) AS n FROM f GROUP BY fp)
SELECT count(*) AS distinct_fps, max(n) AS max_collisions FROM g
"""


#: q28 hyperplanes: corpus vectors 100..111, 3 bands × 4 planes (sorted-id
#: order; weight = 2^position-in-band) — data-derived so the oracle can
#: recompute identical sign-bit buckets.
_Q28_PLANES = [(100 + i, i // 4, 1 << (i % 4)) for i in range(12)]
_Q29_CENTROIDS = list(range(200, 208))

_SQL_DOT = (
    "list_reduce(list_transform(range(1, 65), "
    "i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE), (x, y) -> x + y)"
)


def _sql_cos(a, b):
    d = _SQL_DOT.format(a=a, b=b)
    na = _SQL_DOT.format(a=a, b=a)
    nb = _SQL_DOT.format(a=b, b=b)
    return f"({d}) / (sqrt({na}) * sqrt({nb}))"


def q28_ann_lsh(spark, sf_dir):
    """Random-hyperplane LSH ANN with corpus-vector hyperplanes
    (operators/similarity.py corpus_lsh_topk): numpy sign-bit buckets,
    bucket equi-join + exact cosine re-rank. Hyperplanes are corpus rows, so the
    oracle recomputes identical buckets (sequential-fold double dots on both
    sides) — the approximate index becomes hash-checkable. Integer ranks
    only (float32 cos stays out of the hash)."""
    from ..operators.similarity import corpus_lsh_topk

    e = load(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < 5)
    return corpus_lsh_topk(e, probes, plane_ids=[p for p, _, _ in _Q28_PLANES],
                           bands=3, k=5)


SQL_Q28 = f"""
WITH pl AS (SELECT * FROM (VALUES
        {', '.join(f'({p}, {b}, {w})' for p, b, w in _Q28_PLANES)}
    ) AS t(plane_id, band, weight)),
pv AS (SELECT band, weight, embedding AS pe
       FROM pl JOIN embeddings ON vec_id = plane_id),
bk AS (
    SELECT e.vec_id AS id, pv.band,
           sum(CASE WHEN {_SQL_DOT.format(a='e.embedding', b='pv.pe')} > 0
                    THEN pv.weight ELSE 0 END) AS bucket
    FROM embeddings e CROSS JOIN pv GROUP BY 1, 2),
cand AS (
    SELECT DISTINCT p.id AS probe_id, c.id AS neighbor_id
    FROM bk p JOIN bk c ON p.band = c.band AND p.bucket = c.bucket
    WHERE p.id < 5 AND p.id <> c.id),
scored AS (
    SELECT cand.probe_id, cand.neighbor_id,
           {_sql_cos('pe.embedding', 'ce.embedding')} AS cos
    FROM cand
    JOIN embeddings pe ON pe.vec_id = cand.probe_id
    JOIN embeddings ce ON ce.vec_id = cand.neighbor_id),
r AS (SELECT probe_id, neighbor_id,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored)
SELECT probe_id, rank, neighbor_id FROM r WHERE rank <= 5
"""


def q29_ann_ivf(spark, sf_dir):
    """IVF-cell ANN with corpus-vector pseudo-centroids
    (operators/similarity.py corpus_ivf_topk): one numpy top-n cell
    kernel assigns corpus cells and the nprobe=3 probe cells, exact cosine
    re-ranks — and an oracle that re-derives the identical cells. Integer
    ranks only."""
    from ..operators.similarity import corpus_ivf_topk

    # the corpus cells are a pandas UDF per vector, so the corpus scan is
    # spread; the 5 probes are not worth a shuffle
    corpus = load(spark, sf_dir, "embeddings", spread=True)
    probes = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 5)
    return corpus_ivf_topk(corpus, probes, centroid_ids=_Q29_CENTROIDS, nprobe=3, k=5)


SQL_Q29 = f"""
WITH cents AS (SELECT vec_id AS cent_id, embedding AS ce FROM embeddings
               WHERE vec_id IN ({', '.join(str(c) for c in _Q29_CENTROIDS)})),
cc AS (SELECT e.vec_id AS id, e.embedding AS v, cents.cent_id,
              {_sql_cos('e.embedding', 'cents.ce')} AS s
       FROM embeddings e CROSS JOIN cents),
cells AS (
    SELECT id AS neighbor_id, v, cent_id AS cell FROM (
        SELECT *, row_number() OVER (PARTITION BY id ORDER BY s DESC, cent_id) AS rn
        FROM cc)
    WHERE rn = 1),
pcells AS (
    SELECT id AS probe_id, v AS pv, cent_id AS cell FROM (
        SELECT *, row_number() OVER (PARTITION BY id ORDER BY s DESC, cent_id) AS rn
        FROM cc WHERE id < 5)
    WHERE rn <= 3),
scored AS (
    SELECT probe_id, neighbor_id, {_sql_cos('pv', 'v')} AS cos
    FROM pcells JOIN cells USING (cell)
    WHERE probe_id <> neighbor_id),
r AS (SELECT probe_id, neighbor_id,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored)
SELECT probe_id, rank, neighbor_id FROM r WHERE rank <= 5
"""


def q30_media_features(spark, sf_dir):
    """Multimodal decode plumbing, fully oracled: the media table is a
    deterministic Spark-native projection of documents (payload = UTF-8
    bytes of ASCII-stripped text — an opaque binary column downstream),
    decode runs as real mapInPandas over the binary column (Arrow batches,
    numpy kernel — operators/multimodal.py; real codecs stubbed per the
    driver's instruction), and the oracled aggregate uses the exact-integer
    byte_sum feature so an independent engine verifies the distributed
    decode bit-for-bit."""
    from ..operators.multimodal import decode_features, media_from_documents

    d = load(spark, sf_dir, "documents", spread=True)
    feats = decode_features(media_from_documents(d))
    return (
        feats.groupBy("kind")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("byte_sum").alias("sum_bytes"))
        .orderBy("kind")
    )


SQL_Q30 = r"""
WITH m AS (
  SELECT doc_id,
         ['image','audio','video'][(doc_id % 3 + 1)::INT] AS kind,
         substr(regexp_replace(coalesce(text, ''), '[^\x20-\x7e]', '', 'g'), 1, 2048) AS s
  FROM documents),
b AS (
  SELECT kind,
         coalesce(list_sum(list_transform(range(1, least(length(s), 192) + 1),
                                          i -> ord(substr(s, i, 1)))), 0)::BIGINT AS bs
  FROM m)
SELECT kind, count(*) AS n, sum(bs)::BIGINT AS sum_bytes
FROM b GROUP BY kind ORDER BY kind
"""


def q31_word_explode(spark, sf_dir):
    """explode(split(...)) multi-valued → rows (reference F6,
    etl/silver_to_gold.py:89,113,138): top-20 words over documents."""
    d = load(spark, sf_dir, "documents")
    words = d.select(
        F.explode(F.split(F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "), " ")).alias("word")
    )
    return (
        words.filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(20)
    )


SQL_Q31 = """
SELECT g AS word, count(*) AS n
FROM (SELECT unnest(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS g
      FROM documents)
WHERE g <> ''
GROUP BY g ORDER BY n DESC, word ASC LIMIT 20
"""


def q32_cube(spark, sf_dir):
    """CUBE grouping sets (beyond the reference — engine capability check)."""
    o = load(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("spend"))
    )


SQL_Q32 = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n, round(sum(o_totalprice), 2) AS spend
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def q33_union_distinct(spark, sf_dir):
    """UNION + DISTINCT set semantics (reference U1): high-value customers
    from two independent predicates, deduplicated."""
    c = load(spark, sf_dir, "customer")
    a = c.filter(F.col("c_acctbal") > 9000).select("c_custkey", "c_mktsegment")
    b = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey", "c_mktsegment")
    return a.unionByName(b).distinct()


SQL_Q33 = """
SELECT c_custkey, c_mktsegment FROM customer WHERE c_acctbal > 9000
UNION
SELECT c_custkey, c_mktsegment FROM customer WHERE c_mktsegment = 'BUILDING'
"""


def q34_pivot(spark, sf_dir):
    """Pivot with explicit values (deterministic columns): order counts per
    priority pivoted by status."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "o_orderpriority",
            F.coalesce("O", F.lit(0)).alias("n_open"),
            F.coalesce("F", F.lit(0)).alias("n_filled"),
            F.coalesce("P", F.lit(0)).alias("n_partial"),
        )
    )


SQL_Q34 = """
SELECT o_orderpriority,
       CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
       CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
       CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_partial
FROM orders GROUP BY o_orderpriority
"""


def q35_percentiles(spark, sf_dir):
    """Exact interpolated percentiles (quantile_cont semantics) — computed
    by the distributed-selection operator (operators/quantiles.py): range-
    partitioned sort + rank extraction, bounded per-task memory. This
    replaces the builtin ``percentile()`` aggregate, whose O(group size)
    value buffer was round 4's one accepted scale-killer; the exact form now
    scales like a sort. q46 still gates the mergeable sketch
    (``approx_percentile``) for single-pass cases."""
    from ..operators.quantiles import exact_quantiles

    li = load(spark, sf_dir, "lineitem")
    probs = [0.25, 0.5, 0.75, 0.95]
    eq = exact_quantiles(li, ["l_returnflag"], "l_extendedprice", probs)
    agg = [
        F.round(F.max(F.when(F.col("_qi") == i, F.col("_q"))), 4).alias(name)
        for i, name in enumerate(["p25", "p50", "p75", "p95"])
    ]
    return eq.groupBy("l_returnflag").agg(*agg)


SQL_Q35 = """
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
       round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
       round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
       round(quantile_cont(l_extendedprice, 0.95), 4) AS p95
FROM lineitem GROUP BY l_returnflag
"""


def q46_percentile_sketch(spark, sf_dir):
    """Bounded-memory percentiles — the 100-TB path q35 documents:
    ``approx_percentile`` (Greenwald-Khanna sketch; mergeable, per-task
    memory O(accuracy·log n) instead of q35's O(group size) value buffer).

    The sketch value can't hash-match a DuckDB approx oracle, so the gate
    verifies the sketch's CONTRACT exactly instead: each returned quantile's
    true rank interval (computed by a second exact pass) must intersect
    [p·n − n/accuracy − 1, p·n + n/accuracy + 1]. The query returns one
    boolean per quantile per group; the oracle is the all-true table —
    hash equality then proves the rank-error bound held on real data.
    """
    li = load(spark, sf_dir, "lineitem")
    acc = 1000
    probs = (0.25, 0.5, 0.75, 0.95)
    ap = li.groupBy("l_returnflag").agg(
        F.percentile_approx(
            "l_extendedprice", list(probs), acc
        ).alias("_ap"),
        F.count("l_extendedprice").alias("_n"),
    )
    # exact rank interval of each sketch value: [#(< val)+1, #(<= val)].
    # The sketch row stays ONE row per group (quantiles as an array column)
    # and the exact pass computes all 8 conditional sums in one aggregate —
    # posexploding the quantiles before the join multiplied the exact
    # pass's input 4× (every lineitem row re-emitted per quantile) and
    # needed a pivot to fold the booleans back (r6: 1.9 s → 1.2 s).
    sums = []
    for i in range(len(probs)):
        val = F.element_at("_ap", i + 1)
        sums += [
            F.sum((F.col("l_extendedprice") < val).cast("long")).alias(f"_lt{i}"),
            F.sum((F.col("l_extendedprice") <= val).cast("long")).alias(f"_le{i}"),
        ]
    ranks = li.join(F.broadcast(ap), "l_returnflag").groupBy(
        "l_returnflag", "_n"
    ).agg(*sums)
    eps = F.col("_n") / F.lit(acc) + F.lit(1.0)
    names = ["p25_in_bound", "p50_in_bound", "p75_in_bound", "p95_in_bound"]
    oks = [
        (
            (F.col(f"_lt{i}") + 1 <= F.lit(p) * F.col("_n") + eps)
            & (F.col(f"_le{i}") >= F.lit(p) * F.col("_n") - eps)
        ).alias(name)
        for i, (p, name) in enumerate(zip(probs, names))
    ]
    return ranks.select("l_returnflag", *oks)


SQL_Q46 = """
SELECT l_returnflag,
       true AS p25_in_bound, true AS p50_in_bound,
       true AS p75_in_bound, true AS p95_in_bound
FROM lineitem GROUP BY l_returnflag
"""


def q55_quality_rules(spark, sf_dir):
    """Gopher/C4-style document quality rule pack over the corpus — the
    heuristic pre-training filters (Rae et al. 2021 §A1.1; Raffel et al.
    2020 C4): per-doc word count, mean word length, duplicate-word and
    duplicate-bigram fractions (repetition), stopword fraction, and
    most-common-word fraction, combined into a keep/drop decision.

    Scale shape: EVERY metric is a per-row array computation (split →
    higher-order functions, zero shuffle, no UDFs). Top-word fraction —
    max word multiplicity / n — is the max run length of the sorted token
    array, one O(n log n) sort + O(n) aggregate per row; the previous
    explode → (doc, word) count → per-doc max → join form paid two
    shuffles of the exploded corpus plus a join for a metric that only
    ever looks at one row's tokens (r6: 1.65 s of q55's 2.8 s at a
    50k-doc corpus)."""
    d = load(spark, sf_dir, "documents", spread=True).filter(F.col("text").isNotNull())
    w = F.split(F.trim(F.col("text")), r"\s+")
    base = d.select("doc_id", w.alias("_w"))
    n = F.size("_w")
    bg = F.zip_with(
        F.slice("_w", 1, n - 1),
        F.slice(F.col("_w"), 2, n - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    stop_expr = "size(filter(_w, x -> x IN ('the','a','of','to','and','in')))"
    # max word multiplicity = longest equal-run of the sorted token array
    # (split yields no NULL elements, so x <=> s.prev only ties equal words)
    max_mult = F.expr(
        """
        aggregate(
          array_sort(_w),
          named_struct('best', 0L, 'run', 0L, 'prev', cast(null as string)),
          (s, x) -> named_struct(
              'best', greatest(s.best, if(x <=> s.prev, s.run + 1L, 1L)),
              'run',  if(x <=> s.prev, s.run + 1L, 1L),
              'prev', x),
          s -> s.best)
        """
    )
    out = base.select(
        "doc_id",
        n.alias("n_words"),
        F.round(
            F.expr("aggregate(_w, 0L, (acc, x) -> acc + length(x))") / n, 4
        ).alias("mean_word_len"),
        F.round(1.0 - F.size(F.array_distinct("_w")) / n, 4).alias("dup_word_frac"),
        # denominator is statically n-1: F.size(bg) would re-evaluate the
        # whole lambda-bearing zip_with a second time per row (Catalyst
        # does not CSE through lambdas — the word_shingles pitfall)
        F.round(1.0 - F.size(F.array_distinct(bg)) / (n - 1), 4).alias(
            "bigram_dup_frac"
        ),
        F.round(F.expr(stop_expr) / n, 4).alias("stop_frac"),
        F.round(max_mult / n, 4).alias("top_word_frac"),
    )
    keep = (
        (F.col("n_words") >= 20)
        & (F.col("top_word_frac") <= 0.12)
        & (F.col("dup_word_frac") <= 0.65)
        & (F.col("stop_frac") <= 0.15)
        & (F.col("bigram_dup_frac") <= 0.10)
    )
    return out.withColumn("keep", keep)


SQL_Q55 = """
WITH docs AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
    FROM documents WHERE text IS NOT NULL),
ex AS (SELECT doc_id, unnest(w) AS wd FROM docs),
wf AS (SELECT doc_id, wd, count(*) AS c FROM ex GROUP BY doc_id, wd),
tops AS (SELECT doc_id, round(max(c) * 1.0 / sum(c), 4) AS top_word_frac
         FROM wf GROUP BY doc_id),
m AS (SELECT doc_id,
             CAST(len(w) AS BIGINT) AS n_words,
             round(list_aggregate(list_transform(w, x -> length(x)), 'sum')
                   * 1.0 / len(w), 4) AS mean_word_len,
             round(1.0 - len(list_distinct(w)) * 1.0 / len(w), 4) AS dup_word_frac,
             round(1.0 - len(list_distinct(list_transform(
                       list_zip(w[1:len(w)-1], w[2:len(w)]),
                       x -> x[1] || ' ' || x[2]))) * 1.0
                   / (len(w) - 1), 4) AS bigram_dup_frac,
             round(len(list_filter(w, x -> x IN ('the','a','of','to','and','in')))
                   * 1.0 / len(w), 4) AS stop_frac
      FROM docs)
SELECT m.doc_id, m.n_words, m.mean_word_len, m.dup_word_frac, m.bigram_dup_frac,
       m.stop_frac, tops.top_word_frac,
       (m.n_words >= 20 AND tops.top_word_frac <= 0.12 AND m.dup_word_frac <= 0.65
        AND m.stop_frac <= 0.15 AND m.bigram_dup_frac <= 0.10) AS keep
FROM m JOIN tops USING (doc_id)
"""


def q56_pii_redaction(spark, sf_dir):
    """PII scrubbing over the corpus — the redaction pass every
    training-data pipeline runs before tokenization: detect + replace
    email addresses and phone numbers with typed placeholder tokens, and
    count what was redacted (audit trail). Pure codegen
    ``regexp_count``/``regexp_replace`` — no UDFs, fuses into the scan's
    WholeStageCodegen span, embarrassingly parallel at any scale.

    The synthetic corpus carries no PII, so deterministic PII is injected
    on BOTH sides (emails for doc_id≡0 mod 7, phone numbers for ≡0 mod 11)
    — the gate hash-compares the redacted STRINGS, so the two engines'
    regex semantics must agree exactly, not just the counts. Patterns stay
    in the Java∩RE2 common dialect."""
    EMAIL = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
    PHONE = "\\b555-[0-9]{4}\\b"
    d = load(spark, sf_dir, "documents", spread=True).filter(F.col("text").isNotNull())
    aug = d.select(
        "doc_id",
        F.when(
            F.pmod("doc_id", F.lit(7)) == 0,
            F.concat(F.col("text"), F.lit(" contact user"),
                     F.col("doc_id").cast("string"),
                     F.lit("@example.com for details")),
        )
        .when(
            F.pmod("doc_id", F.lit(11)) == 0,
            F.concat(F.col("text"), F.lit(" or call 555-"),
                     F.lpad(F.pmod("doc_id", F.lit(10000)).cast("string"), 4, "0")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return aug.select(
        "doc_id",
        F.regexp_count("text", F.lit(EMAIL)).cast("long").alias("n_emails"),
        F.regexp_count("text", F.lit(PHONE)).cast("long").alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace("text", EMAIL, "<EMAIL>"), PHONE, "<PHONE>"
        ).alias("redacted"),
    )


SQL_Q56 = r"""
WITH aug AS (
    SELECT doc_id,
           CASE WHEN doc_id % 7 = 0
                    THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                         || '@example.com for details'
                WHEN doc_id % 11 = 0
                    THEN text || ' or call 555-'
                         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                ELSE text END AS text
    FROM documents WHERE text IS NOT NULL)
SELECT doc_id,
       CAST(len(regexp_extract_all(text,
            '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text, '\b555-[0-9]{4}\b')) AS BIGINT) AS n_phones,
       regexp_replace(
           regexp_replace(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}',
                          '<EMAIL>', 'g'),
           '\b555-[0-9]{4}\b', '<PHONE>', 'g') AS redacted
FROM aug
"""


def q57_sequence_packing(spark, sf_dir):
    """Sample packing for pretraining: assign documents to fixed-budget
    token sequences ("packs"). Uses offset packing — a doc starts in the
    pack its cumulative-token offset falls into (docs may straddle a
    boundary and be split downstream, exactly like production packing) —
    which is a pure prefix-sum, unlike greedy bin packing (inherently
    sequential). The prefix sum runs WITHIN hash shards (pmod(doc_id, 8)):
    shard-local packing needs zero cross-shard coordination, so the only
    shuffle is the per-shard window and the shard count scales with the
    cluster. Output: per (shard, pack) doc count + token count."""
    from ..functions.text import token_count_expr

    TARGET = 512
    d = load(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.trim("text") != "")
    )
    toks = d.select(
        "doc_id",
        F.pmod("doc_id", F.lit(8)).cast("int").alias("shard"),
        token_count_expr(F.col("text")).cast("long").alias("tokens"),
    )
    w = W.partitionBy("shard").orderBy("doc_id")
    packed = toks.withColumn(
        "pack_id",
        F.floor((F.sum("tokens").over(w) - F.col("tokens")) / F.lit(TARGET)).cast("long"),
    )
    return (
        packed.groupBy("shard", "pack_id")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("tokens").alias("tokens_in_pack"))
        .orderBy("shard", "pack_id")
    )


SQL_Q57 = """
WITH toks AS (
    SELECT doc_id, CAST(doc_id % 8 AS INT) AS shard,
           CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS tokens
    FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
packed AS (
    SELECT shard, tokens,
           CAST(floor((sum(tokens) OVER (PARTITION BY shard ORDER BY doc_id)
                       - tokens) / 512) AS BIGINT) AS pack_id
    FROM toks)
SELECT shard, pack_id, count(*) AS n_docs,
       CAST(sum(tokens) AS BIGINT) AS tokens_in_pack
FROM packed GROUP BY shard, pack_id ORDER BY shard, pack_id
"""


def q58_source_mixing(spark, sf_dir):
    """Source-weighted corpus mixing (the data-mixture step: keep source i
    with probability w_i): membership is a pure function of content hash —
    first md5 nibble < rate·16 — so the mixture is deterministic, stable
    under repartitioning, and reproducible (never ``rand()``, same
    principle as q42's split). Per-source rates derive from the source id
    (quarters .25/.5/.75/1.0). Output: per-source totals, kept counts, and
    kept tokens for the mixture audit."""
    from ..functions.text import token_count_expr

    d = load(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.trim("text") != "")
    )
    src_num = F.regexp_extract("source", "([0-9]+)$", 1).cast("int")
    rate = (F.pmod(src_num, F.lit(4)) + 1) / 4.0
    nibble = F.conv(F.substring(F.md5("text"), 1, 1), 16, 10).cast("int")
    keep = nibble < rate * 16
    return (
        d.select(
            "source", rate.alias("rate"), keep.alias("_k"),
            token_count_expr(F.col("text")).cast("long").alias("_t"),
        )
        .groupBy("source", "rate")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.col("_k").cast("long")).alias("n_kept"),
            F.sum(F.when(F.col("_k"), F.col("_t")).otherwise(0)).alias("kept_tokens"),
        )
        .orderBy("source")
    )


SQL_Q58 = """
WITH d AS (
    SELECT source,
           (TRY_CAST(regexp_extract(source, '([0-9]+)$', 1) AS INT) % 4 + 1) / 4.0 AS rate,
           (strpos('0123456789abcdef', substr(md5(text), 1, 1)) - 1) AS nib,
           CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS t
    FROM documents WHERE text IS NOT NULL AND trim(text) <> '')
SELECT source, rate, count(*) AS n_total,
       CAST(sum(CASE WHEN nib < rate * 16 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN nib < rate * 16 THEN t ELSE 0 END) AS BIGINT) AS kept_tokens
FROM d GROUP BY source, rate ORDER BY source
"""


def q59_dedup_clusters(spark, sf_dir):
    """Near-dup PAIRS → dedup CLUSTERS: connected components over the q21
    similarity graph (operators/dedup.py connected_components — Pregel-
    shaped min-label propagation, a driver-coordinated iterative DataFrame
    loop Spark cannot express as one query). Output: one row per
    multi-document cluster (canonical min-id representative, member count)
    — the unit a dedup pipeline keeps one document from.

    The oracle computes the same components with a recursive CTE over the
    same exact-Jaccard pair set; CC is unique for a given graph, so any
    correct algorithm must hash-match."""
    from ..operators.dedup import connected_components, ngram_jaccard_pairs

    d = load(spark, sf_dir, "documents", spread=True)
    pairs = ngram_jaccard_pairs(d, threshold=0.5).select("id_a", "id_b")
    cc = connected_components(pairs)
    return (
        cc.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("cluster_id")
    )


SQL_Q59 = """
WITH RECURSIVE toks AS (SELECT doc_id,
        string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS w
    FROM documents),
sh AS (SELECT doc_id, CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
        ELSE list_distinct(list_transform(range(1, len(w)-1),
                                          i -> array_to_string(w[i:i+2], ' '))) END AS s
    FROM toks),
ex AS (SELECT doc_id, len(s) AS sz, unnest(s) AS g FROM sh),
rawp AS (SELECT a.doc_id id_a, b.doc_id id_b, a.sz sa, b.sz sb, count(*) nc
         FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
         GROUP BY 1, 2, 3, 4),
pairs AS (SELECT id_a, id_b FROM rawp
          WHERE round(nc * 1.0 / (sa + sb - nc), 6) >= 0.5),
edges AS (SELECT id_a AS a, id_b AS b FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
cc(id, label) AS (
    SELECT a, a FROM edges
    UNION
    SELECT e.b, cc.label FROM cc JOIN edges e ON e.a = cc.id
)
SELECT label_min AS cluster_id, CAST(count(*) AS BIGINT) AS n_docs
FROM (SELECT id, min(label) AS label_min FROM cc GROUP BY id)
GROUP BY 1 ORDER BY cluster_id
"""


def q36_scd2_intervals(spark, sf_dir):
    """SCD2 version intervals from a CDC feed (the reference's
    effective_from/effective_to/is_current row versioning,
    etl/bronze_to_silver.py:255-263, sql/ddl/01_create_dimensions.sql:78-81,
    derived declaratively): per key, LWW-ordered events collapse into
    versions at every payload change; effective_to = next version's
    effective_from; the last version is current. Windows shuffle per key
    with small per-key partitions — skew-safe."""
    from .flagship import _as_cdc

    ev = _as_cdc(load(spark, sf_dir, "events"))
    w = W.partitionBy("conv_id", "turn_idx").orderBy(
        F.coalesce(F.col("ts"), F.lit("1970-01-01").cast("timestamp")), "lsn"
    )
    changed = (
        (F.row_number().over(w) == 1)
        | ~F.col("role").eqNullSafe(F.lag("role").over(w))
        | ~F.col("text").eqNullSafe(F.lag("text").over(w))
        | ~F.col("op").eqNullSafe(F.lag("op").over(w))
    )
    vers = ev.withColumn("_chg", changed).filter(F.col("_chg"))
    w2 = W.partitionBy("conv_id", "turn_idx").orderBy(
        F.coalesce(F.col("ts"), F.lit("1970-01-01").cast("timestamp")), "lsn"
    )
    return vers.select(
        "conv_id",
        "turn_idx",
        F.row_number().over(w2).cast("long").alias("version_no"),
        "role",
        "text",
        (F.col("op") == "D").alias("deleted"),
        F.col("ts").alias("effective_from"),
        F.lead("ts").over(w2).alias("effective_to"),
        F.lead("ts").over(w2).isNull().alias("is_current"),
    )


SQL_Q36 = """
WITH ev AS (
    SELECT CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
           event_id AS lsn,
           CAST(user_id AS VARCHAR) AS conv_id,
           CAST(event_id % 50 AS INT) AS turn_idx,
           event_type AS role, props AS text, ts
    FROM events),
o AS (
    SELECT *,
           lag(role) OVER w AS p_role, lag(text) OVER w AS p_text,
           lag(op) OVER w AS p_op,
           row_number() OVER w AS rn
    FROM ev
    WINDOW w AS (PARTITION BY conv_id, turn_idx
                 ORDER BY coalesce(ts, TIMESTAMP '1970-01-01'), lsn)),
vers AS (
    SELECT * FROM o
    WHERE rn = 1
       OR role IS DISTINCT FROM p_role
       OR text IS DISTINCT FROM p_text
       OR op IS DISTINCT FROM p_op)
SELECT conv_id, turn_idx,
       row_number() OVER w2 AS version_no,
       role, text, (op = 'D') AS deleted,
       ts AS effective_from,
       lead(ts) OVER w2 AS effective_to,
       (lead(ts) OVER w2 IS NULL) AS is_current
FROM vers
WINDOW w2 AS (PARTITION BY conv_id, turn_idx
              ORDER BY coalesce(ts, TIMESTAMP '1970-01-01'), lsn)
"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

def q37_cosine_neardup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (the 5th dedup family next to
    exact/MinHash/SimHash/Jaccard): blocked-exact — one numpy/BLAS matmul
    per block via applyInPandas (similarity.cosine_neardup_pairs_matmul,
    pair-tested against a JVM-HOF fold in tests/parity_references.py).
    Id-pairs out, integers only; the float
    threshold has a verified >2e-3 margin on the test corpus (BLAS-vs-
    sequential summation differs by ~1e-12), so both engines agree on
    membership."""
    from ..operators.similarity import cosine_neardup_pairs_matmul

    e = load(spark, sf_dir, "embeddings")
    return (
        cosine_neardup_pairs_matmul(e, threshold=0.39, block_col="label")
        .select("id_a", "id_b")
        .orderBy("id_a", "id_b")
    )


SQL_Q37 = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b
FROM embeddings a JOIN embeddings b
  ON a.label = b.label AND a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.39
ORDER BY id_a, id_b
"""


def q38_asof_join(spark, sf_dir):
    """Point-in-time (as-of) join: each event matched to the customer's
    latest order at-or-before the event timestamp — union + per-key window,
    ONE shuffle, no join explosion (operators/asof.py). Determinism among
    same-(key, ts) orders comes from the operator's ``right_tiebreak``
    (max o_orderkey wins), which folds the former max_by pre-dedup — a
    full extra shuffle+aggregate of the orders side — into the window's
    existing sort (r6: 2.8 s → 2.1 s at the 10× corpus). The event_id
    column is never aggregated, so it stays out of the plan (narrower
    exchange). Oracle: DuckDB's native ASOF LEFT JOIN."""
    from ..operators.asof import asof_join

    ev = load(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    latest = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        "o_orderdate",
        "o_orderkey",
        "o_totalprice",
    )
    j = asof_join(
        ev, latest, on="user_id", left_ts="ts", right_ts="o_orderdate",
        payload_cols=["o_orderkey", "o_totalprice"], right_tiebreak="o_orderkey",
    )
    return (
        j.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count("o_orderkey").alias("n_matched"),
            F.sum(F.floor("o_totalprice").cast("long")).alias("sum_price_int"),
        )
        .orderBy("event_type")
    )


SQL_Q38 = """
WITH latest AS (
  SELECT o_custkey AS user_id, o_orderdate,
         max(o_orderkey) AS o_orderkey,
         max_by(o_totalprice, o_orderkey) AS o_totalprice
  FROM orders GROUP BY 1, 2),
j AS (
  SELECT e.event_type, l.o_orderkey, l.o_totalprice
  FROM events e ASOF LEFT JOIN latest l
    ON e.user_id = l.user_id AND e.ts >= l.o_orderdate)
SELECT event_type, count(*) AS n_events, count(o_orderkey) AS n_matched,
       CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT) AS sum_price_int
FROM j GROUP BY event_type ORDER BY event_type
"""


def _range_count_lut(points, keys, sub_us, span_us):
    """Build the per-(key, sub-bucket) lookup table for bucketed range
    counting over ``points`` (column ``t``, long µs, non-null; optional
    equi ``keys``): for every bucket b in the dense global span it carries

      _al  = point array of bucket b            (probe's low boundary bucket)
      _ah  = point array of bucket b + k        (high boundary bucket)
      _Plo = prefix point count through b
      _Phi = prefix count through b + k − 1     (bh − 1)

    where k = span/sub. Because every probe range is exactly ``span_us``
    wide and ``sub_us`` divides ``span_us``, the high bucket is ALWAYS
    bl + k — so all four lookups key on bl alone and ride ONE broadcast
    hash join (the previous four-join form built four separate broadcast
    relations and recomputed the bucket aggregates under each; r6
    measurement: q39 8.7 s → see OPTIMIZATION_r06.md). The _ah/_Phi
    columns come from lead(k)/lead(k−1) over the dense frame, exact
    because the frame has every bucket of the span (consecutive ints).
    The dense span is extended k buckets BELOW the first point too, so a
    probe whose range starts before all points but overlaps them still
    finds its row (prefix 0 there); a probe whose low bucket lies above
    the last point's bucket (in the extension above the span, or past it)
    has a true count of 0, which :func:`_attach_range_count` returns."""
    k = span_us // sub_us
    pts = points.withColumn("_pb", F.expr(f"t div {sub_us}"))
    per_b = pts.groupBy(*keys, "_pb").agg(
        F.collect_list("t").alias("_al"), F.count(F.lit(1)).alias("_bn")
    )
    gb = pts.agg(
        (F.min("_pb") - F.lit(k)).alias("_gmin"),
        (F.max("_pb") + F.lit(k)).alias("_gmax"),
    )
    keyspace = pts.select(*keys).distinct() if keys else None
    dense = (
        keyspace.crossJoin(gb) if keyspace is not None else gb
    ).select(*keys, F.explode(F.sequence("_gmin", "_gmax")).alias("_pb"))
    base = (W.partitionBy(*keys) if keys else W.partitionBy(F.lit(1))).orderBy("_pb")
    wcum = base.rowsBetween(W.unboundedPreceding, 0)
    return (
        dense.join(per_b, [*keys, "_pb"], "left")
        .withColumn("_P", F.sum(F.coalesce("_bn", F.lit(0))).over(wcum))
        .select(
            *keys,
            "_pb",
            "_al",
            F.lead("_al", k).over(base).alias("_ah"),
            F.col("_P").alias("_Plo"),
            F.lead("_P", k - 1).over(base).alias("_Phi"),
        )
    )


def _attach_range_count(probes, lut, keys, sub_us):
    """Attach ``_rc`` = number of points with t ∈ [probe._lo, probe._hi]
    to ``probes`` via one broadcast join against a :func:`_range_count_lut`
    table built with the same keys/sub/span. The probe's range covers two
    PARTIAL boundary buckets (scanned via the ~span/sub-element arrays)
    and k−1 FULL interior buckets, counted in O(1) as the prefix-count
    difference _Phi − _Plo. The boundary splits are exact because within
    bucket bl every point is ≤ _hi (bucket end ≤ _lo + span) and within
    bh every point is ≥ _lo. A null probe _lo/_hi yields _rc = 0 (the
    join misses), matching a null-timestamp row matching no interval. The
    count is clamped at 0: past the last point the prefix difference
    _Phi − _Plo goes negative (_Phi runs off the dense frame) where the
    true count is 0."""
    pr = probes.withColumn("_bl", F.expr(f"_lo div {sub_us}"))
    j = pr.join(
        F.broadcast(lut.withColumnRenamed("_pb", "_bl")), [*keys, "_bl"], "left"
    )
    lo, hi = F.col("_lo"), F.col("_hi")
    scan = lambda arr, pred: F.coalesce(F.size(F.filter(arr, pred)), F.lit(0))  # noqa: E731
    rc = F.greatest(
        scan(F.col("_al"), lambda x: x >= lo)
        + F.coalesce("_Phi", F.lit(0)) - F.coalesce("_Plo", F.lit(0))
        + scan(F.col("_ah"), lambda x: x <= hi),
        F.lit(0),
    )
    return j.withColumn("_rc", rc).drop("_al", "_ah", "_Plo", "_Phi", "_bl")


def q39_interval_join(spark, sf_dir):
    """Interval (range) join with NO equi key: every event falling inside
    the 30-minute window after any signup event. This AGGREGATE over the
    pairs is computed without materializing them (the pair-enumerating
    bucketed interval join it replaced is the test reference in
    tests/parity_references.py) — at sf1.0 the true pair count is
    1.4e8 and enumerating it (plus an Expand for the two countDistincts)
    was 100 s of the 265 s suite (guide §1.2: fix the distributed
    algorithm first).

    Count form (exact, oracle SQL_Q39 unchanged): with W = 30 min,
      m(e)   = #signups w with ts_w in [ts_e - W, ts_e], minus the self
               pair when e is itself a signup (event_id is unique per row
               for every generator SF, so the self pair is e's own row),
      c_T(w) = #events of type T with ts_e in [ts_w, ts_w + W], minus the
               self pair when T = 'signup'.
    Per type: n_pairs = sum m(e), n_events = #{e : m(e) >= 1}, n_windows =
    #{w : c_T(w) >= 1}; a type appears in the output iff n_pairs >= 1 iff
    n_windows >= 1, so the two branches inner-join losslessly.

    Each range count is a bucketed rank lookup (_range_count_lut /
    _attach_range_count): fixed sub-buckets of W/16, per-bucket point
    arrays for the two partial boundary buckets (~10 elements each) and a
    dense per-bucket prefix-count table for the full interior buckets — so
    a probe costs ONE broadcast-map lookup plus two ~10-element scans,
    instead of scanning the ~280 co-window points (or producing ~280 join
    rows) per probe. Both sides share ONE type-keyed lookup table
    (localCheckpointed, so the aggregate+window build runs once): the
    events side probes it with key 'signup' over [t−W, t], the windows
    side with each type over [t, t+W]. Integer-µs arithmetic throughout
    (unix_micros), so boundary pairs compare exactly as the
    timestamp-domain join condition. No pair row ever exists: the widest
    stream is |events| rows (events side) and |signups| x |types| rows
    (windows side)."""
    W_US = 1_800_000_000  # 30 min in µs
    SUB = W_US // 16  # sub-bucket width; 16 sub-buckets per window length

    ev = load(spark, sf_dir, "events").select("event_id", "ts", "event_type")
    us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    e = ev.select("event_type", us.alias("t"))
    is_signup = F.col("event_type") == "signup"
    sig = e.filter(is_signup & F.col("t").isNotNull())

    # one shared lookup table, keyed by event type via a null sentinel so a
    # null type (absent from the generator, but cheap to keep exact) still
    # matches its own per-bucket arrays the way the pair join's groupBy
    # would
    tkey = F.coalesce(F.col("event_type"), F.lit("\x00"))
    pts = e.filter(F.col("t").isNotNull()).select(tkey.alias("_tk"), "t")
    lut = _range_count_lut(pts, ["_tk"], SUB, W_US).localCheckpoint(eager=False)

    # ---- events side: m(e) = signups in [t-W, t] ------------------------
    probes = e.select(
        "event_type",
        "t",
        F.lit("signup").alias("_tk"),
        (F.col("t") - F.lit(W_US)).alias("_lo"),
        F.col("t").alias("_hi"),
    )
    counted = _attach_range_count(probes, lut, ["_tk"], SUB)
    m = F.col("_rc") - F.when(is_signup & F.col("t").isNotNull(), 1).otherwise(0)
    ev_side = (
        counted.select("event_type", m.alias("_m"))
        .filter(F.col("_m") >= 1)
        .groupBy("event_type")
        .agg(F.sum("_m").alias("n_pairs"), F.count(F.lit(1)).alias("n_events"))
    )

    # ---- windows side: c_T(w) = type-T events in [t, t+W] ---------------
    types = e.select(F.col("event_type").alias("_ty")).distinct()
    wprobes = (
        sig.select("t")
        .crossJoin(F.broadcast(types))
        .select(
            "_ty",
            F.coalesce(F.col("_ty"), F.lit("\x00")).alias("_tk"),
            "t",
            F.col("t").alias("_lo"),
            (F.col("t") + F.lit(W_US)).alias("_hi"),
        )
    )
    wcounted = _attach_range_count(wprobes, lut, ["_tk"], SUB)
    c = F.col("_rc") - F.when(F.col("_ty").eqNullSafe("signup"), 1).otherwise(0)
    win_side = (
        wcounted.select(F.col("_ty").alias("event_type"), c.alias("_c"))
        .filter(F.col("_c") >= 1)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_windows"))
    )

    return (
        ev_side.join(win_side, "event_type")
        .select("event_type", "n_pairs", "n_events", "n_windows")
        .orderBy("event_type")
    )



SQL_Q39 = """
SELECT e.event_type, count(*) AS n_pairs,
       count(DISTINCT e.event_id) AS n_events,
       count(DISTINCT w.event_id) AS n_windows
FROM events e JOIN events w
  ON w.event_type = 'signup'
 AND e.ts >= w.ts AND e.ts <= w.ts + INTERVAL 30 MINUTE
 AND e.event_id <> w.event_id
GROUP BY e.event_type ORDER BY e.event_type
"""


def _q40_cdc_changelog(spark, sf_dir):
    """CDC-out changelog (lake.changes snapshot diff) — see
    plans/flagship.py:cdc_changes."""
    from . import flagship

    return flagship.cdc_changes(spark, sf_dir)


def q41_corpus_prep(spark, sf_dir):
    """Capstone: the full training-data prep pipeline as ONE declarative
    plan — exact dedup (keep the lowest doc_id per content fingerprint) →
    quality gate (composite score ≥ 0.7) → per-language corpus stats
    (docs kept, token budget, mean quality). Every stage is the operator
    already gated individually (q18 dedup, q22 quality, q17 tokens); this
    query verifies their COMPOSITION end-to-end against one SQL oracle.
    Shape at scale: ONE corpus pass and one shuffle — per-doc metrics
    (quality, tokens) are pure functions of the row, so they are computed
    alongside the fingerprint and the dedup's min-doc_id winner carries
    them through min_by(struct(...), doc_id); the previous
    keepers-then-semi-join form scanned (and re-tokenized) the corpus
    twice (r6: 5.2 s → 2.9 s at a 50k-doc corpus). Exactly equivalent:
    min_by picks the keeper row's OWN raw-text metrics, the same rows the
    semi-join kept."""
    from ..functions.text import fingerprint_expr, quality_score_expr, token_count_expr

    d = load(spark, sf_dir, "documents", spread=True)
    kept = (
        d.select(
            fingerprint_expr(F.col("text")).alias("_fp"),
            "doc_id",
            F.struct(
                F.col("lang"),
                quality_score_expr(F.col("text")).alias("_q"),
                token_count_expr(F.col("text")).cast("long").alias("_tok"),
            ).alias("_m"),
        )
        .groupBy("_fp")
        .agg(F.min_by("_m", F.col("doc_id")).alias("_m"))
        .select("_m.lang", "_m._q", "_m._tok")
        .filter(F.col("_q") >= 0.7)
    )
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_tok").alias("token_budget"),
            F.round(F.avg("_q"), 4).alias("avg_quality"),
        )
        .orderBy("lang")
    )


SQL_Q41 = """
WITH keepers AS (
    SELECT min(doc_id) AS doc_id
    FROM documents
    GROUP BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))),
m AS (
    SELECT lang, text,
           len(string_split_regex(trim(text), '\\s+')) AS n_tok,
           (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
               * 1.0 / length(text) AS punct,
           len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
               t -> t IN ('the','a','of','to','and','in','is','it','for','on')))
               * 1.0 / len(string_split_regex(lower(trim(text)), '\\s+')) AS sw
    FROM documents WHERE doc_id IN (SELECT doc_id FROM keepers)),
q AS (
    SELECT lang, n_tok,
           (CASE WHEN n_tok >= 5 AND n_tok <= 100000 THEN 1 ELSE 0 END) * 0.4
         + (CASE WHEN punct < 0.3 THEN 1 ELSE 0 END) * 0.3
         + (CASE WHEN sw > 0.01 THEN 1 ELSE 0 END) * 0.3 AS score
    FROM m)
SELECT lang, count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS token_budget,
       round(avg(score), 4) AS avg_quality
FROM q WHERE score >= 0.7
GROUP BY lang ORDER BY lang
"""


def q42_train_val_split(spark, sf_dir):
    """Deterministic content-hash train/val split (the standard leakage-safe
    split for training corpora: membership is a pure function of content,
    stable across runs/partitionings — never rand()). val = first md5 hex
    nibble '0' (≈1/16); per (split, lang) doc counts + token budget."""
    from ..functions.text import token_count_expr

    d = load(spark, sf_dir, "documents", spread=True).filter(
        F.col("text").isNotNull() & (F.trim("text") != "")
    )
    split = F.when(F.substring(F.md5("text"), 1, 1) == "0", "val").otherwise("train")
    return (
        d.select(split.alias("split"), "lang", token_count_expr(F.col("text")).alias("_t"))
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum(F.col("_t").cast("long")).alias("tokens"))
        .orderBy("split", "lang")
    )


SQL_Q42 = """
SELECT CASE WHEN substr(md5(text), 1, 1) = '0' THEN 'val' ELSE 'train' END AS split,
       lang, count(*) AS n_docs,
       CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS tokens
FROM documents
WHERE text IS NOT NULL AND trim(text) <> ''
GROUP BY 1, 2 ORDER BY split, lang
"""


def q43_contamination(spark, sf_dir):
    """Cross-source contamination check (did benchmark/eval text leak into
    a training shard?): near-dup fingerprint (min-md5 winnowing over word
    3-grams) shared across different sources, doc-pair counts per source
    pair. Scale shape: aggregate to (fingerprint, source, n) FIRST, then
    self-join the aggregated table — the join input is |distinct fp ×
    sources|, never |docs|², and pair counts come out as n_a·n_b (equal to
    the naive doc-level self-join the oracle runs)."""
    from ..functions.text import mingram_fingerprint_vec

    d = load(spark, sf_dir, "documents")
    per = (
        d.select(mingram_fingerprint_vec(F.col("text")).alias("_fp"), "source")
        .groupBy("_fp", "source")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    # both self-join sides consume `per`; one side is broadcast, so there
    # is no exchange to reuse and the whole fingerprint+aggregate subtree
    # would execute twice (~2 s each at sf1.0) — materialize it once
    # (executor-local, freed with the frame; the ngram-postings tradeoff)
    per = per.localCheckpoint(eager=False)
    a = per.select("_fp", F.col("source").alias("source_a"), F.col("_n").alias("_na"))
    b = per.select("_fp", F.col("source").alias("source_b"), F.col("_n").alias("_nb"))
    return (
        a.join(b, "_fp")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.sum(F.col("_na") * F.col("_nb")).alias("n_pairs"))
        .orderBy(F.desc("n_pairs"), "source_a", "source_b")
    )


SQL_Q43 = """
WITH toks AS (SELECT doc_id, source,
        string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS w
    FROM documents),
fp AS (SELECT doc_id, source,
        CASE WHEN len(w) < 3 THEN md5(array_to_string(w, ' '))
        ELSE list_min(list_transform(range(1, len(w)-1),
                                     i -> md5(array_to_string(w[i:i+2], ' ')))) END AS f
    FROM toks)
SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_pairs
FROM fp a JOIN fp b ON a.f = b.f AND a.source < b.source
GROUP BY 1, 2 ORDER BY n_pairs DESC, source_a, source_b
"""


from . import flagship as _flagship  # noqa: E402

_SQL_Q40 = _flagship.SQL_CDC_CHANGES


# The driver's correctness gate evaluates only the FIRST 50 entries of
# queries() in iteration order (60 are registered).  Order therefore
# encodes priority (VERDICT r3 item 1): q00/q54 (both CDC write paths,
# prepended by __spark_entry__.py) and every operator family whose ONLY
# driver gate is that query come first, followed by the LLM-pipeline and
# transcript-analytics gates.  The 10 entries in the "past-cap" block at
# the bottom are redundantly covered shapes (their operator families have
# another in-cap gate) — they still run under the same DuckDB oracle in
# tests/test_entry.py every round and in scripts/full_correctness.py's
# committed all-60 artifact, so a regression there is not invisible.
REGISTRY: dict[str, tuple] = {
    "q01_pricing_summary": (q01_pricing_summary, SQL_Q01),
    "q03_share_of_total": (q03_share_of_total, SQL_Q03),
    "q04_conditional_agg": (q04_conditional_agg, SQL_Q04),
    "q05_having": (q05_having, SQL_Q05),
    "q06_semi_join": (q06_semi_join, SQL_Q06),
    "q08_star_join": (q08_star_join, SQL_Q08),
    "q09_stats_pack": (q09_stats_pack, SQL_Q09),
    "q11_date_arith": (q11_date_arith, SQL_Q11),
    "q12_distinct_agg": (q12_distinct_agg, SQL_Q12),
    "q13_lww_latest": (q13_lww_latest, SQL_Q13),
    "q15_weekly_rollup": (q15_weekly_rollup, SQL_Q15),
    "q18_exact_dedup": (q18_exact_dedup, SQL_Q18),
    "q20_ann_bruteforce": (q20_ann_bruteforce, SQL_Q20),
    "q21_ngram_jaccard": (q21_ngram_jaccard, SQL_Q21),
    "q22_quality_score": (q22_quality_score, SQL_Q22),
    "q23_normalize": (q23_normalize, SQL_Q23),
    "q24_minhash_lsh": (q24_minhash_lsh, SQL_Q24),
    "q25_simhash": (q25_simhash, SQL_Q25),
    "q26_lang_id": (q26_lang_id, SQL_Q26),
    "q27_fingerprint": (q27_fingerprint, SQL_Q27),
    "q28_ann_lsh": (q28_ann_lsh, SQL_Q28),
    "q29_ann_ivf": (q29_ann_ivf, SQL_Q29),
    "q30_media_features": (q30_media_features, SQL_Q30),
    "q31_word_explode": (q31_word_explode, SQL_Q31),
    "q33_union_distinct": (q33_union_distinct, SQL_Q33),
    "q36_scd2_intervals": (q36_scd2_intervals, SQL_Q36),
    "q37_cosine_neardup": (q37_cosine_neardup, SQL_Q37),
    "q38_asof_join": (q38_asof_join, SQL_Q38),
    "q39_interval_join": (q39_interval_join, SQL_Q39),
    "q40_cdc_changelog": (_q40_cdc_changelog, _SQL_Q40),
    "q41_corpus_prep": (q41_corpus_prep, SQL_Q41),
    "q42_train_val_split": (q42_train_val_split, SQL_Q42),
    "q43_contamination": (q43_contamination, SQL_Q43),
    "q44_sql_surface": (
        lambda spark, sf_dir: _flagship.cdc_sql_surface(spark, sf_dir),
        _flagship.SQL_CDC_SQL_SURFACE,
    ),
    "q45_time_travel": (
        lambda spark, sf_dir: _flagship.cdc_time_travel(spark, sf_dir),
        _flagship.SQL_CDC_TIME_TRAVEL,
    ),
    "q46_percentile_sketch": (q46_percentile_sketch, SQL_Q46),
    "q55_quality_rules": (q55_quality_rules, SQL_Q55),
    "q56_pii_redaction": (q56_pii_redaction, SQL_Q56),
    "q57_sequence_packing": (q57_sequence_packing, SQL_Q57),
    "q58_source_mixing": (q58_source_mixing, SQL_Q58),
    "q59_dedup_clusters": (q59_dedup_clusters, SQL_Q59),
}

# q47–q53: reference transcript analytics over replayed lake state —
# inside the driver cap (with q00+q54 prepended this closes the count at 50)
from .transcript_gate import GATE_REGISTRY as _TG  # noqa: E402

REGISTRY.update(_TG)

# Past-cap block: redundantly-covered shapes (see comment above REGISTRY).
# Family coverage that keeps each honest inside the cap: q02 top-k groupBy →
# q04/q18/q31; q07 anti join → q06 semi (same plan family, engine addition);
# q10 CASE ladder → q51 anomaly listing; q14 JSON extract → engine addition,
# pytest-oracled; q16 sessionize → pytest-oracled (test_entry); q17 text
# metrics → q22/q26/q27; q19 lang profile → q01 (avg) + q26 (lang id);
# q32/q34/q35 cube/pivot/exact-percentile → engine additions (q46 gates the
# production percentile sketch).
REGISTRY.update(
    {
        "q02_top_brands": (q02_top_brands, SQL_Q02),
        "q07_anti_join": (q07_anti_join, SQL_Q07),
        "q10_case_ladder": (q10_case_ladder, SQL_Q10),
        "q14_json_extract": (q14_json_extract, SQL_Q14),
        "q16_sessionize": (q16_sessionize, SQL_Q16),
        "q17_text_metrics": (q17_text_metrics, SQL_Q17),
        "q19_lang_profile": (q19_lang_profile, SQL_Q19),
        "q32_cube": (q32_cube, SQL_Q32),
        "q34_pivot": (q34_pivot, SQL_Q34),
        "q35_percentiles": (q35_percentiles, SQL_Q35),
    }
)
