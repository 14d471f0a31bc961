"""Driver-gated wrappers for the 7 reference transcript analytics
(sql/queries/analytics.sql:5-176 → plans/transcript_analytics.py), run over
REPLAYED LAKE STATE so the gates exercise the full engine path end-to-end:
WAL-shaped events → lake MERGE → live state → analytics.

The oracle side rebuilds the same state as a DuckDB LWW CTE over the raw
events (exactly the q44/q45 oracle construction) and runs the ANSI analog
of each query — so a green row ties the reference query semantics to the
lake engine, not to a lookalike DataFrame.

The transcript `tool` column (absent from the generic events table) is
derived deterministically from turn_idx on BOTH sides — same values, no
randomness, exercised through the lake round-trip.

All seven queries share ONE replay per (process, sf_dir): the state is
memoized, so the driver's sequential q47..q53 runs replay once (the lake
root itself is family-scoped scratch, swept per flagship's lifecycle).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from . import transcript_analytics as TA
from .flagship import _replay

def _tool_expr():
    """Deterministic tool derivation (mirrored in _STATE_CTE below); built
    lazily — Columns need an active SparkContext."""
    return F.when(
        F.pmod(F.col("turn_idx"), F.lit(3)) == 0,
        F.concat(F.lit("tool_"), F.pmod(F.col("turn_idx"), F.lit(7)).cast("string")),
    )

_TQ_STATE: dict[str, object] = {}


def transcript_state(spark, sf_dir: str):
    """Replay sf_dir/events.parquet through the lake in two batches, once
    per process, and return the live state with the derived ``tool``
    column; memoized so the seven gated queries share the replay."""
    # key the memo on the live session too: a DataFrame cached under a
    # stopped SparkSession is unusable and must be rebuilt under the new one
    key = (spark.sparkContext.applicationId, sf_dir)
    cached = _TQ_STATE.get(key)
    if cached is not None:
        return cached
    import hashlib

    # prefix carries a digest of the FULL sf_dir (two dirs sharing a
    # basename must not share a scratch family)
    digest = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    lake, _ = _replay(spark, sf_dir, f"tq_{digest}_", 2)
    state = (
        lake.read()
        .select("conv_id", "turn_idx", "role", "text", "ts")
        .withColumn("tool", _tool_expr())
    )
    _TQ_STATE[key] = state
    return state


#: LWW state CTE shared by all seven oracles (q44/q45 construction + tool)
_STATE_CTE = """
WITH ev AS (
    SELECT CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
           event_id AS lsn, CAST(user_id AS VARCHAR) AS conv_id,
           CAST(event_id % 50 AS INT) AS turn_idx,
           event_type AS role, props AS text, ts
    FROM events),
state AS (
    SELECT conv_id, turn_idx, role, text, ts,
           CASE WHEN turn_idx % 3 = 0
                THEN 'tool_' || CAST(turn_idx % 7 AS VARCHAR) END AS tool
    FROM (
        SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
            ORDER BY coalesce(ts, TIMESTAMP '1970-01-01') DESC, lsn DESC) AS rn
        FROM ev)
    WHERE rn = 1 AND op <> 'D')
"""


def q47_top_tools(spark, sf_dir):
    """analytics.sql:5-20 over replayed lake state (TA.top_tools)."""
    return TA.top_tools(transcript_state(spark, sf_dir))


SQL_Q47 = _STATE_CTE + """
SELECT tool, CAST(count(*) AS BIGINT) AS n_calls,
       round(avg(length(text)), 2) AS avg_text_len
FROM state WHERE tool IS NOT NULL
GROUP BY tool HAVING count(*) >= 5
ORDER BY n_calls DESC, tool ASC LIMIT 10
"""


def q48_role_distribution(spark, sf_dir):
    """analytics.sql:25-36 over replayed lake state (TA.role_distribution)."""
    return TA.role_distribution(transcript_state(spark, sf_dir))


SQL_Q48 = _STATE_CTE + """,
sized AS (
    SELECT s.*, CASE WHEN c.n_turns < 10 THEN 'short'
                     WHEN c.n_turns < 50 THEN 'medium'
                     ELSE 'long' END AS band
    FROM state s
    JOIN (SELECT conv_id, count(*) AS n_turns FROM state GROUP BY conv_id) c
      USING (conv_id)),
g AS (SELECT band, role, count(*) AS n FROM sized GROUP BY band, role)
SELECT band, role, CAST(n AS BIGINT) AS n,
       round(n * 100.0 / sum(n) OVER (PARTITION BY band), 2) AS pct_of_band
FROM g
"""


def q49_conversation_stats(spark, sf_dir):
    """analytics.sql:52-66 over replayed lake state (TA.conversation_stats)."""
    return TA.conversation_stats(transcript_state(spark, sf_dir))


SQL_Q49 = _STATE_CTE + """,
per_conv AS (
    SELECT conv_id, count(*) AS n_turns FROM state
    WHERE conv_id IN (SELECT DISTINCT conv_id FROM state WHERE tool IS NOT NULL)
    GROUP BY conv_id)
SELECT CAST(count(*) AS BIGINT) AS n_conversations,
       round(avg(n_turns), 4) AS avg_turns,
       CAST(min(n_turns) AS BIGINT) AS min_turns,
       CAST(max(n_turns) AS BIGINT) AS max_turns,
       round(stddev_samp(n_turns), 4) AS std_turns
FROM per_conv
"""


def q50_completeness_by_role(spark, sf_dir):
    """analytics.sql:70-85 over replayed lake state (TA.completeness_by_role)."""
    return TA.completeness_by_role(transcript_state(spark, sf_dir))


SQL_Q50 = _STATE_CTE + """
SELECT role, CAST(count(*) AS BIGINT) AS n_turns,
       round(sum(CASE WHEN text IS NOT NULL AND trim(text) <> '' THEN 1 ELSE 0 END)
             * 100.0 / count(*), 2) AS pct_text_filled,
       round(sum(CASE WHEN ts IS NOT NULL THEN 1 ELSE 0 END)
             * 100.0 / count(*), 2) AS pct_ts_filled
FROM state GROUP BY role HAVING count(*) >= 10
"""


def q51_anomaly_listing(spark, sf_dir):
    """analytics.sql:100-125 over replayed lake state (TA.anomaly_listing).

    The generated events are clean, so deterministic corruption is injected
    post-replay on both sides (blank text for turn_idx≡5 mod 17, NULL ts for
    turn_idx≡4 mod 13) — the CASE ladder, its precedence, and the ordered
    top-k all classify real rows instead of gating an empty listing."""
    st = transcript_state(spark, sf_dir)
    st = st.withColumn(
        "text",
        F.when(F.pmod(F.col("turn_idx"), F.lit(17)) == 5, F.lit("")).otherwise(
            F.col("text")
        ),
    ).withColumn(
        "ts",
        F.when(
            F.pmod(F.col("turn_idx"), F.lit(13)) == 4,
            F.lit(None).cast("timestamp"),
        ).otherwise(F.col("ts")),
    )
    return TA.anomaly_listing(st)


SQL_Q51 = _STATE_CTE + """,
corrupted AS (
    SELECT conv_id, turn_idx, role,
           CASE WHEN turn_idx % 17 = 5 THEN '' ELSE text END AS text,
           CASE WHEN turn_idx % 13 = 4 THEN NULL ELSE ts END AS ts
    FROM state),
cls AS (
    SELECT conv_id, turn_idx, role,
           CASE WHEN (text IS NULL OR trim(text) = '') AND role <> 'tool'
                    THEN 'empty_text'
                WHEN role IS NULL THEN 'missing_role'
                WHEN ts IS NULL THEN 'missing_ts'
                WHEN turn_idx < 0 THEN 'negative_turn' END AS anomaly
    FROM corrupted)
SELECT conv_id, turn_idx, role, anomaly FROM cls
WHERE anomaly IS NOT NULL
ORDER BY anomaly, conv_id, turn_idx LIMIT 50
"""


def q52_weekly_evolution(spark, sf_dir):
    """analytics.sql:128-155 over replayed lake state (TA.weekly_evolution)."""
    return TA.weekly_evolution(transcript_state(spark, sf_dir))


SQL_Q52 = _STATE_CTE + """
SELECT date_trunc('week', ts) AS week,
       CAST(count(*) AS BIGINT) AS n_turns,
       CAST(count(DISTINCT conv_id) AS BIGINT) AS active_conversations
FROM state GROUP BY 1 ORDER BY 1
"""


def q53_tool_matrix(spark, sf_dir):
    """analytics.sql:160-176 over replayed lake state
    (TA.tool_conversation_matrix)."""
    return TA.tool_conversation_matrix(transcript_state(spark, sf_dir))


SQL_Q53 = _STATE_CTE + """
SELECT role, tool,
       CAST(count(DISTINCT conv_id) AS BIGINT) AS n_conversations,
       CAST(count(*) AS BIGINT) AS n_turns
FROM state WHERE tool IS NOT NULL
GROUP BY role, tool HAVING count(DISTINCT conv_id) >= 3
"""


GATE_REGISTRY: dict[str, tuple] = {
    "q47_top_tools": (q47_top_tools, SQL_Q47),
    "q48_role_distribution": (q48_role_distribution, SQL_Q48),
    "q49_conversation_stats": (q49_conversation_stats, SQL_Q49),
    "q50_completeness_by_role": (q50_completeness_by_role, SQL_Q50),
    "q51_anomaly_listing": (q51_anomaly_listing, SQL_Q51),
    "q52_weekly_evolution": (q52_weekly_evolution, SQL_Q52),
    "q53_tool_matrix": (q53_tool_matrix, SQL_Q53),
}
