"""Driver-contract validation: every queries() entry runs, and matches its
oracle_sql() DuckDB result (row count, column names, order-insensitive
values) — a local replica of the driver's correctness gate."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from helpers import assert_matches_oracle  # noqa: E402
from trde703_openfoodfacts_etl_spark.plans.analytics import TABLES  # noqa: E402

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


def _duck(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS FROM '{sf_dir}/{t}.parquet'")
    return con


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, sf_dir, name):
    got = QUERIES[name](spark, sf_dir).toPandas()
    if name not in ORACLES:
        assert got.shape[0] >= 0  # rows-only check (non-SQL-expressible op)
        return
    con = _duck(sf_dir)
    want = con.sql(ORACLES[name]).df()
    con.close()
    assert_matches_oracle(name, got, want)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert "conv_id" in df.columns


def test_scratch_lake_outlives_second_dataframe(spark):
    """Building a second DataFrame from the same gated-query family must not
    yank the first one's backing lake out from under it (the registry keeps
    the two most recent roots per family): build A, build B, THEN evaluate
    A — the lazy read must still succeed."""
    from trde703_openfoodfacts_etl_spark.plans import flagship

    a = flagship.cdc_replay(spark, "/root/testdata/sf0.001")
    b = flagship.cdc_replay(spark, "/root/testdata/sf0.001")
    assert a.count() > 0  # A's lake still on disk after B's creation
    assert b.count() == a.count()


# The driver's external correctness gate evaluates only the FIRST 50
# queries() entries; the 10 past-cap names are covered by the committed
# scripts/full_correctness.py artifact instead. That split is load-bearing
# (ADVICE r4): an innocent insertion into REGISTRY or the transcript gate
# would silently change WHICH queries the external gate checks. Pin it.
IN_CAP_50 = [
    "q00_cdc_replay", "q54_cdc_replay_mor", "q01_pricing_summary",
    "q03_share_of_total", "q04_conditional_agg", "q05_having",
    "q06_semi_join", "q08_star_join", "q09_stats_pack", "q11_date_arith",
    "q12_distinct_agg", "q13_lww_latest", "q15_weekly_rollup",
    "q18_exact_dedup", "q20_ann_bruteforce", "q21_ngram_jaccard",
    "q22_quality_score", "q23_normalize", "q24_minhash_lsh", "q25_simhash",
    "q26_lang_id", "q27_fingerprint", "q28_ann_lsh", "q29_ann_ivf",
    "q30_media_features", "q31_word_explode", "q33_union_distinct",
    "q36_scd2_intervals", "q37_cosine_neardup", "q38_asof_join",
    "q39_interval_join", "q40_cdc_changelog", "q41_corpus_prep",
    "q42_train_val_split", "q43_contamination", "q44_sql_surface",
    "q45_time_travel", "q46_percentile_sketch", "q55_quality_rules",
    "q56_pii_redaction", "q57_sequence_packing", "q58_source_mixing",
    "q59_dedup_clusters", "q47_top_tools", "q48_role_distribution",
    "q49_conversation_stats", "q50_completeness_by_role",
    "q51_anomaly_listing", "q52_weekly_evolution", "q53_tool_matrix",
]
PAST_CAP = [
    "q02_top_brands", "q07_anti_join", "q10_case_ladder",
    "q14_json_extract", "q16_sessionize", "q17_text_metrics",
    "q19_lang_profile", "q32_cube", "q34_pivot", "q35_percentiles",
]


def test_registry_cap_ordering_pinned():
    names = list(entrymod.queries())
    assert names[:50] == IN_CAP_50, (
        "first-50 (driver-gated) query set drifted — a new query must go "
        "AFTER the past-cap block unless it is deliberately swapped into "
        "the gate (update IN_CAP_50 and scripts/full_correctness.py docs)"
    )
    assert names[50:] == PAST_CAP, "past-cap block drifted"
    assert set(entrymod.oracle_sql()) == set(names)
