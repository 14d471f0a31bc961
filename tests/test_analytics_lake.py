"""Transcript-lake analytics (the reference's 7 queries re-expressed) over
replayed state."""

from __future__ import annotations

import pytest

from trde703_openfoodfacts_etl_spark.plans import transcript_analytics as ta
from trde703_openfoodfacts_etl_spark.schema import TRANSCRIPT_SCHEMA
from trde703_openfoodfacts_etl_spark.sources.genfeed import generate_segments
from trde703_openfoodfacts_etl_spark.sources.lake import LakeTable
from trde703_openfoodfacts_etl_spark.streaming.pipeline import run_incremental


@pytest.fixture(scope="module")
def wal_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("wal_an")
    generate_segments(str(d), n_convs=150, n_events=8_000, n_segments=2, seed=23)
    return str(d)


@pytest.fixture(scope="module")
def state(spark, wal_dir, tmp_path_factory):
    lake = LakeTable.create(
        spark, str(tmp_path_factory.mktemp("lake_an")), TRANSCRIPT_SCHEMA, num_buckets=8
    )
    run_incremental(lake, wal_dir)
    return lake.read().cache()


def test_all_seven_analytics_run(state):
    for fn in ta.ALL:
        df = fn(state)
        assert df.count() >= 0
        assert len(df.columns) >= 2


def test_role_distribution_shares_sum_to_100(state):
    rows = ta.role_distribution(state).collect()
    by_band: dict[str, float] = {}
    for r in rows:
        by_band[r["band"]] = by_band.get(r["band"], 0.0) + r["pct_of_band"]
    for band, total in by_band.items():
        assert abs(total - 100.0) < 0.1, f"{band}: {total}"


def test_weekly_evolution_covers_feed(state):
    rows = ta.weekly_evolution(state).collect()
    assert sum(r["n_turns"] for r in rows) == state.count()
