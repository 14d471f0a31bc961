"""Changelog reads between snapshots."""

from __future__ import annotations

from trde703_openfoodfacts_etl_spark.operators.merge import apply_batch
from trde703_openfoodfacts_etl_spark.schema import TRANSCRIPT_SCHEMA
from trde703_openfoodfacts_etl_spark.sources.lake import LakeTable

from helpers import make_events


def test_changelog_between_snapshots(spark, tmp_path):
    """lake.changes(s1, s2) classifies inserts/updates/deletes by key."""
    lake = LakeTable.create(spark, str(tmp_path / "lakec"), TRANSCRIPT_SCHEMA, num_buckets=4)
    apply_batch(lake, make_events(spark, [
        ("I", 1, "c1", 0, "user", "a", None, 100),
        ("I", 2, "c1", 1, "user", "b", None, 110),
        ("I", 3, "c2", 0, "user", "c", None, 120),
    ]), 0)
    s1 = lake.latest_id()
    apply_batch(lake, make_events(spark, [
        ("U", 4, "c1", 0, "user", "a2", None, 200),   # update
        ("D", 5, "c1", 1, None, None, None, 210),      # delete
        ("I", 6, "c3", 0, "user", "d", None, 220),     # insert
    ]), 1)
    rows = {(r["conv_id"], r["turn_idx"]): r["change_type"]
            for r in lake.changes(s1).collect()}
    assert rows == {("c1", 0): "update", ("c1", 1): "delete", ("c3", 0): "insert"}
    # changelog carries the new state for upserts
    upd = {(r["conv_id"], r["turn_idx"]): r["text"]
           for r in lake.changes(s1).filter("change_type = 'update'").collect()}
    assert upd[("c1", 0)] == "a2"
