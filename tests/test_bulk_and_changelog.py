"""Changelog reads and mixed-format (parquet / JSON-lines / ORC) WAL replay."""

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


def test_jsonl_wal_segments_replay(spark, tmp_path):
    """A WAL mixing parquet and JSON-lines segments (Debezium-export wire
    shape: one JSON envelope per line) replays to the same LWW state as an
    all-parquet feed — the jsonl path parses against the DECLARED schema
    via from_json (never inference), malformed lines drop at the envelope
    parser, and run_stream refuses a jsonl-bearing WAL instead of silently
    skipping it."""
    import json as _json

    import pytest

    from trde703_openfoodfacts_etl_spark.schema import (
        CDC_SCHEMA, TRANSCRIPT_SCHEMA,
    )
    from trde703_openfoodfacts_etl_spark.sources.lake import LakeTable
    from trde703_openfoodfacts_etl_spark.streaming.pipeline import (
        run_incremental, run_stream,
    )
    from helpers import make_events, ts

    wal = tmp_path / "wal"
    wal.mkdir()
    # segment 0: parquet (the engine's native shape)
    make_events(spark, [
        ("I", 1, "c1", 0, "user", "hello", None, 100),
        ("I", 2, "c2", 0, "user", "hi", None, 101),
    ]).coalesce(1).write.parquet(str(wal / "segment=0"))
    # segment 1: JSON lines — updates + a delete + one malformed line
    lines = [
        {"op": "U", "lsn": 3, "event_ts": "2024-01-01T00:02:00",
         "conv_id": "c1", "turn_idx": 0, "role": "user",
         "text": "hello v2", "tool": None, "ts": "2024-01-01T00:02:00"},
        {"op": "D", "lsn": 4, "event_ts": "2024-01-01T00:03:00",
         "conv_id": "c2", "turn_idx": 0, "role": None, "text": None,
         "tool": None, "ts": "2024-01-01T00:03:00"},
        {"op": "I", "lsn": 5, "event_ts": "2024-01-01T00:04:00",
         "conv_id": "c3", "turn_idx": 1, "role": "assistant",
         "text": "new conv", "tool": "search", "ts": "2024-01-01T00:04:00"},
    ]
    seg1 = wal / "segment=1.jsonl"
    seg1.write_text(
        "\n".join(_json.dumps(l) for l in lines) + "\nNOT-JSON-AT-ALL\n"
    )

    lake = LakeTable.create(spark, str(tmp_path / "lake"), TRANSCRIPT_SCHEMA, num_buckets=4)
    metrics = run_incremental(lake, str(wal), segments_per_batch=1,
                              json_payload_schema=TRANSCRIPT_SCHEMA)
    assert len(metrics) == 2
    got = {(r.conv_id, r.turn_idx): (r.text, r.tool) for r in lake.read().collect()}
    assert got == {
        ("c1", 0): ("hello v2", None),   # jsonl update won LWW
        ("c3", 1): ("new conv", "search"),
        # c2 deleted by the jsonl tombstone
    }
    # the malformed line was dropped by the envelope parser (null op/lsn
    # filter) before the merge — not merged, not fatal, not counted
    assert metrics[1]["events_in"] == 3
    # timestamps round-tripped as real timestamps, not strings
    row = lake.read().filter("conv_id = 'c1'").first()
    assert row.ts == ts(120)

    # ONE batch straddling both formats (segments_per_batch=2): the JSON
    # envelope schema unifies with the parquet footers' and the outcome is
    # identical
    lake_mixed = LakeTable.create(
        spark, str(tmp_path / "lake_mixed"), TRANSCRIPT_SCHEMA, num_buckets=4
    )
    mm = run_incremental(lake_mixed, str(wal), segments_per_batch=2,
                         json_payload_schema=TRANSCRIPT_SCHEMA)
    assert len(mm) == 1 and mm[0]["events_in"] == 5
    got_mixed = {(r.conv_id, r.turn_idx): (r.text, r.tool)
                 for r in lake_mixed.read().collect()}
    assert got_mixed == got

    # jsonl without a declared schema is a loud error
    with pytest.raises(ValueError, match="json_payload_schema"):
        run_incremental(
            LakeTable.create(spark, str(tmp_path / "lake2"), TRANSCRIPT_SCHEMA, num_buckets=4),
            str(wal), segments_per_batch=2,
        )
    # run_stream refuses a jsonl-bearing WAL (its parquet source would
    # silently skip the file)
    err = None
    try:
        run_stream(
            LakeTable.create(spark, str(tmp_path / "lake3"), TRANSCRIPT_SCHEMA, num_buckets=4),
            str(wal), CDC_SCHEMA, str(tmp_path / "ckpt3"),
        )
    except Exception as e:  # StreamingQueryException wraps the ValueError
        err = str(e)
    assert err is not None and "jsonl" in err and "run_incremental" in err


def test_orc_wal_segments_replay_with_evolution(spark, tmp_path):
    """ORC WAL segments get the full columnar treatment: footer-schema
    reads via pyarrow.orc, mixing with parquet segments, LWW across
    formats, AND live schema evolution from an ORC footer (a v2 ORC
    segment with an added column evolves the lake — jsonl can't do that;
    ORC carries real types)."""
    from pyspark.sql import types as T

    from trde703_openfoodfacts_etl_spark.schema import TRANSCRIPT_SCHEMA
    from trde703_openfoodfacts_etl_spark.sources.lake import LakeTable
    from trde703_openfoodfacts_etl_spark.streaming.pipeline import run_incremental
    from helpers import make_events

    wal = tmp_path / "wal"
    # segment 0: parquet insert
    make_events(spark, [("I", 1, "c1", 0, "user", "v1", None, 100)]) \
        .coalesce(1).write.parquet(str(wal / "segment=0"))
    # segment 1: ORC update for the same key (cross-format LWW)
    make_events(spark, [("U", 2, "c1", 0, "user", "v2-from-orc", None, 200)]) \
        .coalesce(1).write.orc(str(wal / "segment=1"))
    # segment 2: v2 ORC with an ADDED column — must evolve the lake live
    make_events(spark, [("I", 3, "c2", 0, "tool", "with-meta", "srch", 300,
                         '{"k":1}')], v2=True) \
        .coalesce(1).write.orc(str(wal / "segment=2"))

    lake = LakeTable.create(spark, str(tmp_path / "lake"), TRANSCRIPT_SCHEMA, num_buckets=4)
    metrics = run_incremental(lake, str(wal), segments_per_batch=1)
    assert len(metrics) == 3
    by_name = {f.name: f for f in lake.user_schema().fields}
    assert "tool_meta" in by_name  # evolved from the ORC footer
    got = {(r.conv_id, r.turn_idx): (r.text, r.tool_meta) for r in lake.read().collect()}
    assert got == {
        ("c1", 0): ("v2-from-orc", None),   # ORC update won LWW over parquet insert
        ("c2", 0): ("with-meta", '{"k":1}'),
    }

    # resume skips applied ORC segments too (watermark covers all formats)
    assert run_incremental(lake, str(wal)) == []


def test_orc_footer_honors_catalyst_type_metadata(spark, tmp_path):
    """ORC has no TIMESTAMP_NTZ physical type: Spark writes int64 plus a
    spark.sql.catalyst.type field annotation. The footer reader must honor
    it — otherwise an NTZ feed's ORC segment diffs as bigint and hard-fails
    schema evolution (ts: timestamp vs bigint)."""
    import glob

    from pyspark.sql import types as T

    from trde703_openfoodfacts_etl_spark.schema import arrow_schema_of_orc

    df = spark.createDataFrame(
        [("c1", 0)], "conv_id string, turn_idx int"
    ).selectExpr("conv_id", "turn_idx", "TIMESTAMP_NTZ '2024-01-01 00:00:00' AS ts")
    df.coalesce(1).write.orc(str(tmp_path / "orcdir"))
    orc_file = glob.glob(str(tmp_path / "orcdir" / "*.orc"))[0]
    sch = {f.name: f.dataType for f in arrow_schema_of_orc(orc_file).fields}
    assert isinstance(sch["ts"], T.TimestampNTZType), sch["ts"]
    assert isinstance(sch["turn_idx"], T.IntegerType)
