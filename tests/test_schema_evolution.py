"""Schema evolution: added column + widened type arriving mid-stream
(FIXTURES.md §3; generalizes the reference's missing-column tolerance,
etl/bronze_to_silver.py:59-181)."""

from __future__ import annotations

from pyspark.sql import types as T

from trde703_openfoodfacts_etl_spark.schema import (
    TRANSCRIPT_SCHEMA,
    merge_schemas,
    SchemaEvolutionError,
)
from trde703_openfoodfacts_etl_spark.sources.genfeed import generate_segments
from trde703_openfoodfacts_etl_spark.sources.lake import LakeTable
from trde703_openfoodfacts_etl_spark.streaming.pipeline import run_incremental

from helpers import assert_states_equal, duckdb_replay_oracle, lake_state_pdf


def test_merge_schemas_add_and_widen():
    inc = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.LongType(), False),  # widened
            T.StructField("tool_meta", T.StringType(), True),  # added
        ]
    )
    unified, report = merge_schemas(TRANSCRIPT_SCHEMA, inc)
    by_name = {f.name: f for f in unified.fields}
    assert isinstance(by_name["turn_idx"].dataType, T.LongType)
    assert "tool_meta" in by_name and by_name["tool_meta"].nullable
    assert report["added"] == ["tool_meta:string"]
    assert report["widened"] == ["turn_idx:int->bigint"]
    # existing columns keep their positions (old readers unbroken)
    assert [f.name for f in unified.fields][:6] == [f.name for f in TRANSCRIPT_SCHEMA.fields]


def test_incompatible_types_hard_error():
    import pytest

    inc = T.StructType([T.StructField("turn_idx", T.StringType(), True)])
    with pytest.raises(SchemaEvolutionError):
        merge_schemas(TRANSCRIPT_SCHEMA, inc)


def test_mid_stream_evolution_replay(spark, tmp_path):
    wal = str(tmp_path / "wal")
    generate_segments(wal, n_convs=100, n_events=6_000, n_segments=3, seed=7,
                      v2_from_segment=2)
    lake = LakeTable.create(spark, str(tmp_path / "lake"), TRANSCRIPT_SCHEMA, num_buckets=8)
    run_incremental(lake, wal, segments_per_batch=1)

    schema = lake.user_schema()
    by_name = {f.name: f for f in schema.fields}
    assert "tool_meta" in by_name
    assert isinstance(by_name["turn_idx"].dataType, T.LongType)

    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts", "tool_meta"]
    oracle = duckdb_replay_oracle(f"{wal}/*.parquet", extra_cols=["tool_meta"])
    assert_states_equal(lake_state_pdf(lake, cols), oracle)
    # rows written before the column existed read as typed nulls; some v2
    # winners carry real metadata
    st = lake_state_pdf(lake, cols)
    assert st["tool_meta"].isna().any()
    # evolution is recorded in the manifest (lineage)
    snap = lake.snapshot()
    assert any("tool_meta:string" in e["added"] for e in snap["evolution"])


def test_read_batch_rereads_a_rewritten_segment_dir(spark, tmp_path):
    """read_batch keeps no footer schema across calls: a Spark segment
    directory rewritten with an added column between two reads in one
    process shows the new column instead of silently dropping it."""
    from trde703_openfoodfacts_etl_spark.streaming.pipeline import (
        list_segments,
        read_batch,
    )

    wal = str(tmp_path / "wal")
    seg = f"{wal}/segment=0"
    spark.createDataFrame(
        [("I", 1, "c1")], "op string, lsn long, conv_id string"
    ).coalesce(1).write.parquet(seg)
    assert read_batch(spark, list_segments(wal)).columns == ["op", "lsn", "conv_id"]

    spark.createDataFrame(
        [("I", 2, "c1", "search")], "op string, lsn long, conv_id string, tool string"
    ).coalesce(1).write.mode("overwrite").parquet(seg)
    df = read_batch(spark, list_segments(wal))
    assert df.columns == ["op", "lsn", "conv_id", "tool"]
    assert [r["tool"] for r in df.collect()] == ["search"]


def test_widen_decimal_lattice():
    from decimal import Decimal  # noqa: F401

    from trde703_openfoodfacts_etl_spark.schema import widen

    # scale and integral width both max out
    assert widen(T.DecimalType(3, 2), T.DecimalType(10, 2)) == T.DecimalType(10, 2)
    assert widen(T.DecimalType(5, 4), T.DecimalType(10, 2)) == T.DecimalType(12, 4)
    # int → decimal joins as decimal(digits, 0)
    assert widen(T.IntegerType(), T.DecimalType(3, 2)) == T.DecimalType(12, 2)
    assert widen(T.DecimalType(10, 2), T.LongType()) == T.DecimalType(22, 2)
    # same type is a no-op
    assert widen(T.DecimalType(10, 2), T.DecimalType(10, 2)) == T.DecimalType(10, 2)
    # beyond Spark's 38-digit cap, or decimal × float/string: incompatible
    assert widen(T.DecimalType(38, 0), T.DecimalType(10, 2)) is None
    assert widen(T.DecimalType(10, 2), T.DoubleType()) is None
    assert widen(T.DecimalType(10, 2), T.StringType()) is None


def test_decimal_column_evolves_through_lake(spark, tmp_path):
    """A CDC feed that adds a decimal(3,2) column mid-stream and then widens
    it to decimal(10,2) must round-trip through the lake: old rows read as
    typed nulls, early decimal files re-cast to the widened type on read
    (the reference's decimal(3,2) completeness score, etl/utils/quality.py:33,
    arriving as an evolved column)."""
    from decimal import Decimal

    from trde703_openfoodfacts_etl_spark.operators.merge import apply_batch

    lake = LakeTable.create(spark, str(tmp_path / "lake"), TRANSCRIPT_SCHEMA, num_buckets=4)
    base = "op string, lsn long, event_ts timestamp, conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    t0 = __import__("datetime").datetime(2024, 1, 1)

    b0 = spark.createDataFrame([("U", 1, t0, "c1", 0, "user", "hi", None, t0)], base)
    apply_batch(lake, b0, 0)

    b1 = spark.createDataFrame(
        [("U", 2, t0, "c2", 0, "user", "yo", None, t0, Decimal("0.95"))],
        base + ", score decimal(3,2)",
    )
    apply_batch(lake, b1, 1)
    assert isinstance(
        {f.name: f for f in lake.user_schema().fields}["score"].dataType, T.DecimalType
    )

    b2 = spark.createDataFrame(
        [("U", 3, t0, "c3", 0, "user", "hey", None, t0, Decimal("12345678.25"))],
        base + ", score decimal(10,2)",
    )
    apply_batch(lake, b2, 2)
    by_name = {f.name: f for f in lake.user_schema().fields}
    assert by_name["score"].dataType == T.DecimalType(10, 2)

    got = {r.conv_id: r.score for r in lake.read().collect()}
    assert got == {
        "c1": None,                      # written before the column existed
        "c2": Decimal("0.95"),           # decimal(3,2) file cast to (10,2) on read
        "c3": Decimal("12345678.25"),
    }
    snap = lake.snapshot()
    assert any("score:decimal(3,2)" in e["added"] for e in snap["evolution"])
    assert any(
        "score:decimal(3,2)->decimal(10,2)" in e["widened"] for e in snap["evolution"]
    )


def test_widen_lattice_properties():
    """The widening lattice is commutative, idempotent, and associative on
    its defined domain — the algebraic requirements for per-batch schema
    merging to be order-independent (any segment arrival order converges to
    the same lake schema)."""
    from trde703_openfoodfacts_etl_spark.schema import widen

    types = [
        T.ByteType(), T.ShortType(), T.IntegerType(), T.LongType(),
        T.FloatType(), T.DoubleType(), T.StringType(),
        T.DateType(), T.TimestampType(), T.TimestampNTZType(),
        T.DecimalType(3, 2), T.DecimalType(10, 2), T.DecimalType(5, 4),
        T.DecimalType(38, 0),
    ]
    for a in types:
        assert widen(a, a) == a  # idempotent
        for b in types:
            assert widen(a, b) == widen(b, a), (a, b)  # commutative
    for a in types:
        for b in types:
            for c in types:
                ab, bc = widen(a, b), widen(b, c)
                if ab is not None and bc is not None:
                    left, right = widen(ab, c), widen(a, bc)
                    if left is not None and right is not None:
                        assert left == right, (a, b, c)  # associative


def test_spark_generator_v2_cutover_evolves_lake(spark, tmp_path):
    """Bench-scale generator's v2 cutover (v2_from_segment): segments past
    the cut carry tool_meta + int64 turn_idx; replaying the mixed feed
    evolves the lake mid-stream and matches the oracle including the new
    column (the small-generator analog of test_mid_stream_evolution_replay,
    over the generator the 100M+ benches actually use)."""
    from trde703_openfoodfacts_etl_spark.sources.genfeed import generate_segments_spark
    from trde703_openfoodfacts_etl_spark.streaming.pipeline import run_incremental

    wal = str(tmp_path / "wal")
    generate_segments_spark(spark, wal, n_events=20_000, n_convs=400,
                            n_segments=4, v2_from_segment=2)
    lake = LakeTable.create(spark, str(tmp_path / "lake"), TRANSCRIPT_SCHEMA, num_buckets=4)
    # file-count batching (segment dirs hold multiple part files)
    from trde703_openfoodfacts_etl_spark.streaming.pipeline import list_segments

    n_files = len(list_segments(wal))
    run_incremental(lake, wal, segments_per_batch=max(1, n_files // 4))
    assert any("tool_meta:string" in e["added"] for e in lake.snapshot()["evolution"])
    oracle = duckdb_replay_oracle(f"{wal}/segment=*/*.parquet", extra_cols=["tool_meta"])
    got = lake_state_pdf(lake, cols=["conv_id", "turn_idx", "role", "text",
                                     "tool", "ts", "tool_meta"])
    assert_states_equal(got, oracle)
    assert got["tool_meta"].notna().sum() > 0
