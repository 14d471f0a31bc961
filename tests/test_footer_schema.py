"""``plans.analytics.load()`` takes each table's schema from its parquet
footer; it must be exactly the schema Spark infers."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from trde703_openfoodfacts_etl_spark.plans.analytics import load

#: zone-less timestamp columns: Arrow converts them to TimestampType unless
#: asked to prefer TimestampNTZType, which is what Spark infers
NTZ_COLUMNS = [("orders", "o_orderdate"), ("lineitem", "l_shipdate"), ("events", "ts")]


def _same_schema_as_inferred(spark, sf_dir: str, name: str) -> None:
    got = load(spark, sf_dir, name).schema
    want = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
    assert got == want, (sf_dir, name)


def test_every_test_table(spark, sf_dir):
    """Every table of every scale next to ``sf_dir``."""
    paths = set(glob.glob(os.path.join(sf_dir, "*.parquet")))
    paths |= set(glob.glob(os.path.join(os.path.dirname(sf_dir), "sf*", "*.parquet")))
    assert paths
    for p in sorted(paths):
        d, f = os.path.split(p)
        _same_schema_as_inferred(spark, d, f[: -len(".parquet")])
    for table, col in NTZ_COLUMNS:
        assert load(spark, sf_dir, table).schema[col].dataType == T.TimestampNTZType()


def test_spark_written_directory(spark, sf_dir, tmp_path):
    """A ``<table>.parquet/`` directory of part files, as Spark writes it:
    the schema comes from Spark's own footer record, so an INT96 column is a
    TimestampType and a zone-less one a TimestampNTZType."""
    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .withColumn("ts_ltz", F.col("ts").cast("timestamp"))
        .withColumn("one", F.lit(1))  # not nullable in the written footer
        .repartition(3)
    )
    ev.write.parquet(str(tmp_path / "events.parquet"))
    _same_schema_as_inferred(spark, str(tmp_path), "events")
    schema = load(spark, str(tmp_path), "events").schema
    assert schema["ts"].dataType == T.TimestampNTZType()
    assert schema["ts_ltz"].dataType == T.TimestampType()
