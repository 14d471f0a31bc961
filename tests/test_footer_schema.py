"""``plans.analytics.load()`` takes each table's schema and row-group count
from its parquet footers: the schema must be exactly the one Spark infers,
and the row groups decide whether ``spread=True`` spreads the scan."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from trde703_openfoodfacts_etl_spark.plans.analytics import SPREAD_MIN_FILL, load

from helpers import build_jobs

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


def _repartition_count(df) -> int | None:
    """Partition count of a round-robin repartition at the top of ``df``'s
    logical plan, or None when there is none."""
    plan = df._jdf.queryExecution().logical()
    return plan.numPartitions() if plan.getClass().getSimpleName() == "Repartition" else None


@pytest.mark.parametrize("shape", ["one_row_group", "many_row_groups", "directory"])
def test_spread_follows_footer_row_groups(spark, tmp_path, shape):
    """``load(spread=True)`` spreads a table of fewer than
    ``SPREAD_MIN_FILL``·defaultParallelism row groups over the default
    parallelism and leaves any other alone. The count comes from the footers
    (a directory sums its files), so loading runs no Spark job."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    parallelism = spark.sparkContext.defaultParallelism
    enough = max(1, int(parallelism * SPREAD_MIN_FILL))
    table = pa.table({"doc_id": pa.array(range(4 * enough), pa.int64())})
    path = tmp_path / "documents.parquet"
    if shape == "one_row_group":
        pq.write_table(table, str(path))
    elif shape == "many_row_groups":
        pq.write_table(table, str(path), row_group_size=4)
    else:  # one row group per file, enough files between them
        path.mkdir()
        for i in range(enough):
            pq.write_table(table.slice(4 * i, 4), str(path / f"part-{i:05d}.parquet"))
    built = []
    assert build_jobs(
        spark, "load", lambda: built.append(load(spark, str(tmp_path), "documents", spread=True))
    ) == 0
    [df] = built
    assert _repartition_count(df) == (parallelism if shape == "one_row_group" else None)
    assert _repartition_count(load(spark, str(tmp_path), "documents")) is None
    assert sorted(r.doc_id for r in df.collect()) == list(range(4 * enough))
