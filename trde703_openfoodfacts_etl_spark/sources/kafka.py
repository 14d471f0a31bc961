"""Kafka-shaped change-feed envelope (Debezium-style).

The steady-state WAL tail is a parquet segment directory
(streaming/pipeline.py), but a production CDC feed usually arrives on a
Kafka topic. :func:`parse_cdc_envelope` is the pure DataFrame transform
from the raw Kafka wire shape (``key: binary, value: binary, timestamp``)
to the engine's CDC envelope (op, lsn, event_ts + payload), via
``from_json``. ``read_batch`` uses it for JSON segments; any DataFrame with
those columns works, so it needs no broker.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

#: wire envelope: the payload rides as JSON in the Kafka record value
ENVELOPE_FIELDS = [
    T.StructField("op", T.StringType(), False),
    T.StructField("lsn", T.LongType(), False),
    T.StructField("event_ts", T.TimestampType(), True),
]


def envelope_schema(payload_schema: T.StructType) -> T.StructType:
    return T.StructType(ENVELOPE_FIELDS + list(payload_schema.fields))


def parse_cdc_envelope(raw_df, payload_schema: T.StructType):
    """Kafka wire rows → CDC envelope rows.

    ``raw_df`` needs ``value: binary`` (JSON envelope) and optionally
    ``timestamp`` (broker ingest time, used as event_ts fallback). Rows
    whose value fails to parse are dropped with op='X' never emitted —
    malformed records go to the gate metrics downstream, not into the
    merge."""
    sch = envelope_schema(payload_schema)
    parsed = raw_df.select(
        F.from_json(F.col("value").cast("string"), sch).alias("_e"),
        F.col("timestamp").alias("_kafka_ts")
        if "timestamp" in raw_df.columns
        else F.lit(None).cast("timestamp").alias("_kafka_ts"),
    )
    return parsed.select(
        F.col("_e.op").alias("op"),
        F.col("_e.lsn").alias("lsn"),
        F.coalesce(F.col("_e.event_ts"), F.col("_kafka_ts")).alias("event_ts"),
        *[F.col(f"_e.{f.name}").alias(f.name) for f in payload_schema.fields],
    ).filter(F.col("op").isNotNull() & F.col("lsn").isNotNull())
