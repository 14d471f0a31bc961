"""Canonical transcript schema, CDC event envelope, and schema diff/merge.

Maps the reference's "conforming projection with missing-column tolerance"
(reference: etl/bronze_to_silver.py:59-184 — absent source columns
materialize as typed nulls) into a general per-batch schema-evolution rule:

- columns present in the batch but not in the lake → ADD (nullable) to the
  lake schema;
- columns whose batch type is a WIDENING of the lake type
  (int→long, int→double, long→double, float→double) → widen the lake type;
- anything else incompatible → hard error (never corrupt the lake).

The lake never requires an ALTER statement: the unified schema is carried in
the snapshot manifest and every reader casts file groups to it on read.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Canonical shapes (BASELINE.json input_hint)
# ---------------------------------------------------------------------------

#: Base lake-table row: one conversation turn.
TRANSCRIPT_FIELDS = [
    T.StructField("conv_id", T.StringType(), False),
    T.StructField("turn_idx", T.IntegerType(), False),
    T.StructField("role", T.StringType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("tool", T.StringType(), True),
    T.StructField("ts", T.TimestampType(), True),
]
TRANSCRIPT_SCHEMA = T.StructType(TRANSCRIPT_FIELDS)

#: CDC envelope columns wrapping a transcript row (binlog/WAL position).
CDC_ENVELOPE_FIELDS = [
    T.StructField("op", T.StringType(), False),  # I / U / D
    T.StructField("lsn", T.LongType(), False),  # monotone WAL position
    T.StructField("event_ts", T.TimestampType(), True),  # commit time
]

#: Full CDC event schema (v1): envelope + payload.
CDC_SCHEMA = T.StructType(CDC_ENVELOPE_FIELDS + TRANSCRIPT_FIELDS)

#: Natural key of the lake table (analog of reference barcode `code`,
#: reference: docs/data_dictionary.md:105).
KEY_COLS = ["conv_id", "turn_idx"]

#: Internal lake bookkeeping columns (never part of the user schema).
META_DELETED = "_deleted"
META_LSN = "_lsn"
META_ROW_HASH = "_row_hash"
META_BUCKET = "_bucket"
META_COLS = [META_DELETED, META_LSN, META_ROW_HASH]

# ---------------------------------------------------------------------------
# Widening lattice + merge
# ---------------------------------------------------------------------------

_WIDEN: dict[tuple[str, str], T.DataType] = {
    ("integer", "long"): T.LongType(),
    ("short", "integer"): T.IntegerType(),
    ("short", "long"): T.LongType(),
    ("byte", "short"): T.ShortType(),
    ("byte", "integer"): T.IntegerType(),
    ("byte", "long"): T.LongType(),
    ("integer", "double"): T.DoubleType(),
    ("long", "double"): T.DoubleType(),
    ("float", "double"): T.DoubleType(),
    ("integer", "float"): T.FloatType(),
    ("date", "timestamp"): T.TimestampType(),
    # with the session timezone pinned to UTC these are value-identical;
    # unify on the session-TZ type
    ("timestamp_ntz", "timestamp"): T.TimestampType(),
    ("date", "timestamp_ntz"): T.TimestampType(),
}


#: max base-10 digits an integral type can need (for int→decimal widening)
_INT_DIGITS = {"byte": 3, "short": 5, "integer": 10, "long": 20}


def _widen_decimal(a: T.DataType, b: T.DataType) -> T.DataType | None:
    """Decimal lattice (reference uses decimal(3,2) completeness scores,
    etl/utils/quality.py:33, and DECIMAL(10,2) facts,
    sql/ddl/02_create_facts.sql:14-23): the merged type keeps the max scale
    and the max integral width — decimal(p1,s1) ∨ decimal(p2,s2) =
    decimal(max(p1-s1, p2-s2) + max(s1,s2), max(s1,s2)); integral types join
    as decimal(digits, 0). Exceeding Spark's 38-digit cap, or mixing decimal
    with float/double/string, is incompatible (never silently lose
    precision) → None, which merge_schemas turns into SchemaEvolutionError.
    """

    def ps(t: T.DataType) -> tuple[int, int] | None:
        if isinstance(t, T.DecimalType):
            return t.precision, t.scale
        d = _INT_DIGITS.get(t.typeName())
        return (d, 0) if d is not None else None

    pa, pb = ps(a), ps(b)
    if pa is None or pb is None:
        return None
    scale = max(pa[1], pb[1])
    integral = max(pa[0] - pa[1], pb[0] - pb[1])
    if integral + scale > 38:
        return None
    return T.DecimalType(integral + scale, scale)


def widen(a: T.DataType, b: T.DataType) -> T.DataType | None:
    """Least common widened type of a and b, or None if incompatible."""
    if a == b:
        return a
    if isinstance(a, T.DecimalType) or isinstance(b, T.DecimalType):
        return _widen_decimal(a, b)
    key = (a.typeName(), b.typeName())
    if key in _WIDEN:
        return _WIDEN[key]
    rkey = (b.typeName(), a.typeName())
    if rkey in _WIDEN:
        return _WIDEN[rkey]
    return None


class SchemaEvolutionError(ValueError):
    pass


def merge_schemas(current: T.StructType, incoming: T.StructType) -> tuple[T.StructType, dict]:
    """Merge an incoming batch schema into the lake schema.

    Returns (unified_schema, change_report). change_report holds
    ``added`` / ``widened`` lists so the commit can record lineage.
    Column order: current columns first (possibly widened), then new
    columns in incoming order — old readers keep their positions.
    """
    added: list[str] = []
    widened: list[str] = []
    by_name = {f.name: f for f in incoming.fields}
    out: list[T.StructField] = []
    for f in current.fields:
        inc = by_name.get(f.name)
        if inc is None:
            out.append(f)
            continue
        t = widen(f.dataType, inc.dataType)
        if t is None:
            raise SchemaEvolutionError(
                f"column {f.name}: cannot merge {f.dataType.simpleString()} "
                f"with {inc.dataType.simpleString()}"
            )
        if t != f.dataType:
            widened.append(f"{f.name}:{f.dataType.simpleString()}->{t.simpleString()}")
        out.append(T.StructField(f.name, t, nullable=f.nullable or inc.nullable))
    have = {f.name for f in out}
    for f in incoming.fields:
        if f.name not in have:
            # New columns are always nullable: rows written before the column
            # existed read as null (reference's lit(None).cast(T) pattern).
            out.append(T.StructField(f.name, f.dataType, nullable=True))
            added.append(f"{f.name}:{f.dataType.simpleString()}")
    return T.StructType(out), {"added": added, "widened": widened}


def conform(df, target: T.StructType):
    """Project/cast df to exactly `target` (missing columns → typed nulls).

    The Spark-first lift of the reference's defensive projection
    (etl/bronze_to_silver.py:59-181): one declarative select Catalyst can
    prune/push through, no per-column ifs at runtime. A frame whose column
    names and types already are ``target``'s, in order, is returned as is:
    the identity select plans to the same executed plan, but costs a cast
    and an alias (py4j calls) per column on every read.
    """
    from pyspark.sql import functions as F

    if [(f.name, f.dataType) for f in df.schema.fields] == [
        (f.name, f.dataType) for f in target.fields
    ]:
        return df
    cols = set(df.columns)
    exprs = []
    for f in target.fields:
        if f.name in cols:
            exprs.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            exprs.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*exprs)


def schema_to_json(s: T.StructType) -> str:
    return s.json()


def schema_from_json(j: str) -> T.StructType:
    return T.StructType.fromJson(__import__("json").loads(j))


def arrow_schema_of_parquet(path: str) -> T.StructType:
    """Read a parquet file's Arrow schema footer (no Spark job) and convert
    to a Spark StructType — the per-batch schema-diff entry point."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    return from_arrow_schema(pq.read_schema(path))


#: footer key under which Spark's parquet writer records the Spark schema
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def parquet_table_footer(path: str) -> tuple[T.StructType, int]:
    """``(schema, row groups)`` of a parquet table, read from its footers on
    the driver. The schema is the one ``spark.read.parquet(path)`` infers:
    passing it to ``spark.read.schema(...)`` skips the Spark job that
    inference runs on every read. A parquet row group is the unit a scan
    task reads, so the row-group count bounds the tasks a scan of the table
    can spread over.

    ``path`` is a parquet file or a Spark-written directory; a directory's
    schema is that of its first data file and its row groups are summed
    over its data files (names starting with ``_`` or ``.`` are skipped, as
    Spark skips them). A footer that carries Spark's own schema record is
    read from that record, as Spark's inference does (an INT96 column is a
    ``TimestampType``, not the naive nanosecond timestamp Arrow sees). Any
    other footer is converted from Arrow, with zone-less timestamps as
    ``TimestampNTZType``, again as Spark infers them. The WAL reader keeps
    :func:`arrow_schema_of_parquet` for its own schema diff."""
    import json
    import os

    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    files = [path]
    if os.path.isdir(path):
        files = sorted(
            os.path.join(path, f) for f in os.listdir(path) if not f.startswith(("_", "."))
        )
    metas = [pq.read_metadata(f) for f in files]
    row_groups = sum(m.num_row_groups for m in metas)
    footer = metas[0].schema.to_arrow_schema()
    recorded = (footer.metadata or {}).get(_SPARK_ROW_METADATA)
    if recorded is not None:
        return T.StructType.fromJson(json.loads(recorded)), row_groups
    return from_arrow_schema(footer, prefer_timestamp_ntz=True), row_groups
