from __future__ import annotations

import datetime as dt

import duckdb
import pandas as pd
from pyspark.sql import types as T

from trde703_openfoodfacts_etl_spark.schema import CDC_ENVELOPE_FIELDS, CDC_SCHEMA

#: v2 adds a metadata column mid-stream and widens turn_idx (FIXTURES.md §3).
CDC_SCHEMA_V2 = T.StructType(
    CDC_ENVELOPE_FIELDS
    + [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.LongType(), False),  # widened int32→int64
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("tool_meta", T.StringType(), True),  # added column
        T.StructField("ts", T.TimestampType(), True),
    ]
)


def ts(sec: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=sec)


def _nullable(schema):
    return T.StructType([T.StructField(f.name, f.dataType, True) for f in schema.fields])


def make_events(spark, rows, v2=False):
    """rows: (op, lsn, conv_id, turn_idx, role, text, tool, ts_sec[, tool_meta])."""
    schema = _nullable(CDC_SCHEMA_V2 if v2 else CDC_SCHEMA)
    recs = []
    for r in rows:
        op, lsn, conv, turn, role, text, tool, tsec = r[:8]
        rec = {
            "op": op,
            "lsn": lsn,
            "event_ts": ts(tsec + 1),
            "conv_id": conv,
            "turn_idx": turn,
            "role": role,
            "text": text,
            "tool": tool,
            "ts": ts(tsec),
        }
        if v2:
            rec["tool_meta"] = r[8] if len(r) > 8 else None
        recs.append(rec)
    return spark.createDataFrame(recs, schema)


def duckdb_replay_oracle(segment_glob: str, extra_cols: list[str] | None = None) -> pd.DataFrame:
    """Naive single-pass LWW oracle over raw WAL segments (never the engine)."""
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"] + (extra_cols or [])
    q = f"""
        SELECT {', '.join(cols)}
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY conv_id, turn_idx
                ORDER BY coalesce(ts, TIMESTAMP '1970-01-01') DESC, lsn DESC) AS rn
            FROM read_parquet('{segment_glob}', union_by_name=true)
            WHERE conv_id IS NOT NULL AND conv_id <> '' AND turn_idx IS NOT NULL
        )
        WHERE rn = 1 AND op <> 'D'
        ORDER BY conv_id, turn_idx
    """
    return duckdb.sql(q).df()


def lake_state_pdf(lake, cols=None) -> pd.DataFrame:
    cols = cols or ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    return (
        lake.read()
        .select(*cols)
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )


def assert_states_equal(engine: pd.DataFrame, oracle: pd.DataFrame):
    engine = engine.reset_index(drop=True)
    oracle = oracle.reset_index(drop=True)
    for df in (engine, oracle):
        for c in df.columns:
            if str(df[c].dtype).startswith("datetime64"):
                df[c] = df[c].astype("datetime64[us]")
            if c == "turn_idx":
                df[c] = df[c].astype("int64")
    pd.testing.assert_frame_equal(engine, oracle, check_dtype=False)


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith(("int", "uint", "Int")):
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def _values_equal(a, b) -> bool:
    if pd.isna(a) and pd.isna(b):  # None/NaN/NaT all count as equal nulls
        return True
    if isinstance(a, float) and isinstance(b, float):
        return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    return a == b


def assert_matches_oracle(name: str, got: pd.DataFrame, want: pd.DataFrame):
    """A query's Spark result equals its DuckDB oracle result: row count,
    column names, dtype kinds and order-insensitive values — a local
    replica of the driver's correctness gate."""
    g, w = _canon(got), _canon(want)
    assert list(g.columns) == list(w.columns), f"{name}: column mismatch {g.columns} vs {w.columns}"
    assert g.shape == w.shape, f"{name}: shape {g.shape} vs {w.shape}"
    for col in g.columns:
        # dtype-KIND parity: the driver's value hash is typed, so an int64
        # Spark column vs a float64/HUGEINT oracle column is a driver red
        # even when values are numerically equal (round-3 q57 lesson).
        # Only enforced null-free: a null-bearing int column legitimately
        # arrives as float64/object from either side.
        if not g[col].isna().any() and not w[col].isna().any():
            assert g[col].dtype.kind == w[col].dtype.kind, (
                f"{name}.{col}: dtype kind {g[col].dtype} (spark) vs "
                f"{w[col].dtype} (oracle) — typed hash would mismatch; "
                f"CAST the oracle (or the plan) so kinds agree"
            )
    for col in g.columns:
        for i, (x, y) in enumerate(zip(g[col], w[col])):
            assert _values_equal(x, y), f"{name}.{col}[{i}]: {x!r} != {y!r}"


def plans_run_under(spark, description, action):
    """Physical plans of the SQL executions ``action`` runs, tagged with a
    job description and read back from the SQL status store."""
    sc = spark.sparkContext
    sc.setJobDescription(description)
    try:
        action()
    finally:
        sc.setJobDescription(None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    execs = spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava(store.executionsList())
    return [e.physicalPlanDescription() for e in execs if e.description() == description]


def python_rdd_scans(df) -> list[str]:
    """The RDD scans (``LogicalRDD``) in ``df``'s analyzed plan whose RDD
    lineage holds a ``PythonRDD``, i.e. rows that Python workers produce
    (``createDataFrame`` from a Python list, for one). Walks the plan and
    the lineage only: runs no job."""
    as_java = df.sparkSession._jvm.scala.jdk.javaapi.CollectionConverters.asJava
    found = []
    plans = [df._jdf.queryExecution().analyzed()]
    while plans:
        node = plans.pop()
        plans.extend(as_java(node.children()))
        plans.extend(as_java(node.subqueries()))
        if node.nodeName() != "LogicalRDD":
            continue
        rdds = [node.rdd()]
        while rdds:
            rdd = rdds.pop()
            if rdd.getClass().getName() == "org.apache.spark.api.python.PythonRDD":
                found.append(node.toString())
                break
            rdds.extend(d.rdd() for d in as_java(rdd.dependencies()))
    return found


def build_jobs(spark, name: str, build) -> int:
    """Spark jobs that ``build()`` runs, counted under its own job group."""
    sc = spark.sparkContext
    group = f"build-{name}"
    sc.setJobGroup(group, f"{name} build")
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))
