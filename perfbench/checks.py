"""Correctness gates, independent of the engine under test.

CDC: the final lake state must equal a DuckDB last-writer-wins replay of
the same WAL — per ``(conv_id, turn_idx)`` the event with the greatest
``(ts, lsn)`` wins, and keys whose winner is a delete are dropped. The two
sides are compared by row count and an order-independent checksum: the
sum over rows of the first 60 bits of the md5 of a canonical row string.
DuckDB computes it over the WAL, Spark over the engine's read, and
:func:`row_checksum` is the plain-Python definition both must match.

Queries: each result is compared with the DuckDB run of its oracle SQL,
canonicalized and hashed by the helpers of ``scripts/full_correctness.py``
(the repository's all-query correctness script), so the benchmark and that
script agree on what "equal" means.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os

import duckdb

#: state columns, in checksum order
STATE_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
SEP, NULL = "\x1f", "\x01"


def row_checksum(rows) -> tuple[int, int]:
    """(count, checksum) of rows given as tuples in ``STATE_COLS`` order,
    ``ts`` as epoch microseconds. The reference for both SQL forms."""
    total = n = 0
    for r in rows:
        s = SEP.join(NULL if v is None else str(v) for v in r)
        total += int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
        n += 1
    return n, total


def wal_lww_checksum(wal_glob: str) -> tuple[int, int]:
    """(count, checksum) of the LWW state of the WAL files at ``wal_glob``,
    computed by DuckDB."""
    parts = []
    for c in STATE_COLS:
        expr = "CAST(epoch_us(ts) AS VARCHAR)" if c == "ts" else f"CAST({c} AS VARCHAR)"
        parts.append(f"coalesce({expr}, chr(1))")
    canon = " || chr(31) || ".join(parts)
    sql = f"""
        WITH ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY conv_id, turn_idx
                ORDER BY coalesce(ts, TIMESTAMP '1970-01-01') DESC, lsn DESC) AS rn
            FROM read_parquet('{wal_glob}', hive_partitioning = false))
        SELECT count(*), coalesce(sum(('0x' || substr(md5({canon}), 1, 15))::BIGINT), 0)
        FROM ranked WHERE rn = 1 AND op <> 'D'
    """
    con = duckdb.connect()
    try:
        n, total = con.sql(sql).fetchone()
    finally:
        con.close()
    return int(n), int(total)


def lake_checksum(state_df) -> tuple[int, int]:
    """(count, checksum) of a Spark DataFrame with the ``STATE_COLS``."""
    from pyspark.sql import functions as F

    parts = []
    for c in STATE_COLS:
        v = F.unix_micros(F.col(c)) if c == "ts" else F.col(c)
        parts.append(F.coalesce(v.cast("string"), F.lit(NULL)))
    h = F.conv(F.substring(F.md5(F.concat_ws(SEP, *parts)), 1, 15), 16, 10)
    n, total = state_df.select(
        F.count(F.lit(1)), F.sum(h.cast("decimal(38,0)"))
    ).first()
    return int(n), int(total or 0)


def _full_correctness(root: str):
    path = os.path.join(root, "scripts", "full_correctness.py")
    spec = importlib.util.spec_from_file_location("full_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class QueryOracle:
    """DuckDB over the benchmark's tables, running ``oracle_sql()``."""

    def __init__(self, root: str, tables_dir: str, table_names: list[str]):
        import __spark_entry__

        fc = _full_correctness(root)
        self._canon, self._hash = fc._canon, fc._hash
        self.sql = __spark_entry__.oracle_sql()
        self.con = duckdb.connect()
        for t in table_names:
            self.con.execute(
                f"CREATE VIEW {t} AS FROM '{os.path.join(tables_dir, t)}.parquet'"
            )

    def check(self, name: str, result_pdf) -> str | None:
        """None when ``result_pdf`` matches the oracle, else the reason."""
        got = self._canon(result_pdf)
        want = self._canon(self.con.sql(self.sql[name]).df())
        if got.shape[0] != want.shape[0]:
            return f"{got.shape[0]} rows, oracle {want.shape[0]}"
        if list(got.columns) != list(want.columns):
            return f"columns {list(got.columns)}, oracle {list(want.columns)}"
        if self._hash(got) != self._hash(want):
            return "value hash differs from the oracle"
        return None

    def close(self) -> None:
        self.con.close()
