#!/usr/bin/env python
"""Supplemental all-query correctness artifact (VERDICT r3 item 1 / ADVICE).

The driver's correctness gate evaluates only the first 50 entries of
``queries()``; this script runs ALL registered queries against their DuckDB
oracles at sf0.01 (driver parity) and writes ``CORRECTNESS_FULL_r{N}.json``
at the repo root, so the 10 past-cap registry entries keep hard, committed
evidence every round.

The compare replicates the driver STRICTLY: row count, sorted column
names, and an order-insensitive value hash over column-name-sorted data.
(tests/test_entry.py intentionally differs: it does tolerant pairwise value
comparison — a per-round local gate that must not flake on float noise —
while this script reproduces the driver's typed hash; the two are
complementary, not drifting replicas.)  Crucially it is
dtype-aware the same way the driver is — an int64 Spark column vs a float64
oracle column is a hash MISMATCH even when the values are numerically equal
(the exact q57 failure mode of round 3).

Run:  python scripts/full_correctness.py [sf_dir] [round_tag]

The session is sized by ``build_session``: ``SPARK_GRAFT_CPUS`` cores (32 if
unset) and as many shuffle partitions.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import duckdb
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod  # noqa: E402
from trde703_openfoodfacts_etl_spark import build_session  # noqa: E402
from trde703_openfoodfacts_etl_spark.plans.analytics import TABLES  # noqa: E402


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    """Column-name-sorted, row-sorted, dtype-canonicalized frame.

    Integer-kind columns (including pandas nullable Int*) normalize to
    int64 ONLY when null-free; a null-bearing or float column stays float64
    so an int-vs-float divergence between engine and oracle is visible.
    """
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        dt = str(df[c].dtype)
        if dt.startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            # HUGEINT/DECIMAL come back as object(Decimal) from DuckDB —
            # keep the repr so the mismatch shows, stringify for sortability
            df[c] = df[c].astype(str)
        elif dt.startswith(("int", "uint", "Int", "UInt")):
            df[c] = df[c].astype("int64") if not df[c].isna().any() else df[c].astype("float64")
        elif dt.startswith("float"):
            df[c] = df[c].astype("float64")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def _hash(df: pd.DataFrame) -> str:
    h = hashlib.sha256()
    h.update(("|".join(f"{c}:{df[c].dtype.kind}" for c in df.columns)).encode())
    for c in df.columns:
        col = df[c]
        if col.dtype.kind == "f":
            # stable float repr: 12 significant digits absorbs plan-order
            # summation noise while still distinguishing real value diffs
            vals = col.map(lambda v: "NaN" if pd.isna(v) else f"{v:.12g}")
        else:
            vals = col.map(lambda v: "NaN" if pd.isna(v) else str(v))
        h.update("\x1f".join(vals).encode())
        h.update(b"\x1e")
    return h.hexdigest()[:16]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    tag = sys.argv[2] if len(sys.argv) > 2 else "r04"
    spark = build_session(app_name="full_correctness")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS FROM '{sf_dir}/{t}.parquet'")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    out: dict[str, dict] = {}
    for name, fn in queries.items():
        row: dict = {
            "rows_match": None, "schema_match": None, "hash_match": None,
            "spark_rows": None, "oracle_rows": None, "err": None,
        }
        try:
            got = _canon(fn(spark, sf_dir).toPandas())
            row["spark_rows"] = int(got.shape[0])
            if name in oracles:
                want = _canon(con.sql(oracles[name]).df())
                row["oracle_rows"] = int(want.shape[0])
                row["rows_match"] = got.shape[0] == want.shape[0]
                row["schema_match"] = list(got.columns) == list(want.columns)
                row["hash_match"] = bool(
                    row["rows_match"] and row["schema_match"] and _hash(got) == _hash(want)
                )
            else:  # non-SQL-expressible op: rows-only check, like the driver
                row["rows_match"] = row["spark_rows"] >= 0
        except Exception as exc:  # noqa: BLE001 — artifact must record, not die
            row["err"] = f"{type(exc).__name__}: {exc}"[:500]
        out[name] = row
        status = "OK " if row["hash_match"] else ("rows" if row["rows_match"] else "ERR")
        print(f"  {status} {name}  spark={row['spark_rows']} oracle={row['oracle_rows']}")

    path = os.path.join(REPO, f"CORRECTNESS_FULL_{tag}.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    n_hash = sum(1 for r in out.values() if r["hash_match"])
    n_err = sum(1 for r in out.values() if r["err"])
    # red = an error, a failed hash, or a rows-only query whose rows check
    # failed; a rows-only green (hash_match None, rows_match True) is not a
    # failure — that is the driver's own semantics for oracle-less ops
    n_red = sum(
        1 for r in out.values()
        if r["err"] or r["hash_match"] is False
        or (r["hash_match"] is None and r["rows_match"] is not True)
    )
    print(f"{path}: {n_hash}/{len(out)} hash-green, {n_err} errors")
    sys.exit(1 if n_red else 0)


if __name__ == "__main__":
    main()
