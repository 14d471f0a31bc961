#!/usr/bin/env python
"""Spot-check a subset of queries against their DuckDB oracles — the
optimization-round inner loop (full run: scripts/full_correctness.py).

Run:  python scripts/check_queries.py q39_interval_join[,q21_...] [sf_dir]

The session is sized by ``build_session``: ``SPARK_GRAFT_CPUS`` cores (32 if
unset) and as many shuffle partitions.
"""

from __future__ import annotations

import os
import sys

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod  # noqa: E402
from scripts.full_correctness import _canon, _hash  # noqa: E402
from trde703_openfoodfacts_etl_spark import build_session  # noqa: E402
from trde703_openfoodfacts_etl_spark.plans.analytics import TABLES  # noqa: E402


def main() -> None:
    names = sys.argv[1].split(",")
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    spark = build_session(app_name="check_queries")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS FROM '{sf_dir}/{t}.parquet'")
    queries, oracles = entrymod.queries(), entrymod.oracle_sql()
    bad = 0
    for name in names:
        got = _canon(queries[name](spark, sf_dir).toPandas())
        if name not in oracles:
            print(f"  {name}: no oracle, spark rows={got.shape[0]}")
            continue
        want = _canon(con.sql(oracles[name]).df())
        ok = (
            got.shape[0] == want.shape[0]
            and list(got.columns) == list(want.columns)
            and _hash(got) == _hash(want)
        )
        bad += 0 if ok else 1
        print(f"  {'OK ' if ok else 'FAIL'} {name} spark={got.shape[0]} oracle={want.shape[0]}")
        if not ok:
            print("   spark:", got.head(8).to_dict("records"))
            print("   oracle:", want.head(8).to_dict("records"))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
