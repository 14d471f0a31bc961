"""Parity tests for the vectorized text-function fast paths: every
``*_vec`` twin must be VALUE-IDENTICAL to its declarative expression form
(the oracle-parity reference), including on adversarial Unicode/edge
inputs the driver corpora may not exercise."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from parity_references import mingram_fingerprint_expr  # noqa: E402
from trde703_openfoodfacts_etl_spark.functions.text import mingram_fingerprint_vec  # noqa: E402

ADVERSARIAL = [
    None,
    "",
    " ",
    "\t\n  \r ",
    "one",
    "one two",
    "one two three",
    "one two three four five",
    "  leading and   trailing\tspace  ",
    "UPPER Case MiXeD",
    "unicode café naïve über straße",
    "combining é accent à grave",
    "Ça va? Été İstanbul",
    "cjk 中文 文本 mixed tokens",
    "nbsp inside token",  # U+00A0 is NOT Java \s: stays inside a token
    "tab\tsep\nnewline\x0bvt\x0cff\rcr end",
    "dup dup dup dup dup",
    "x " * 200 + "tail",
    "emoji \U0001f600 token \U0001f680 rocket",
]


def test_mingram_fingerprint_vec_matches_expr(spark):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(ADVERSARIAL)], "i int, text string")
    got = (
        df.select(
            "i",
            mingram_fingerprint_expr(F.col("text")).alias("ref"),
            mingram_fingerprint_vec(F.col("text")).alias("fast"),
        )
        .orderBy("i")
        .collect()
    )
    for r in got:
        assert r["fast"] == r["ref"], (r["i"], ADVERSARIAL[r["i"]], r["fast"], r["ref"])


def test_mingram_fingerprint_vec_matches_expr_on_corpus(spark):
    df = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    n_diff = (
        df.select(
            mingram_fingerprint_expr(F.col("text")).alias("ref"),
            mingram_fingerprint_vec(F.col("text")).alias("fast"),
        )
        .filter(~F.col("fast").eqNullSafe(F.col("ref")))
        .count()
    )
    assert n_diff == 0
