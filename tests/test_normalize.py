"""Vectorized normalization parity with the reference's normalize_string
(etl/silver_to_gold.py:20-29) semantics — NFD accent strip + whitespace
collapse — and hypothesis property coverage."""

from __future__ import annotations

import pandas as pd
from hypothesis import given, settings, strategies as st
from parity_references import reference_normalize
from pyspark.sql import functions as F

from trde703_openfoodfacts_etl_spark.functions.normalize import (
    _normalize_series,
    normalize_key,
    normalize_text,
)

CASES = [
    "Café au lait",
    "  NAÏVE   résumé\t\tdétail  ",
    "über  Señor   garçon",
    "plain ascii",
    "",
    "   ",
    "éèêë àâä ùûü ïî ç ñ",
    "mixed 中文 and čěš",
]


def test_vectorized_matches_reference_scalar():
    got = _normalize_series(pd.Series(CASES), lowercase=False).tolist()
    want = [reference_normalize(c) for c in CASES]
    assert got == want


def test_spark_udf_roundtrip(spark):
    df = spark.createDataFrame([(c,) for c in CASES], ["text"])
    out = df.select(
        normalize_text(F.col("text")).alias("n"),
        normalize_key(F.col("text")).alias("k"),
    ).collect()
    for row, c in zip(out, CASES):
        assert row["n"] == reference_normalize(c)
        assert row["k"] == reference_normalize(c, lowercase=True)


def test_null_passthrough(spark):
    df = spark.createDataFrame([(None,), ("x",)], "text string")
    out = [r[0] for r in df.select(normalize_text("text")).collect()]
    assert out == [None, "x"]


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet=st.characters(max_codepoint=0x2FF), max_size=80))
def test_property_parity(s):
    got = _normalize_series(pd.Series([s]), lowercase=True).tolist()[0]
    assert got == reference_normalize(s, lowercase=True)
