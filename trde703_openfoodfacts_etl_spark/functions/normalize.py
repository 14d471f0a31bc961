"""Vectorized Unicode text normalization (pandas/Arrow UDFs — no per-row Python).

Parity target: the reference's only UDF, ``normalize_string``
(etl/silver_to_gold.py:20-29) — a row-at-a-time Python UDF doing NFD
decomposition, combining-mark strip, and whitespace collapse. Here the same
specification runs as an Arrow-batched pandas UDF: the executor receives
columnar batches and applies pandas ``.str`` kernels, ~10-100× less
serialization + interpreter overhead than per-row pickling.

Spec (ENGINE_NORM_SPEC — the pytest oracle implements this independently):
1. Unicode NFD decomposition.
2. Remove combining marks in the standard combining blocks
   (U+0300–036F, U+1AB0–1AFF, U+1DC0–1DFF, U+20D0–20FF, U+FE20–FE2F).
3. Collapse runs of whitespace to a single space; strip ends.
Null in → null out. ``normalize_key`` additionally lowercases first
(the reference applies ``lower()`` before its UDF, etl/silver_to_gold.py:94).

Both UDFs call :func:`~trde703_openfoodfacts_etl_spark.forget_zip_importers`
first, as every Python function the package hands to Spark does: without
it, each task of a reused worker re-read ``pyspark.zip`` and the
``spark-core`` jar before its first row.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import forget_zip_importers

#: combining-mark blocks removed after NFD decomposition
_COMBINING = "̀-ͯ᪰-᫿᷀-᷿⃐-⃿︠-︯"
_MARKS_RE = f"[{_COMBINING}]"
_WS_RE = r"\s+"


def _normalize_series(s: pd.Series, lowercase: bool) -> pd.Series:
    out = s.str.normalize("NFD")
    if lowercase:
        out = out.str.lower()
    out = out.str.replace(_MARKS_RE, "", regex=True)
    out = out.str.replace(_WS_RE, " ", regex=True).str.strip()
    return out


@F.pandas_udf(T.StringType())
def normalize_text(s: pd.Series) -> pd.Series:
    forget_zip_importers()
    return _normalize_series(s, lowercase=False)


@F.pandas_udf(T.StringType())
def normalize_key(s: pd.Series) -> pd.Series:
    forget_zip_importers()
    return _normalize_series(s, lowercase=True)


def with_normalized_text(df):
    """Batch transform hook for the CDC pipeline: adds ``text_norm``, the
    normalized ``text`` (vectorized). Plug into run_incremental(transform=...)."""
    return df.withColumn("text_norm", normalize_text(F.col("text")))
