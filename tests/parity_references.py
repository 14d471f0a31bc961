"""Parity references: slow, independent forms of package kernels that
tests compare the shipping fast paths against. No shipping path calls
these; they live here, outside the package.

- :func:`cosine_expr`, :func:`cosine_neardup_pairs`,
  :func:`corpus_plane_buckets_expr` — JVM higher-order-function (HOF)
  folds for the numpy kernels of ``operators/similarity.py``. They state
  the same NULL rule: ``try_divide`` makes a zero-norm cosine NULL, and a
  NULL dot sets no sign bit.
- :func:`mingram_fingerprint_expr` — the pure-expression form of
  ``functions.text.mingram_fingerprint_vec``.
- :func:`minhash_signatures_expr` — the hash-aggregate form of
  ``operators.dedup.minhash_signatures``' numpy segment-min.
- :func:`reference_normalize` — a scalar ``ENGINE_NORM_SPEC``
  (``functions/normalize.py``).
- :func:`interval_join` — the pair-enumerating bucketed interval join the
  q39 count form must agree with.
"""

from __future__ import annotations

import re
import unicodedata

from pyspark.sql import functions as F

from trde703_openfoodfacts_etl_spark.functions.normalize import _MARKS_RE
from trde703_openfoodfacts_etl_spark.operators.dedup import word_shingles


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine_expr(a, b):
    return F.try_divide(_dot(a, b), F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def cosine_neardup_pairs(df, threshold: float, block_col: str | None = None,
                         id_col: str = "vec_id", vec_col: str = "embedding"):
    """Embedding-cosine near-duplicate PAIRS: all (a, b) with
    ``cos(a, b) >= threshold`` and ``a.id < b.id``, exact within blocks
    (hash equi-join on ``block_col``; ``None`` is a full cross join), the
    cosine as a JVM HOF fold. Norms are computed per row before the join,
    so the per-pair work is one dot product."""
    norm = F.sqrt(_dot(F.col(vec_col), F.col(vec_col)))
    a = df.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"), norm.alias("_na"),
        *( [F.col(block_col).alias("_blk")] if block_col else [] ),
    )
    b = df.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"), norm.alias("_nb"),
        *( [F.col(block_col).alias("_blk")] if block_col else [] ),
    )
    j = a.join(b, "_blk") if block_col else a.crossJoin(b)
    return (
        j.filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cos",
            F.try_divide(_dot(F.col("_va"), F.col("_vb")), F.col("_na") * F.col("_nb")),
        )
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.round("cos", 6).alias("cos"))
    )


def corpus_plane_buckets_expr(df, planes, id_col="vec_id", vec_col="embedding",
                              out_id="id"):
    """Sign-bit LSH bucket per (vector, band) for a ``(band, weight, _p)``
    plane table: broadcast the planes, one projection adds ``weight`` when
    the dot is > 0 (``SQL_Q28``'s ``CASE WHEN``), one groupBy packs the
    band bucket."""
    bit = F.when(_dot(F.col(vec_col), F.col("_p")) > 0, F.col("weight")).otherwise(0)
    return (
        df.select(F.col(id_col).alias(out_id), F.col(vec_col))
        .crossJoin(F.broadcast(planes).select("band", "weight", F.col("_p")))
        .select(out_id, "band", bit.alias("_contrib"))
        .groupBy(out_id, "band")
        .agg(F.sum("_contrib").alias("bucket"))
    )


def mingram_fingerprint_expr(col, n: int = 3):
    """Winnowing-style fingerprint as a pure codegen expression: the minimum
    md5 over the word ``n``-grams of the whitespace-normalized text (window
    = whole document; equivalently MinHash with k=1 over shingles). Robust
    to small edits anywhere but at the selected gram; md5-hex string min is
    engine-portable, so the exact same value is computable in ANSI SQL
    (DuckDB oracle parity) — unlike a Karp-Rabin numeric fingerprint,
    whose uint64 wrap-around isn't SQL.
    Word grams, not char grams: ~15× fewer md5 evaluations per document
    for the same near-dup sensitivity. Texts shorter than n words hash
    whole."""
    def fp_of(t):
        # t is a lambda-bound variable: the tokenization evaluates once per
        # row (Catalyst has no CSE through lambdas — referencing the split
        # expression inside the per-index lambda would re-tokenize per gram)
        cnt = F.size(t)
        grams = F.when(
            cnt < n, F.array(F.md5(F.concat_ws(" ", t)))
        ).otherwise(
            F.transform(
                F.sequence(F.lit(0), cnt - n),
                lambda i: F.md5(F.concat_ws(" ", F.slice(t, i + 1, n))),
            )
        )
        return F.array_min(grams)

    toks = F.split(F.regexp_replace(F.lower(F.trim(col)), r"\s+", " "), " ")
    return F.element_at(F.transform(F.array(toks), fp_of), 1)


def minhash_signatures_expr(df, num_hashes: int = 64, shingle_n: int = 3):
    """MinHash signature per ``doc_id`` as one hash aggregate: column
    ``mh_i`` is ``min(pmod(a_i * h + b_i, P))`` over the document's shingle
    hashes ``h = pmod(xxhash64(shingle), P)``, with the parameter walk that
    ``minhash_signatures`` seeds."""
    P = 2147483647
    a, b, params = 0x9E3779B9, 0x7F4A7C15, []
    for _ in range(num_hashes):
        a = (a * 1103515245 + 12345) % P
        b = (b * 1103515245 + 12345) % P
        params.append((a or 1, b))
    h = df.select(
        "doc_id", F.explode(word_shingles(F.col("text"), shingle_n)).alias("_g")
    ).select("doc_id", F.pmod(F.xxhash64("_g"), F.lit(P)).alias("_h"))
    return h.groupBy("doc_id").agg(*[
        F.min(F.pmod(F.col("_h") * F.lit(ai) + F.lit(bi), F.lit(P))).alias(f"mh_{i}")
        for i, (ai, bi) in enumerate(params)
    ])


def reference_normalize(value: str | None, lowercase: bool = False) -> str | None:
    """Independent scalar implementation of ENGINE_NORM_SPEC
    (functions/normalize.py), plain python per row."""
    if value is None:
        return None
    v = unicodedata.normalize("NFD", value)
    if lowercase:
        v = v.lower()
    v = re.sub(_MARKS_RE, "", v)
    v = re.sub(r"\s+", " ", v).strip()
    return v


def interval_join(
    left,
    right,
    left_ts: str,
    right_start: str,
    right_end: str,
    bucket_seconds: int = 7 * 86400,
):
    """Join left rows to right intervals containing them
    (``right_start <= left_ts <= right_end``) with NO equi key, via
    fixed-width time bucketing. Returns the joined pairs (all columns of
    both inputs); each qualifying pair appears exactly once.

    ``bucket_seconds`` should be on the order of the typical interval
    length: too small explodes right rows into many buckets, too large
    packs unrelated rows into one bucket. Both misconfigurations are
    correct, just slower.

    Right rows with a NULL or inverted interval (``right_end < right_start``
    — bad data, sentinel timestamps) are dropped before the bucket explode:
    they can never satisfy the range predicate, and without the pre-filter
    Spark's ``sequence(start, stop)`` on an inverted pair would generate a
    DESCENDING bucket sequence, silently exploding one malformed row into
    |start_bucket - end_bucket| + 1 rows before the exact filter drops them.
    """
    b = F.lit(bucket_seconds)
    l_b = left.withColumn(
        "__bucket", F.floor(F.col(left_ts).cast("timestamp").cast("double") / b)
    )
    # compare the CAST bounds (same domain the bucketing uses): raw-column
    # comparison would misorder string timestamps in non-canonical formats
    # ('2024-1-9' vs '2024-01-10' lexicographically) and silently drop
    # valid intervals
    _rs = F.col(right_start).cast("timestamp")
    _re = F.col(right_end).cast("timestamp")
    r_b = right.filter(_rs.isNotNull() & _re.isNotNull() & (_rs <= _re)).withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor(F.col(right_start).cast("timestamp").cast("double") / b),
                F.floor(F.col(right_end).cast("timestamp").cast("double") / b),
            )
        ),
    )
    _lt = F.col(left_ts).cast("timestamp")
    joined = l_b.join(r_b, "__bucket").filter((_lt >= _rs) & (_lt <= _re))
    return joined.drop("__bucket")
