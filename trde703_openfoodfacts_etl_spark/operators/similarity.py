"""Similarity search over the ``embeddings`` table: ``vec_id`` (long) and
``embedding`` (array<float>).

Every operator here takes its hyperplanes or centroids from corpus rows
with fixed ids, so the exact result is recomputable in SQL (the DuckDB
oracle of q28/q29):

- :func:`corpus_lsh_topk` — random-hyperplane LSH: a sign-bit bucket per
  band, candidates share a band bucket, exact cosine re-ranks them. The
  corpus is bucketed once (buckets are a pure function of the vector), so
  the candidate search is an equi-join on bucket ids, not a cross join.
- :func:`corpus_ivf_topk` — IVF: every vector goes to its nearest
  pseudo-centroid; probes search only their ``nprobe`` nearest cells.
- :func:`cosine_neardup_pairs_matmul` — blocked-exact near-duplicate pairs.

Every dot product and cosine runs in numpy over Arrow batches (pandas
UDFs): :func:`_matrix` turns a list column into a float64 matrix, and
:func:`_seqdot` sums the products left to right, the rounding sequence of
the oracle's SQL fold, so the doubles are bit-identical. One rule covers
NULL and zero-norm vectors; :func:`_matrix` states it. Each pandas UDF and
the ``applyInPandas`` kernel calls
:func:`~trde703_openfoodfacts_etl_spark.forget_zip_importers` first.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from .. import forget_zip_importers


def _matrix(s: pd.Series, width: int | None = None) -> np.ndarray:
    """The vectors of ``s`` as a float64 matrix, one row each. ``width`` is
    the vector length (default: the first non-NULL vector's); a vector of
    another length raises ``ValueError``.

    The rule for degenerate input, for every kernel in this module:

    - a NULL vector reads as the zero vector: its dot with anything is 0,
      so it sets no LSH sign bit (bucket 0, as ``SQL_Q28``'s
      ``CASE WHEN dot > 0`` gives);
    - a cosine with a zero-norm side is NULL (NaN in numpy, which Arrow
      hands to Spark as NULL), as DuckDB's ``x / 0 = NULL`` gives in
      ``_sql_cos``;
    - NULL cosines sort after every number (``DESC NULLS LAST`` in both
      engines) and ties go to the smaller id, so a NULL or zero vector
      ranks last, takes the smallest ``cent_id`` as its IVF cell and fails
      any cosine threshold.
    """
    valid = s.notna().to_numpy()
    rows = s.to_numpy()[valid]
    if width is None:
        width = len(rows[0]) if len(rows) else 0
    for v in rows:
        if len(v) != width:
            raise ValueError(
                f"vectors in one batch differ in length: expected {width}, found {len(v)}"
            )
    m = np.zeros((len(s), width))
    if len(rows):
        m[valid] = np.stack(rows)
    return m


def _seqdot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise dot products, summed strictly left to right (``cumsum``):
    float32→double casts are exact and each product rounds once, so this
    reproduces the oracle's ``_SQL_DOT`` fold bit for bit. ``b`` may be a
    single vector, broadcast against every row of ``a``."""
    p = a * b
    return np.cumsum(p, axis=1)[:, -1] if p.shape[1] else np.zeros(len(p))


def _norm(a: np.ndarray) -> np.ndarray:
    return np.sqrt(_seqdot(a, a))


def _cos(dot, norm_a, norm_b):
    """``dot / (norm_a * norm_b)``, NaN (NULL) where a norm is zero."""
    with np.errstate(divide="ignore", invalid="ignore"):
        return dot / (norm_a * norm_b)


def cosine_vec(a, b):
    """Row-wise cosine of two vector columns, per Arrow batch in numpy."""

    @F.pandas_udf("double")
    def _cosine(xs: pd.Series, ys: pd.Series) -> pd.Series:
        forget_zip_importers()
        m = _matrix(pd.concat([xs, ys], ignore_index=True))  # one width for both
        x, y = m[: len(xs)], m[len(xs):]
        return pd.Series(_cos(_seqdot(x, y), _norm(x), _norm(y)))

    return _cosine(a, b)


def cosine_neardup_pairs_matmul(df, threshold: float, block_col: str):
    """Embedding-cosine near-duplicate PAIRS: all (a, b) in one block with
    ``cos(a, b) >= threshold`` and ``a.id < b.id``, exact within blocks,
    cosine rounded to 6 places.

    The per-block pair scoring is ONE numpy/BLAS matmul inside
    ``applyInPandas``: a block of m d-dim vectors costs one m×d · d×m GEMM.
    Each block must fit one executor task (m² score matrix): bound block
    sizes upstream (that is what the blocking key is for) or sub-block with
    LSH buckets. BLAS sums in its own order, so a cosine may differ from the
    sequential fold by ~1e-12; a threshold needs that margin.

    NULL blocks are dropped (rows with ``block_col IS NULL`` emit no
    pairs), as an equi-join on the block key drops them — without the
    filter, groupBy would lump all NULL-block rows into one group. NULL
    vectors are dropped too: by the :func:`_matrix` rule they pair with
    nothing.
    """
    df = df.filter(F.col(block_col).isNotNull() & F.col("embedding").isNotNull())

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        forget_zip_importers()
        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy()
        V = _matrix(pdf["embedding"])
        norms = np.linalg.norm(V, axis=1, keepdims=True)
        norms[norms == 0.0] = np.nan  # zero vectors match nothing (cos undefined)
        V = V / norms
        G = V @ V.T
        iu, ju = np.triu_indices(len(pdf), k=1)
        s = G[iu, ju]
        keep = s >= threshold  # NaN fails, as a NULL cosine does in SQL
        return pd.DataFrame(
            {"id_a": ids[iu[keep]], "id_b": ids[ju[keep]], "cos": np.round(s[keep], 6)}
        )

    return df.groupBy(block_col).applyInPandas(kernel, "id_a long, id_b long, cos double")


def _index(corpus, ids, what: str):
    """``(sorted ids as an array, their vectors as a float64 matrix)``: the ANN index,
    collected once at plan build. Raises ``ValueError`` naming the ids the
    corpus lacks."""
    ids = sorted({int(i) for i in ids})
    if not ids:
        raise ValueError(f"no {what} ids given")
    got = dict(corpus.filter(F.col("vec_id").isin(ids)).select("vec_id", "embedding").collect())
    missing = [i for i in ids if i not in got]
    if missing:
        raise ValueError(f"{what} ids missing from the corpus: {missing}")
    return np.array(ids, dtype=np.int64), _matrix(pd.Series([got[i] for i in ids], dtype=object))


def _buckets(V: np.ndarray, planes: np.ndarray, per_band: int) -> np.ndarray:
    """Sign-bit LSH buckets, one column per band: plane ``i`` adds
    ``2^(i % per_band)`` to band ``i // per_band`` when its dot with the
    vector is > 0."""
    out = np.zeros((len(V), (len(planes) - 1) // per_band + 1), dtype=np.int64)
    for i, p in enumerate(planes):
        out[:, i // per_band] += (_seqdot(V, p) > 0) << (i % per_band)
    return out


def corpus_plane_buckets(df, planes: np.ndarray, per_band: int, out_id: str):
    """``(out_id, band, bucket)`` rows: the :func:`_buckets` of each vector
    against the hyperplanes ``planes`` (rows in band order). The planes are
    corpus vectors, so the DuckDB oracle recomputes identical buckets."""

    @F.pandas_udf("array<long>")
    def _bks(vs: pd.Series) -> pd.Series:
        forget_zip_importers()
        return pd.Series(list(_buckets(_matrix(vs, planes.shape[1]), planes, per_band)))

    return df.select(
        F.col("vec_id").alias(out_id), _bks(F.col("embedding")).alias("_bks")
    ).select(out_id, F.posexplode("_bks").alias("band", "bucket"))


def corpus_lsh_topk(corpus, probes, plane_ids: list[int], bands: int = 3, k: int = 10):
    """Random-hyperplane LSH top-k with corpus-vector hyperplanes (sorted
    by id, ``len(plane_ids) // bands`` per band).

    Bucket equi-join, then exact cosine re-rank of the candidates. q28 does
    not spread the corpus scan: the bucket join shuffles the corpus anyway,
    so the extra round-robin stage only adds latency (r6 A/B at both SFs)."""
    _, planes = _index(corpus, plane_ids, "plane")
    per_band = len(planes) // bands
    cb = corpus_plane_buckets(corpus, planes, per_band, "neighbor_id")
    pb = corpus_plane_buckets(probes, planes, per_band, "probe_id")
    cand = (
        pb.join(cb, ["band", "bucket"])
        .filter(F.col("probe_id") != F.col("neighbor_id"))
        .select("probe_id", "neighbor_id")
        .dropDuplicates(["probe_id", "neighbor_id"])
    )
    pv = probes.select(F.col("vec_id").alias("probe_id"), F.col("embedding").alias("_pv"))
    cv = corpus.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("_cv"))
    w = W.partitionBy("probe_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        cand.join(F.broadcast(pv), "probe_id")
        .join(cv, "neighbor_id")
        .select("probe_id", "neighbor_id",
                cosine_vec(F.col("_pv"), F.col("_cv")).alias("cos"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("probe_id", "rank", "neighbor_id")
    )


def _top_cells(V: np.ndarray, C: np.ndarray, n: int) -> np.ndarray:
    """Per row of ``V``, the row indices of its ``n`` nearest centroids
    (rows of ``C``, in id order): cosine descending, NULL last, ties to the
    smaller index — ``SQL_Q29``'s ``ORDER BY s DESC, cent_id``."""
    dots = np.empty((len(V), len(C)))
    for j, c in enumerate(C):
        dots[:, j] = _seqdot(V, c)
    s = _cos(dots, _norm(V)[:, None], _norm(C)[None, :])
    return np.argsort(np.where(np.isnan(s), np.inf, -s), axis=1, kind="stable")[:, :n]


def corpus_ivf_topk(corpus, probes, centroid_ids: list[int], nprobe: int = 3, k: int = 10):
    """IVF top-k with corpus-vector pseudo-centroids.

    The centroids (the IVF index) are collected at plan build. One numpy
    kernel, :func:`_top_cells`, gives each corpus vector its nearest cell
    and each probe its ``nprobe`` nearest cells; exact cosine re-ranks
    inside the probed cells. The centroid choice (corpus rows,
    deterministic ids) makes the exact result recomputable in the SQL
    oracle. A production deployment replaces the fixed ids with
    sampled/k-means centroids and writes the corpus bucketed by cell
    (shuffle-free probes)."""
    cids, C = _index(corpus, centroid_ids, "centroid")

    def cells(n):
        @F.pandas_udf("array<long>")
        def _cells(vs: pd.Series) -> pd.Series:
            forget_zip_importers()
            return pd.Series(list(cids[_top_cells(_matrix(vs, C.shape[1]), C, n)]))

        return _cells

    corpus_cells = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("_cv"),
        cells(1)(F.col("embedding"))[0].alias("cell"),
    )
    probe_cells = probes.select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("_pv"),
        F.explode(cells(nprobe)(F.col("embedding"))).alias("cell"),
    )
    w = W.partitionBy("probe_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        F.broadcast(probe_cells)
        .join(corpus_cells, "cell")
        .filter(F.col("probe_id") != F.col("neighbor_id"))
        .select("probe_id", "neighbor_id",
                cosine_vec(F.col("_pv"), F.col("_cv")).alias("cos"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("probe_id", "rank", "neighbor_id")
    )
