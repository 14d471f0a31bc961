"""Similarity search over embedding columns (array<float>).

Every operator here takes its hyperplanes or centroids from corpus rows
with fixed ids, so the exact result is recomputable in SQL (the DuckDB
oracle of q28/q29):

- :func:`corpus_lsh_topk` — random-hyperplane LSH: a sign-bit bucket per
  band, candidates share a band bucket, exact cosine re-ranks them. The
  corpus is bucketed once (buckets are a pure function of the vector), so
  the candidate search is an equi-join on bucket ids, not a cross join.
- :func:`corpus_ivf_topk` — IVF: every vector goes to its nearest
  pseudo-centroid; probes search only their ``nprobe`` nearest cells.
- :func:`cosine_neardup_pairs` / :func:`cosine_neardup_pairs_matmul` —
  blocked-exact near-duplicate pairs.

Dot products run either as JVM higher-order functions (the ``*_expr``
forms, kept as parity references) or as numpy twins that sum left to right
and so return bit-identical doubles (:func:`cosine_vec`,
:func:`corpus_plane_buckets`).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import spread as _spread


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine_expr(a, b):
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def cosine_vec(a, b):
    """Value-identical vectorized twin of :func:`cosine_expr` (r6): per
    Arrow batch, numpy computes dot and norms with SEQUENTIAL summation
    (`np.cumsum` over elementwise double products) — the same rounding
    sequence as the SQL left fold, so the doubles are bit-identical and
    rank orderings cannot drift. sqrt/multiply/divide are single-rounding
    IEEE ops in both engines. The HOF fold runs interpreted (~µs per
    64-dim pair); this is the re-rank hot path of the ANN operators."""

    @F.pandas_udf("double")
    def _cos(xs: pd.Series, ys: pd.Series) -> pd.Series:
        if not len(xs):
            return pd.Series([], dtype="float64")
        A = np.stack(xs.to_numpy()).astype(np.float64)
        B = np.stack(ys.to_numpy()).astype(np.float64)
        dot = np.cumsum(A * B, axis=1)[:, -1]
        na = np.sqrt(np.cumsum(A * A, axis=1)[:, -1])
        nb = np.sqrt(np.cumsum(B * B, axis=1)[:, -1])
        with np.errstate(divide="ignore", invalid="ignore"):
            return pd.Series(dot / (na * nb))

    return _cos(a, b)


def cosine_neardup_pairs(df, threshold: float, block_col: str | None = None,
                         id_col: str = "vec_id", vec_col: str = "embedding"):
    """Embedding-cosine near-duplicate PAIRS: all (a, b) with
    ``cos(a, b) >= threshold`` and ``a.id < b.id``, exact within blocks.

    Blocked-exact is the standard shape for near-dup detection over a
    corpus: block on cheap metadata (``block_col`` — language, cluster id,
    length bucket, shard), then verify exactly within each block. The join
    is a hash equi-join on the block key (one shuffle, AQE-skew-safe); the
    cosine is pure JVM higher-order functions — no UDF, no cross join
    across blocks. Cost is Σ_blocks |b|², so block sizes bound the work;
    with no natural block, feed ``corpus_plane_buckets`` output as the
    block (sign-LSH blocking, approximate recall) — this function is the
    exact verifier either way.

    Unblocked (``block_col=None``) is a full cross join — correctness
    baseline for small corpora only.
    """
    # Norms are per-ROW, not per-pair: compute each side's norm once before
    # the join (O(n·d)) so the per-pair work is a single dot product
    # (O(pairs·d)) — 3× less higher-order-function work than a naive
    # cosine_expr per pair, and the win grows with block size.
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
            "cos", _dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb"))
        )
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.round("cos", 6).alias("cos"))
    )


def cosine_neardup_pairs_matmul(df, threshold: float, block_col: str,
                                id_col: str = "vec_id", vec_col: str = "embedding"):
    """Same contract as :func:`cosine_neardup_pairs` (blocked-exact pairs,
    ``id_a < id_b``, cos ≥ threshold) with the per-block pair scoring done
    as ONE numpy/BLAS matmul inside ``applyInPandas`` — the production
    kernel for dense similarity (like the LSH/IVF scorers): a block of m
    d-dim vectors costs one m×d · d×m GEMM instead of m²/2 interpreted
    higher-order-function dot products. Each block must fit one executor
    task (m² score matrix): bound block sizes upstream (that is what the
    blocking key is for) or sub-block with LSH buckets.

    NULL blocks are dropped (rows with ``block_col IS NULL`` emit no
    pairs), exactly like the declarative form's equi-join on the block
    key — without the filter, groupBy would lump all NULL-block rows into
    one group and emit pairs the equi-join form never produces.
    """
    df = df.filter(F.col(block_col).isNotNull())
    out_schema = T.StructType(
        [
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
            T.StructField("cos", T.DoubleType()),
        ]
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        if m < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos": []})
        pdf = pdf.sort_values(id_col)
        ids = pdf[id_col].to_numpy()
        V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(V, axis=1, keepdims=True)
        norms[norms == 0.0] = np.nan  # zero vectors match nothing (cos undefined)
        V = V / norms
        G = V @ V.T
        iu, ju = np.triu_indices(m, k=1)
        s = G[iu, ju]
        keep = s >= threshold  # NaN fails, matching the SQL form's null-drop
        return pd.DataFrame(
            # round like the declarative form so the two are drop-in equal
            {"id_a": ids[iu[keep]], "id_b": ids[ju[keep]], "cos": np.round(s[keep], 6)}
        )

    return df.groupBy(block_col).applyInPandas(kernel, out_schema)


def _plane_map(spark, plane_ids: list[int], per_band: int):
    """(plane_id, band, weight=2^pos) literal mapping for data-derived LSH."""
    rows = [
        (int(pid), i // per_band, 1 << (i % per_band))
        for i, pid in enumerate(sorted(plane_ids))
    ]
    return spark.createDataFrame(rows, "plane_id long, band int, weight long")


def corpus_plane_buckets_expr(df, planes, id_col="vec_id", vec_col="embedding",
                              out_id="id"):
    """Sign-bit LSH bucket per (vector, band), hyperplanes = corpus vectors —
    the declarative reference form: broadcast the tiny plane table, one
    projection computes dot signs, one partial-aggregated groupBy packs
    sign bits into the band bucket. Using corpus vectors as hyperplanes
    makes the whole construction expressible in ANSI SQL — the DuckDB
    oracle recomputes identical buckets (dots are sequential left folds on
    both sides, so the doubles are bit-identical). Kept as the parity
    reference for :func:`corpus_plane_buckets` (tests/test_similarity.py);
    the HOF fold runs interpreted (no codegen through lambdas), ~2.3 s for
    20k vectors × 12 planes (r6)."""
    bit = (_dot(F.col(vec_col), F.col("_p")) > 0).cast("long")
    return (
        df.select(F.col(id_col).alias(out_id), F.col(vec_col))
        .crossJoin(F.broadcast(planes).select("band", "weight", F.col("_p")))
        .select(out_id, "band", (bit * F.col("weight")).alias("_contrib"))
        .groupBy(out_id, "band")
        .agg(F.sum("_contrib").alias("bucket"))
    )


def corpus_plane_buckets(df, planes, id_col="vec_id", vec_col="embedding",
                         out_id="id"):
    """Value-identical vectorized form of :func:`corpus_plane_buckets_expr`.

    The tiny plane table (an ANN index — 12 rows) is collected at plan
    build; per Arrow batch, numpy computes each plane's dot with
    SEQUENTIAL summation (`np.cumsum` over the elementwise double
    products), which reproduces the SQL left fold's rounding bit-for-bit:
    float32→double casts are exact, each product is one double rounding,
    and cumsum adds strictly left-to-right — so sign decisions (and hence
    buckets) cannot drift from the declarative/oracle form. Also removes
    the 12× row blowup of the crossJoin and its aggregate."""
    rows = sorted(
        planes.select("band", "weight", "_p").collect(),
        key=lambda r: (r["band"], r["weight"]),
    )
    P = np.array([list(r["_p"]) for r in rows], dtype=np.float32).astype(np.float64)
    band_of = [int(r["band"]) for r in rows]
    weight_of = [int(r["weight"]) for r in rows]
    n_bands = max(band_of) + 1

    @F.pandas_udf("array<long>")
    def _buckets(vs: pd.Series) -> pd.Series:
        if not len(vs):
            return pd.Series([], dtype="object")
        V = np.stack(vs.to_numpy()).astype(np.float64)
        out = np.zeros((len(vs), n_bands), dtype=np.int64)
        for i in range(P.shape[0]):
            dots = np.cumsum(V * P[i][None, :], axis=1)[:, -1]
            out[:, band_of[i]] += (dots > 0) * weight_of[i]
        return pd.Series(list(out))

    return df.select(
        F.col(id_col).alias(out_id), _buckets(F.col(vec_col)).alias("_bks")
    ).select(out_id, F.posexplode("_bks").alias("band", "bucket"))


def corpus_lsh_topk(corpus, probes, plane_ids: list[int], bands: int = 3,
                    k: int = 10, id_col: str = "vec_id",
                    vec_col: str = "embedding"):
    """Random-hyperplane LSH top-k with corpus-vector hyperplanes.

    Bucket equi-join, then exact cosine re-rank of the candidates. No spread():
    the plane join + bucket aggregate shuffle the corpus anyway, so the
    extra round-robin stage only adds latency (r6 A/B at both SFs)."""
    per_band = len(plane_ids) // bands
    pm = _plane_map(corpus.sparkSession, plane_ids, per_band)
    planes = pm.join(
        corpus.select(F.col(id_col).alias("plane_id"), F.col(vec_col).alias("_p")),
        "plane_id",
    )
    cb = corpus_plane_buckets(corpus, planes, id_col, vec_col, "neighbor_id")
    pb = corpus_plane_buckets(probes, planes, id_col, vec_col, "probe_id")
    cand = (
        pb.join(cb, ["band", "bucket"])
        .filter(F.col("probe_id") != F.col("neighbor_id"))
        .select("probe_id", "neighbor_id")
        .dropDuplicates(["probe_id", "neighbor_id"])
    )
    pv = probes.select(F.col(id_col).alias("probe_id"), F.col(vec_col).alias("_pv"))
    cv = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"))
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


def corpus_ivf_topk(corpus, probes, centroid_ids: list[int], nprobe: int = 3,
                    k: int = 10, id_col: str = "vec_id",
                    vec_col: str = "embedding"):
    """IVF top-k with corpus-vector pseudo-centroids, fully declarative.

    Cell assignment is a partial-aggregated ``max_by`` over the broadcast
    centroid table (never a per-row window); each probe fans out to its
    ``nprobe`` best cells; exact cosine re-ranks inside probed cells. The
    centroid choice (corpus rows, deterministic ids) makes the exact result
    recomputable in the SQL oracle. A production deployment replaces the
    fixed ids with sampled/k-means centroids and writes the corpus bucketed
    by cell (shuffle-free probes)."""
    centsrc = corpus
    corpus = _spread(corpus)  # single-row-group inputs: dot on every core
    cents = F.broadcast(
        centsrc.filter(F.col(id_col).isin([int(c) for c in sorted(centroid_ids)]))
        .select(F.col(id_col).alias("cent_id"), F.col(vec_col).alias("_c"))
    )
    # corpus cell = argmax cosine(v, centroid); ties → smallest cent_id.
    # r6: vectorized — centroids collected at plan build (the IVF index),
    # cosines per Arrow batch via cumsum-sequential numpy (bit-identical
    # to the declarative fold; see cosine_vec). Strict > with ascending
    # cent_id order keeps the smallest id on exact ties, and NaN cosines
    # map to +inf first-wins, matching Spark's NaN-greatest max_by. The
    # former crossJoin+max_by form (reconstructed in
    # tests/test_similarity.py as the parity reference) blew the corpus
    # up 8× through an interpreted fold.
    crows = sorted(cents.collect(), key=lambda r: r["cent_id"])
    C = np.array([list(r["_c"]) for r in crows], dtype=np.float32).astype(np.float64)
    cids = [int(r["cent_id"]) for r in crows]
    cnorm = np.sqrt(np.cumsum(C * C, axis=1)[:, -1])

    @F.pandas_udf("long")
    def _cell(vs: pd.Series) -> pd.Series:
        if not len(vs):
            return pd.Series([], dtype="int64")
        V = np.stack(vs.to_numpy()).astype(np.float64)
        vnorm = np.sqrt(np.cumsum(V * V, axis=1)[:, -1])
        best = np.full(len(vs), cids[0], dtype=np.int64)
        bestv = np.full(len(vs), -np.inf)
        for i in range(C.shape[0]):
            with np.errstate(divide="ignore", invalid="ignore"):
                cos_i = np.cumsum(V * C[i][None, :], axis=1)[:, -1] / (vnorm * cnorm[i])
            cos_i = np.where(np.isnan(cos_i), np.inf, cos_i)
            m = cos_i > bestv
            best[m] = cids[i]
            bestv[m] = cos_i[m]
        return pd.Series(best)

    corpus_cells = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        _cell(F.col(vec_col)).alias("cell"),
    )
    wp = W.partitionBy("probe_id").orderBy(F.desc("_pc"), F.asc("cent_id"))
    probe_cells = (
        probes.select(F.col(id_col).alias("probe_id"), F.col(vec_col).alias("_pv"))
        .crossJoin(cents)
        .select("probe_id", "_pv", "cent_id",
                cosine_expr(F.col("_pv"), F.col("_c")).alias("_pc"))
        .withColumn("_rn", F.row_number().over(wp))
        .filter(F.col("_rn") <= nprobe)
        .select("probe_id", "_pv", F.col("cent_id").alias("cell"))
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
