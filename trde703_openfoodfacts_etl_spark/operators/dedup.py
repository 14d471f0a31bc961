"""Deduplication family for training-data pipelines.

Every operator reads the ``documents`` table's ``doc_id`` (long) and
``text`` columns. Scalable designs only: every method reduces to
hash-groupBy or bucket-equi-join shapes — never an O(n²) cross join — so
they survive 100 TB corpora on a real cluster. (The reference's only dedup
is LWW/dropDuplicates, SURVEY.md §2.4 A5; these generalize to content
dedup.)
Exact dedup is a plain ``groupBy(fingerprint_expr(text))``, written
inline by q18.

- n-gram Jaccard: prefix-filtered word-shingle inverted index join;
  candidate pairs share ≥1 rare shingle, verified by exact Jaccard on the
  shingle sets. JVM-side higher-order functions, no UDF.
- MinHash + LSH: k hash functions over shingles (universal hashing of
  xxhash64 shingle hashes), banded into b bands; docs sharing a band
  bucket are candidates. q24 composes :func:`minhash_signatures` and
  :func:`minhash_lsh_candidates` and verifies with exact Jaccard. The
  per-hash minima run in one ``mapInPandas`` function, which calls
  :func:`~trde703_openfoodfacts_etl_spark.forget_zip_importers` first.
- SimHash: 64-bit signature (vectorized pandas UDF, functions/text.py),
  near-dups = equal 16-bit chunk (Hamming ≤ 3 in expectation) → band join.
- connected components: near-dup pairs → dedup clusters (q59).
- embedding cosine near-dup: random-hyperplane LSH buckets (see
  operators/similarity.py) + in-bucket verification.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from .. import forget_zip_importers
from ..functions.text import simhash64


def word_shingles(col, n: int = 3):
    """Distinct word n-grams as an array column — pure higher-order fns.
    A NULL text has no shingles (NULL), so it drops out of every explode
    and pairs with nothing, as in the oracles.

    The tokenization is bound ONCE into a lambda scope
    (``transform(array(toks), t -> ...)``): Catalyst does not
    common-subexpression-eliminate through lambda functions, so referencing
    the split/regexp expression directly inside the per-index gram lambda
    re-tokenizes the document once per gram — O(len²) regex work per row
    (measured 7s for 5k docs; ~50× the bound-variable form)."""

    def shingles_of(t):
        cnt = F.size(t)
        idx = F.sequence(F.lit(0), F.greatest(cnt - n, F.lit(0)))
        # n is a plan-time Python int, so the gram is n O(1) element_at
        # lookups — the slice() form allocated a fresh n-element array per
        # gram inside the interpreted lambda (r6: the shingle build alone
        # was 1.5 s at a 50k-doc corpus; ~2× cheaper this way). concat_ws
        # over the looked-up elements produces byte-identical grams.
        gram = lambda i: F.concat_ws(  # noqa: E731
            " ", *[F.element_at(t, i + k + 1) for k in range(n)]
        )
        return F.when(cnt < n, F.array(F.concat_ws(" ", t))).otherwise(
            F.array_distinct(F.transform(idx, gram))
        )

    toks = F.split(F.regexp_replace(F.lower(F.trim(col)), r"\s+", " "), " ")
    return F.when(col.isNotNull(), F.element_at(F.transform(F.array(toks), shingles_of), 1))


def ngram_jaccard_pairs(df, threshold: float = 0.8):
    """All pairs with word-3-gram Jaccard ≥ threshold. EXACT output.

    Scale shape = prefix-filtered similarity join (Bayardo et al. AllPairs /
    SSJoin): rank each document's shingles by ascending global document
    frequency and index only the first ``floor((1-t)·|A|) + 1`` of them —
    if two sets share NO shingle in either prefix, their Jaccard is provably
    < t (pigeonhole on the overlap needed for J ≥ t), so the filter is
    LOSSLESS. Candidates therefore collide only on *rare* shingles: the
    quadratic posting-list blowup on hot boilerplate shingles disappears
    without giving up exactness. Candidates are then verified with the
    exact Jaccard via one shingle-array join. A length filter
    (t·|B| ≤ |A|) prunes mismatched sizes before verification.
    """
    sh = df.select(
        F.col("doc_id").alias("_id"),
        word_shingles(F.col("text")).alias("_sh"),
    ).withColumn("_size", F.size("_sh"))
    ex = sh.select("_id", "_size", F.explode("_sh").alias("_g")).withColumn(
        "_gh", F.xxhash64("_g")
    ).drop("_g")
    # The exploded set feeds the document-frequency aggregate, the prefix
    # ranking and the per-doc bitmap: materialize it once — three longs per
    # (doc, shingle), so storage is ~24 B/shingle — or the regex shingling
    # of the WHOLE corpus re-runs per consumer. Same executor-local-persist
    # tradeoff as the candidate list below. Measured ~30% off q21 wall at
    # sf0.1 with exact pair parity.
    ex = ex.localCheckpoint(eager=False)
    dfreq = ex.groupBy("_gh").agg(F.count(F.lit(1)).alias("_df"))
    wdoc = W.partitionBy("_id").orderBy("_df", "_gh")
    prefix_len = F.floor((1.0 - threshold) * F.col("_size")).cast("int") + 1
    ex = (
        ex.join(dfreq, "_gh")
        .withColumn("_rk", F.row_number().over(wdoc))
        .filter(F.col("_rk") <= prefix_len)
        .select("_id", "_size", "_gh", "_rk")
    )
    a = ex.select(
        F.col("_id").alias("id_a"), F.col("_size").alias("size_a"), "_gh",
        F.col("_rk").alias("_rka"),
    )
    b = ex.select(
        F.col("_id").alias("id_b"), F.col("_size").alias("size_b"), "_gh",
        F.col("_rk").alias("_rkb"),
    )
    # PPJoin positional filter (lossless): a prefix collision at sorted
    # positions (i, j) bounds the overlap by 1 + min(|A|−i, |B|−j); Jaccard
    # ≥ t needs overlap ≥ t/(1+t)·(|A|+|B|). Prunes most length-compatible
    # but content-disjoint candidates BEFORE the dedup + verify joins.
    overlap_needed = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("size_a") + F.col("size_b"))
    )
    positional_ok = (
        F.lit(1)
        + F.least(
            F.col("size_a") - F.col("_rka"), F.col("size_b") - F.col("_rkb")
        )
    ) >= overlap_needed
    # 256-bit per-doc shingle bitmap → a SECOND lossless overlap upper
    # bound, evaluated per collision row inside the candidate join
    # (bit_count on 4 longs — codegen, ~ns/pair). Pigeonhole: common
    # shingles occupy ≥ o − (|A| − popcount(bmA)) distinct bit
    # positions (within-A same-bit multiplicity bounds the common
    # set's), and every such position survives in bmA & bmB, so
    #   o ≤ popcount(bmA & bmB) + min(|A|−popcount(bmA), |B|−popcount(bmB)).
    # Exact for ANY hash (collisions only weaken pruning, never drop a
    # true pair). At low thresholds (t=0.5 ⇒ prefixes are half the
    # doc) the positional filter alone passes millions of single-rare-
    # shingle coincidences — ~19M candidate pairs at a 50k-doc corpus,
    # 28 s of array_intersect verification; the bitmap bound kills
    # chance collisions (expected AND-popcount ≈ |A|·|B|/256 bits ≪
    # o_needed) so only true near-dups reach the exact verify.
    _words = 4  # 256 bits
    _bm_aggs = [
        F.bit_or(
            F.when(
                F.expr("pmod(_gh, 256) div 64") == w,
                F.expr("shiftleft(1L, cast(pmod(_gh, 64) as int))"),
            ).otherwise(F.lit(0).cast("long"))
        ).alias(f"_bm{w}")
        for w in range(_words)
    ]
    bm = ex.groupBy("_id").agg(*_bm_aggs)
    bm = bm.withColumn(
        "_pc", sum(F.bit_count(F.col(f"_bm{w}")) for w in range(_words))
    )
    a = a.join(
        bm.select(
            F.col("_id").alias("id_a"), F.col("_pc").alias("_pca"),
            *[F.col(f"_bm{w}").alias(f"_a{w}") for w in range(_words)],
        ),
        "id_a",
    )
    b = b.join(
        bm.select(
            F.col("_id").alias("id_b"), F.col("_pc").alias("_pcb"),
            *[F.col(f"_bm{w}").alias(f"_b{w}") for w in range(_words)],
        ),
        "id_b",
    )
    pc_and = sum(
        F.bit_count(F.col(f"_a{w}").bitwiseAND(F.col(f"_b{w}")))
        for w in range(_words)
    )
    bitmap_ok = (
        pc_and
        + F.least(
            F.col("size_a") - F.col("_pca"), F.col("size_b") - F.col("_pcb")
        )
    ) >= overlap_needed
    cand = (
        a.join(b, "_gh")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            # length filter: J ≥ t needs t·max(|A|,|B|) ≤ min(|A|,|B|)
            & (F.least("size_a", "size_b")
               >= threshold * F.greatest("size_a", "size_b"))
            & positional_ok
            & bitmap_ok
        )
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    # Verification only needs the shingle arrays of CANDIDATE docs — a tiny
    # set after prefix filtering. Semi-join the raw docs down to candidates
    # first, then shingle just those. cand feeds two consumers (the id set
    # and the final join); localCheckpoint materializes the small candidate
    # list once instead of re-running the whole prefix pipeline per consumer
    # (storage is executor-local and freed with the DataFrame; on a
    # dynamic-allocation cluster where executor loss must be survivable,
    # swap for reliable .checkpoint() or accept the recompute).
    cand = cand.localCheckpoint(eager=False)
    # caveat: the broadcast candidate set is unbounded on boilerplate-heavy corpora
    cids = F.broadcast(
        cand.select(F.col("id_a").alias("_id"))
        .union(cand.select(F.col("id_b").alias("_id")))
        .distinct()
    )
    csh = (
        df.select(F.col("doc_id").alias("_id"), F.col("text").alias("_t"))
        .join(cids, "_id", "left_semi")
        .select("_id", word_shingles(F.col("_t")).alias("_sh"))
    )
    sa = csh.select(F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a"))
    sb = csh.select(F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter / (F.size("sh_a") + F.size("sh_b") - inter)
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_signatures(df, num_hashes: int = 64, shingle_n: int = 3):
    """MinHash signature per document, fully columnar.

    h_i(s) = (a_i * h31(s) + b_i) mod p over each shingle, with
    h31 = xxhash64 reduced into a 31-bit prime field so a_i*h31+b_i stays
    inside 64-bit integer math (no decimal/overflow). The signature is the
    per-document min of each h_i: one explode + one groupBy(min × k) —
    partial aggregation makes it skew-proof, and a_i/b_i are plan literals
    (no driver loop at runtime)."""
    import numpy as np

    P = 2147483647  # 2^31 - 1 (Mersenne prime field)
    # deterministic hash-family parameters (seeded linear congruential walk)
    params = []
    a, b = 0x9E3779B9, 0x7F4A7C15
    for i in range(num_hashes):
        a = (a * 1103515245 + 12345) % P
        b = (b * 1103515245 + 12345) % P
        params.append((a or 1, b))
    ex = (
        df.select(F.col("doc_id").alias("_id"), word_shingles(F.col("text"), shingle_n).alias("_sh"))
        .select("_id", F.explode("_sh").alias("_g"))
        .select("_id", F.pmod(F.xxhash64("_g"), F.lit(P)).alias("_h"))
    )
    # The k-way min itself runs as ONE numpy matrix op per Arrow batch
    # (guide §4.2): the former 64-column `min(pmod(aᵢ·h+bᵢ, P))` hash
    # aggregate updates 64 buffer slots per posting — 1.7e8 interpreted-agg
    # ops at a 50k-doc corpus, 8.6 s of q24 — while (h⊗a + b) mod P is a
    # (batch × k) int64 broadcast-multiply plus a stable-sort segment-min
    # (`np.minimum.reduceat`). a·h < 2^62 so int64 never overflows and the
    # values are bit-identical to the JVM expression. Each partition emits
    # per-doc partial minima (explode keeps a doc's postings contiguous, so
    # ≤1 doc per partition straddles a batch — the dict accumulator stays
    # O(docs/partition)); a final min-aggregate merges straddlers, which
    # also makes the result partitioning-independent.
    a_arr = np.array([p[0] for p in params], dtype=np.int64)
    b_arr = np.array([p[1] for p in params], dtype=np.int64)
    out_schema = ", ".join(["_id long"] + [f"mh_{i} long" for i in range(num_hashes)])

    def _seg_min(batches):
        forget_zip_importers()
        import pandas as pd

        acc: dict[int, np.ndarray] = {}
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["_id"].to_numpy()
            h = pdf["_h"].to_numpy(dtype=np.int64)
            m = (h[:, None] * a_arr[None, :] + b_arr[None, :]) % P
            order = np.argsort(ids, kind="stable")
            ids_s, m_s = ids[order], m[order]
            starts = np.flatnonzero(
                np.concatenate(([True], ids_s[1:] != ids_s[:-1]))
            )
            reduced = np.minimum.reduceat(m_s, starts, axis=0)
            for did, row in zip(ids_s[starts], reduced):
                prev = acc.get(did)
                acc[did] = row if prev is None else np.minimum(prev, row)
        if acc:
            keys = list(acc)
            mat = np.stack([acc[k] for k in keys])
            yield pd.DataFrame(
                {"_id": keys, **{f"mh_{i}": mat[:, i] for i in range(num_hashes)}}
            )

    partial = ex.mapInPandas(_seg_min, out_schema)
    return (
        partial.groupBy("_id")
        .agg(*[F.min(f"mh_{i}").alias(f"mh_{i}") for i in range(num_hashes)])
        .withColumnRenamed("_id", "doc_id")
    )


def minhash_lsh_candidates(sig, num_hashes: int = 64, bands: int = 16):
    """Candidate pairs from banded LSH over precomputed signatures.

    Only (id, band-bucket hash) rides the band explode — 16 bytes/row — not
    the full signature (which would amplify the shuffle by bands × num_hashes
    × 8 B per doc; at 100 TB that's the whole job). Signatures are re-joined
    onto the *deduplicated candidate set* by the caller if needed."""
    rows = num_hashes // bands
    buckets = sig.select(
        F.col("doc_id").alias("_id"),
        F.explode(
            F.array(*[
                F.xxhash64(F.lit(bi), *[F.col(f"mh_{bi * rows + r}") for r in range(rows)])
                for bi in range(bands)
            ])
        ).alias("_bucket"),
    )
    a = buckets.select(F.col("_id").alias("id_a"), "_bucket")
    b = buckets.select(F.col("_id").alias("id_b"), "_bucket")
    return (
        a.join(b, "_bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])  # same pair may collide in many bands
    )


def simhash_near_dups(df, max_hamming: int | None = None):
    """SimHash near-dup candidates: equal 16-bit chunk of the 64-bit
    signature (pigeonhole: Hamming ≤ 3 guarantees ≥1 of the 4 chunks is
    equal).
    Returns candidate pairs with exact Hamming distance.

    ``max_hamming`` pushes the caller's Hamming threshold INSIDE the
    operator, before the pair dedup: the distance is a pure function of
    the two signatures, so filter-then-dedup ≡ dedup-then-filter — but the
    filtered form dedups only the near-dup pairs instead of shuffling
    every chunk collision (~19M pairs at a 50k-doc corpus, 22 s of the old
    q25). The signature frame is locally checkpointed so the pandas UDF
    runs one pass, not once per join side, and chunk buckets are packed
    into a long ((chunk_idx << 16) | value — bijective for 16-bit chunks)
    so the join keys are primitive."""
    sig = df.select(
        F.col("doc_id").alias("_id"), simhash64(F.col("text")).alias("_sig")
    )
    # one UDF pass: sig feeds both join sides (same executor-local-persist
    # tradeoff as ngram_jaccard_pairs' postings)
    sig = sig.localCheckpoint(eager=False)
    chunks, width = 4, 16
    # bitwiseAND, not %: Spark's % follows the dividend's sign, so a negative
    # signature's chunk 0 (shift by 0 keeps the sign) would get a negative
    # remainder and miss collisions with positive-signature docs.
    chunk_cols = [
        (
            F.lit(c << width)
            + F.shiftrightunsigned(F.col("_sig"), c * width)
            .bitwiseAND(F.lit((1 << width) - 1))
        ).cast("long").alias(f"ck_{c}")
        for c in range(chunks)
    ]
    ex = sig.select("_id", "_sig", F.explode(F.array(*chunk_cols)).alias("_bucket"))
    a = ex.select(F.col("_id").alias("id_a"), F.col("_sig").alias("sig_a"), "_bucket")
    b = ex.select(F.col("_id").alias("id_b"), F.col("_sig").alias("sig_b"), "_bucket")
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    pairs = (
        a.join(F.broadcast(b), "_bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming.alias("hamming"))
    )
    if max_hamming is not None:
        pairs = pairs.filter(F.col("hamming") <= max_hamming)
    return pairs.dropDuplicates(["id_a", "id_b"])


def _free_local_checkpoint(df) -> None:
    """Deterministically release a locally-checkpointed DataFrame's blocks.

    ``DataFrame.unpersist()`` only clears cache-manager entries, not the
    internal RDD a localCheckpoint pins, and waiting for JVM GC + the
    ContextCleaner leaves up to CC_MAX_ITER label snapshots resident. The
    analyzed plan of a checkpointed frame is a ``LogicalRDD`` whose ``rdd``
    IS the pinned RDD — unpersist that. Best-effort: under Spark Connect
    (no ``_jdf``) or a future plan-shape change this degrades to the old
    GC-eventually behavior instead of failing the job — but observably:
    the first failure logs a warning (so the silent-block-leak mode is
    visible in driver logs) and ``_free_local_checkpoint.failures`` counts
    every one (assertable from tests / pollable from a maintenance loop).
    """
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception as e:  # noqa: BLE001 — cleanup must never fail the job
        _free_local_checkpoint.failures += 1
        if _free_local_checkpoint.failures == 1:
            import logging

            logging.getLogger(__name__).warning(
                "localCheckpoint block release unavailable (%s: %s); "
                "falling back to GC-eventually block cleanup — per-round "
                "label snapshots stay resident until the ContextCleaner "
                "runs", type(e).__name__, e,
            )


_free_local_checkpoint.failures = 0


#: rounds after which :func:`connected_components` gives up (read at call time)
CC_MAX_ITER = 50


def connected_components(edges):
    """Connected components over an undirected ``(id_a, id_b)`` edge list —
    the cluster step of document dedup (near-dup PAIRS → dedup GROUPS, so one
    representative per group survives). Returns (id, cluster_id) with
    cluster_id = the component's minimum node id (canonical, algorithm-
    independent).

    Spark has no built-in CC, so this is a driver-coordinated DataFrame
    loop with per-round eager localCheckpoints (without lineage truncation
    the plan would grow 3x per round — labels feeds the message join, the
    union, and the changed-count join). Pregel-shaped min-label flood:
    each round sends every node's label to its neighbors and keeps the
    min. ONE shuffle join per round; rounds = graph diameter. The right
    cost model for near-dup clusters, which are shallow (diameter 2–4).

    Convergence is detected with a count of changed labels (an aggregate,
    never a collect of the labels themselves).

    Not expressible as one SQL query in Spark — the DuckDB oracle uses a
    recursive CTE (UNION-deduped label reachability) and must agree
    exactly: CC is unique for a given graph regardless of algorithm.
    """
    # Materialize the symmetric edge list ONCE: it is consumed every round
    # (and its upstream plan — e.g. the whole near-dup similarity join in
    # q59 — would otherwise re-execute twice per iteration). Same
    # executor-local-persist tradeoff as ngram_jaccard_pairs' postings.
    sym = (
        edges.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
        .union(edges.select(F.col("id_b").alias("a"), F.col("id_a").alias("b")))
        .localCheckpoint(eager=True)
    )
    labels = (
        sym.select(F.col("a").alias("id")).distinct().withColumn("label", F.col("id"))
    ).localCheckpoint(eager=True)
    changed = 0
    max_iter = CC_MAX_ITER
    for _ in range(max_iter):
        neigh = (
            sym.join(labels, sym["a"] == labels["id"])
            .select(F.col("b").alias("id"), F.col("label"))
        )
        candidates = labels.select("id", "label").union(neigh)
        new_labels = (
            candidates.groupBy("id")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        # the changed-count action above is the last consumer of the OLD
        # round's snapshot — free its blocks now, or executor storage holds
        # up to CC_MAX_ITER full label snapshots for the life of the job
        _free_local_checkpoint(labels)
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        # Returning here would hand back NON-minimal labels (one component
        # reported as several clusters) with no indication — fail loudly;
        # diameter > CC_MAX_ITER means CC_MAX_ITER should be raised.
        # The raise path frees its checkpoints too: the error message
        # invites catch-and-retry, and a retry loop must not accumulate
        # pinned edge-list + label snapshots per failed attempt.
        _free_local_checkpoint(labels)
        _free_local_checkpoint(sym)
        raise RuntimeError(
            f"connected_components: not converged after {max_iter} rounds "
            f"({changed} labels still changing — graph diameter exceeds "
            "CC_MAX_ITER); raise CC_MAX_ITER"
        )
    # the returned frame is backed by its own checkpoint; the edge list is
    # no longer needed
    _free_local_checkpoint(sym)
    return labels.select("id", F.col("label").alias("cluster_id"))
