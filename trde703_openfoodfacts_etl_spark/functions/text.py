"""Text analysis for large-scale training-data pipelines.

Everything here is either a JVM-side column expression (whole-stage codegen,
oracle-checkable 1:1 in ANSI SQL) or an Arrow-batched pandas UDF (numpy
kernels, no per-row Python). Quality scoring generalizes the reference's
completeness/anomaly expressions (etl/utils/quality.py:20-88) to documents.
Each pandas UDF calls
:func:`~trde703_openfoodfacts_etl_spark.forget_zip_importers` first.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import forget_zip_importers

# ---------------------------------------------------------------------------
# JVM-side expressions (preferred path: codegen, pushdown, SQL-oracle parity)
# ---------------------------------------------------------------------------


def token_count_expr(col):
    """Whitespace token count; empty/blank → 0. Pure built-ins."""
    trimmed = F.trim(col)
    return F.when(trimmed == "", F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    ).cast("int")


#: the exact character set of Java regex [\w\s] without UNICODE flags:
#: \w = [A-Za-z0-9_], \s = [ \t\n\x0B\f\r] — enumerable, so the punct count
#: can skip the regex engine entirely
_WORD_SPACE_CHARS = (
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789_"
    " \t\n\x0b\x0c\r"
)


def punct_ratio_expr(col):
    """punctuation chars / total chars (0 for empty).

    Counted as ``length(translate(text, word∪space chars, ''))`` — a
    single char-map pass — instead of ``length − length(regexp_replace
    (text, '[^\\w\\s]', ''))``, which runs the regex engine over every
    character AND materializes a stripped copy just to measure it (r6:
    2.8 s → 0.4 s for the q17 twin of this expression at sf1.0). Java's
    un-flagged \\w and \\s are the fixed ASCII sets above, so the two
    forms count exactly the same characters (verified corpus-wide)."""
    n = F.length(col)
    p = F.length(F.translate(col, _WORD_SPACE_CHARS, ""))
    return F.when(n == 0, F.lit(0.0)).otherwise(p.cast("double") / n.cast("double"))


_STOPWORDS = ["the", "a", "of", "to", "and", "in", "is", "it", "for", "on"]


def quality_score_expr(col):
    """Composite document quality in [0,1]: length band + punctuation sanity
    + stopword presence (the classic Gopher/C4-style heuristics, expressed
    as one expression).

    The tokenization is bound ONCE into a lambda scope (the word_shingles
    pattern): the stopword term's higher-order ``filter`` pushes the whole
    composite onto the interpreted path, where the separate
    ``split(trim(text))`` inside the length term and ``split(lower(trim))``
    inside the stopword term are never common-subexpression-eliminated —
    the naive sum of the three already-cheap terms re-tokenized every
    document 3× (r6: 3.8 s vs 0.4 s per term at sf1.0). Lowercasing moves
    inside the per-token lambda (``lower(t) IN stopwords``), which is
    value-identical: lowercasing never creates or removes whitespace, so
    token boundaries — and hence both the token count and each token's
    lowered form — are unchanged."""
    trimmed = F.trim(col)
    punct_ok = punct_ratio_expr(col) < 0.3

    def score(toks):
        n_raw = F.size(toks)
        n_tok = F.when(trimmed == "", F.lit(0)).otherwise(n_raw)
        len_ok = (n_tok >= 5) & (n_tok <= 100_000)
        sw = F.size(F.filter(toks, lambda t: F.lower(t).isin(*_STOPWORDS)))
        sw_ratio = F.when((trimmed == "") | (n_raw == 0), F.lit(0.0)).otherwise(
            sw.cast("double") / n_raw.cast("double")
        )
        sw_ok = sw_ratio > 0.01
        return (
            len_ok.cast("int") * 0.4
            + punct_ok.cast("int") * 0.3
            + sw_ok.cast("int") * 0.3
        ).cast("double")

    return F.element_at(F.transform(F.array(F.split(trimmed, r"\s+")), score), 1)


def fingerprint_expr(col):
    """Exact-dup fingerprint: md5 of lowercased, whitespace-collapsed text
    (the reference's md5 row-hash idea, etl/bronze_to_silver.py:255-263,
    applied to content dedup)."""
    return F.md5(F.regexp_replace(F.lower(F.trim(col)), r"\s+", " "))


def mingram_fingerprint_vec(col):
    """Winnowing-style fingerprint: the minimum md5 over the word
    3-grams of the whitespace-normalized text (window = whole document;
    equivalently MinHash with k=1 over shingles). Texts shorter than 3
    words hash whole. md5-hex string min is engine-portable, so the same
    value is computable in ANSI SQL (the q27 oracle).

    In a pure-expression form the per-gram ``md5(concat_ws(...))`` chain
    runs INTERPRETED inside the transform lambda (no codegen through
    higher-order functions) — ~27 µs of CPU per gram; at a 50k-doc corpus
    that was 2.3 s of q27 (r6). Here
    normalization (trim → lower → whitespace-collapse) stays a JVM
    expression — so every locale/Unicode-sensitive step keeps Spark
    semantics — and the Python side performs only byte-exact operations:
    split on a single space, single-space join, UTF-8 encode (the same
    bytes Spark's md5() hashes), hashlib.md5 hexdigest (C speed), and min
    over lowercase-hex ASCII strings (Python str < == UTF8String binary
    <). Parity with the pure-expression form
    (tests/parity_references.py) is pinned by tests/test_text_functions.py
    across Unicode/edge corpora."""

    @F.pandas_udf("string")
    def _fp(texts: pd.Series) -> pd.Series:
        forget_zip_importers()
        import hashlib

        md5 = hashlib.md5
        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            w = t.split(" ")
            if len(w) < 3:
                out.append(md5(t.encode("utf-8")).hexdigest())
            else:
                out.append(
                    min(
                        md5(" ".join(w[i : i + 3]).encode("utf-8")).hexdigest()
                        for i in range(len(w) - 2)
                    )
                )
        return pd.Series(out, dtype="object")

    return _fp(F.regexp_replace(F.lower(F.trim(col)), r"\s+", " "))


# ---------------------------------------------------------------------------
# Arrow-batched pandas UDFs (vectorized slow path)
# ---------------------------------------------------------------------------

#: tiny per-language stopword profiles for the n-gram/stopword lang-id heuristic
_LANG_PROFILES = {
    "en": {"the", "and", "of", "to", "is", "in", "it", "you", "that", "was"},
    "fr": {"le", "la", "les", "de", "et", "un", "une", "est", "que", "pour"},
    "de": {"der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für", "auf"},
    "es": {"el", "la", "los", "de", "y", "que", "es", "en", "un", "por"},
}


@F.pandas_udf(T.StringType())
def lang_id(texts: pd.Series) -> pd.Series:
    """Heuristic language ID: CJK codepoint share → zh; else the language
    whose stopword profile hits the most tokens; 'und' when nothing hits.
    Vectorized: one pass of pandas str kernels per profile."""
    forget_zip_importers()
    s = texts.fillna("")
    cjk = s.str.count(r"[一-鿿]")
    total = s.str.len().replace(0, 1)
    toks = s.str.lower().str.findall(r"[a-zà-ÿ]+")
    scores = {}
    for lang, prof in _LANG_PROFILES.items():
        scores[lang] = toks.map(lambda ts, p=prof: sum(t in p for t in ts))
    score_df = pd.DataFrame(scores)
    best = score_df.idxmax(axis=1)
    best_score = score_df.max(axis=1)
    out = pd.Series(np.where(cjk / total > 0.2, "zh", np.where(best_score > 0, best, "und")))
    out[texts.isna()] = None
    return out


@F.pandas_udf(T.LongType())
def simhash64(texts: pd.Series) -> pd.Series:
    """64-bit SimHash over whitespace tokens (near-dup detection),
    deterministic (md5-derived token hashes).

    Vectorized per Arrow batch through a unique-token vocabulary: md5 runs
    once per DISTINCT token in the batch (corpus vocabulary is tiny next to
    total token occurrences), the per-token ±1 bit rows live in one int8
    matrix, and each document's 64 bit-votes are a numpy gather + sum —
    ~15× the naive per-occurrence-md5 kernel, same signatures bit-for-bit."""
    forget_zip_importers()
    import hashlib

    def token_row(tok: str) -> np.ndarray:
        # unpackbits avoids python-int→C-long overflow on hashes ≥ 2^63
        bits = np.unpackbits(
            np.frombuffer(hashlib.md5(tok.encode()).digest()[:8], dtype=np.uint8),
            bitorder="little",
        )
        return (2 * bits.astype(np.int8) - 1)

    toks_per_doc = [None if t is None else t.lower().split() for t in texts]
    vocab: dict[str, int] = {}
    for toks in toks_per_doc:
        if toks:
            for tok in toks:
                if tok not in vocab:
                    vocab[tok] = len(vocab)
    rows = np.empty((len(vocab), 64), dtype=np.int8)
    for tok, i in vocab.items():
        rows[i] = token_row(tok)

    def one(toks):
        if toks is None:
            return None
        if not toks:
            return 0
        votes = rows[np.fromiter((vocab[t] for t in toks), dtype=np.int64, count=len(toks))].sum(
            axis=0, dtype=np.int64
        )
        sig = np.packbits((votes > 0).astype(np.uint8), bitorder="little").tobytes()
        return int.from_bytes(sig, "little", signed=True)

    return pd.Series([one(toks) for toks in toks_per_doc], index=texts.index, dtype=object)
