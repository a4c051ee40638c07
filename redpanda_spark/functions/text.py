"""Text-analysis kernels for training-data pipelines.

All hot-path functions are built from `pyspark.sql.functions` expressions
(JVM-side, whole-stage codegen) — no Python UDFs — so they vectorize and
scale linearly with partitions. Each returns a Column.

Covers: token counting (whitespace + BPE-ish regex), quality scoring
(length / punctuation / stopword ratios), language ID (stopword-marker
heuristic), document fingerprinting (rolling hash over tokens).
"""

from __future__ import annotations

import re
from collections import Counter

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

WS_SPLIT = r"\s+"
# BPE-ish pre-tokenizer: words, numbers, or single non-space symbols
BPE_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

# Small marker-word lists per language for the n-gram/stopword language-ID
# heuristic. Chosen from high-frequency function words.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "que"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "que"],
    "zh": ["的", "是", "了", "在", "我", "有", "和", "不"],
}

STOPWORDS_EN = LANG_MARKERS["en"] + ["it", "for", "on", "with", "as", "at", "by"]


def tokens(col: Column | str) -> Column:
    """Whitespace tokens (empty-string tokens removed)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.trim(c), WS_SPLIT), lambda t: t != F.lit(""))


def token_count(col: Column | str, toks: Column | None = None) -> Column:
    return F.size(tokens(col) if toks is None else toks)


def bpe_token_count(col: Column | str) -> Column:
    """Token count under the BPE-ish regex pre-tokenizer."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(BPE_REGEX), F.lit(0)))


def char_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.length(c)


def punct_ratio(col: Column | str) -> Column:
    """Punctuation chars / total chars (0 for empty text)."""
    c = F.col(col) if isinstance(col, str) else col
    n_punct = F.size(F.regexp_extract_all(c, F.lit(r"[^\w\s]"), F.lit(0)))
    return F.when(F.length(c) > 0, n_punct.cast("double") / F.length(c)).otherwise(
        F.lit(0.0)
    )


def stopword_ratio(
    col: Column | str,
    stopwords: list[str] | None = None,
    toks: Column | None = None,
) -> Column:
    """Fraction of tokens that are stopwords."""
    sw = F.array(*[F.lit(s) for s in (stopwords or STOPWORDS_EN)])
    toks = tokens(col) if toks is None else toks
    n = F.size(toks)
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, F.lower(t))))
    return F.when(n > 0, hits.cast("double") / n).otherwise(F.lit(0.0))


def quality_score(col: Column | str, toks: Column | None = None) -> Column:
    """Composite quality heuristic in [0,1]: rewards reasonable length and
    stopword presence, penalizes punctuation soup. Deterministic, JVM-side.

    Pass a pre-tokenized ``toks`` column when computing several token-based
    features over one scan — sharing the split is ~25% on the composed
    curation pipeline."""
    n_tok = token_count(col, toks=toks)
    len_score = F.least(n_tok.cast("double") / F.lit(100.0), F.lit(1.0))
    sw_score = F.least(stopword_ratio(col, toks=toks) * F.lit(4.0), F.lit(1.0))
    punct_pen = F.greatest(F.lit(1.0) - punct_ratio(col) * F.lit(4.0), F.lit(0.0))
    return F.round((len_score + sw_score + punct_pen) / F.lit(3.0), 6)


def lang_scores(col: Column | str, toks: Column | None = None) -> dict[str, Column]:
    """Marker-hit count per language."""
    toks = tokens(col) if toks is None else toks
    out = {}
    for lang, markers in LANG_MARKERS.items():
        arr = F.array(*[F.lit(m) for m in markers])
        out[lang] = F.size(F.filter(toks, lambda t: F.array_contains(arr, F.lower(t))))
    return out


def lang_id(col: Column | str, toks: Column | None = None) -> Column:
    """Predicted language = argmax marker-hit count ('und' if all zero).

    Deterministic tiebreak: higher language code wins (struct comparison on
    (score, lang)); the DuckDB oracle replicates this with a CASE chain.
    """
    scores = lang_scores(col, toks=toks)
    pairs = F.array(
        *[
            F.struct(scores[lang].alias("score"), F.lit(lang).alias("lang"))
            for lang in sorted(LANG_MARKERS)
        ]
    )
    best = F.array_max(pairs)
    return F.when(best["score"] <= 0, F.lit("und")).otherwise(best["lang"])


FP_MOD = 1_000_000_007


def fingerprint(col: Column | str, toks: Column | None = None) -> Column:
    """Rolling polynomial hash over whitespace tokens (mod 1e9+7).

    acc = (acc*31 + (token_len*97 + first_char_code)) mod p — order-sensitive
    document fingerprint expressible in pure SQL (and in the DuckDB oracle).
    For higher collision resistance use ``fingerprint_xx`` below.
    """
    toks = tokens(col) if toks is None else toks
    step = lambda acc, t: F.pmod(
        acc * F.lit(31) + F.length(t) * F.lit(97) + F.ascii(t), F.lit(FP_MOD)
    )
    return F.aggregate(toks, F.lit(0).cast("long"), step)


def fingerprint_xx(col: Column | str) -> Column:
    """Rolling hash with xxhash64-mixed tokens (JVM builtin; stronger)."""
    toks = tokens(col)
    step = lambda acc, t: F.pmod(
        acc * F.lit(1_000_003) + F.pmod(F.xxhash64(t), F.lit(FP_MOD)), F.lit(FP_MOD)
    )
    return F.aggregate(toks, F.lit(0).cast("long"), step)


# Java's \s (what Spark's split() evaluates in tokens()) is ASCII-only:
# [ \t\n\x0B\f\r]. Python's \s is Unicode-aware — compile the Java class
# explicitly so NBSP/U+2028 stay inside tokens exactly as the JVM keeps
# them. (Same constant as dedup/simhash.py's kernel; duplicated to keep
# functions/ free of dedup imports.)
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def _repetition_counts_py(text: str | None):
    """Scalar reference for the vectorized repetition kernel.

    Returns the four integers the metric ratios are built from:
    (n_tokens, n_distinct_tokens, top-2gram count, Σ counts of 5-grams
    occurring more than once). Equivalences to the expression form:
    tokens = maximal non-\\s runs (Spark's trim+split+filter yields the
    same list); the < n word_shingles fallback is the single whole-text
    shingle; the sorted-run fold's max run length = the max multiset
    multiplicity, and its dup sum = Σ multiplicities > 1 (runs of equal
    grams in a sorted array ARE the multiset groups). NULL text → NULLs
    (every expression metric is null via size(null)/aggregate(null))."""
    if text is None:
        return (None, None, None, None)
    toks = [t for t in _JAVA_WS.split(text) if t]
    n = len(toks)

    def grams(k: int) -> list[str]:
        if n < k:
            return [" ".join(toks)]
        return [" ".join(toks[i : i + k]) for i in range(n - k + 1)]

    c2 = Counter(grams(2))
    c5 = Counter(grams(5))
    return (
        n,
        len(set(toks)),
        max(c2.values()),
        sum(c for c in c5.values() if c > 1),
    )


_REP_UDF = None


def _repetition_counts_kernel(c: Column) -> Column:
    """Arrow-batched twin of the two ``_runs`` folds + distinct count in
    ``_repetition_metrics_expr`` (struct<n_tok,n_distinct,top2,dup5>). The
    expression form sorts and linearly folds two shingle arrays per doc
    under interpreted lambdas; the kernel computes the same four integers
    with one split + two Counter passes per doc in C. Integer-exact, so
    the metric ratios built on top are bit-identical doubles. Built
    lazily (pandas_udf parses its DDL type through the active session)."""
    global _REP_UDF
    if _REP_UDF is None:
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("struct<n_tok:int,n_distinct:int,top2:int,dup5:int>")
        def _udf(batch: pd.Series) -> pd.DataFrame:
            rows = [_repetition_counts_py(t) for t in batch]
            return pd.DataFrame(
                {
                    "n_tok": pd.array([r[0] for r in rows], dtype="Int32"),
                    "n_distinct": pd.array(
                        [r[1] for r in rows], dtype="Int32"
                    ),
                    "top2": pd.array([r[2] for r in rows], dtype="Int32"),
                    "dup5": pd.array([r[3] for r in rows], dtype="Int32"),
                }
            )

        _REP_UDF = _udf
    return _REP_UDF(c)


def repetition_metrics(col: Column | str) -> dict[str, Column]:
    """Gopher-style within-document repetition signals (Rae et al. 2021,
    published quality-filter rules): documents dominated by repeated
    n-grams are boilerplate/spam and get filtered before training.

    - ``dup_token_frac``: 1 − distinct/total tokens.
    - ``top_2gram_frac``: fraction of all word 2-grams that are the single
      most frequent 2-gram.
    - ``dup_5gram_frac``: fraction of word 5-grams occurring more than
      once.

    One scan, no shuffle. The four underlying integers come from the
    Arrow kernel above — the expression folds don't codegen, so the batch
    kernel is the §4.2 shape — and the ratio expressions are built on top
    JVM-side; ``_repetition_metrics_expr`` is the pure-expression form
    the doubles are tested bit-identical against. Callers should filter
    docs with fewer than 5 tokens (metrics are degenerate there and
    word_shingles falls back to a whole-text shingle)."""
    c = F.col(col) if isinstance(col, str) else col
    s = _repetition_counts_kernel(c)
    n_tok = s["n_tok"]

    def _n_shingles(n: int) -> Column:
        return F.when(n_tok < n, F.lit(1)).otherwise(n_tok - F.lit(n) + F.lit(1))

    return {
        "dup_token_frac": F.lit(1.0) - s["n_distinct"].cast("double") / n_tok,
        "top_2gram_frac": s["top2"].cast("double") / _n_shingles(2),
        "dup_5gram_frac": s["dup5"].cast("double") / _n_shingles(5),
    }


def _repetition_metrics_expr(col: Column | str) -> dict[str, Column]:
    """``repetition_metrics`` as all-JVM higher-order expressions: the
    JVM-semantics reference for the kernel. Gram counting is a LINEAR
    run-length fold over the sorted gram array (an O(distinct × total)
    nested filter-per-distinct was measured ~20× slower under interpreted
    lambdas)."""
    c = F.col(col) if isinstance(col, str) else col
    toks = tokens(c)

    def _runs(grams):
        """(max_run, dup_sum) over the sorted array: longest equal-run and
        the total length of runs longer than 1."""
        s = F.array_sort(grams)
        zero = F.struct(
            F.lit("").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
            F.lit(0).alias("dup"),
        )
        folded = F.aggregate(
            s,
            zero,
            lambda a, x: F.struct(
                x.alias("prev"),
                F.when(x == a["prev"], a["run"] + 1).otherwise(1).alias("run"),
                F.greatest(
                    a["best"],
                    F.when(x == a["prev"], a["run"] + 1).otherwise(1),
                ).alias("best"),
                (
                    a["dup"]
                    + F.when((x != a["prev"]) & (a["run"] > 1), a["run"]).otherwise(0)
                ).alias("dup"),
            ),
        )
        return (
            folded["best"],
            folded["dup"] + F.when(folded["run"] > 1, folded["run"]).otherwise(0),
        )

    top2, _ = _runs(word_shingles(c, 2))
    _, dup5 = _runs(word_shingles(c, 5))
    dup_tok = F.lit(1.0) - F.size(F.array_distinct(toks)).cast("double") / F.size(toks)

    def _n_shingles(n: int) -> Column:
        # size(word_shingles(c, n)) in closed form: the < n fallback is a
        # single whole-text shingle, otherwise tokens - n + 1 — skips
        # rebuilding the whole shingle array just to take its length
        sz = F.size(toks)
        return F.when(sz < n, F.lit(1)).otherwise(sz - F.lit(n) + F.lit(1))

    return {
        "dup_token_frac": dup_tok,
        "top_2gram_frac": top2.cast("double") / _n_shingles(2),
        "dup_5gram_frac": dup5.cast("double") / _n_shingles(5),
    }


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Array of word n-gram shingles (space-joined), for MinHash/Jaccard.

    Built by zipping n shifted views of the token array: every ``toks``
    reference sits in an ARGUMENT position (zip_with/slice operands),
    evaluated once per row. The obvious formulation —
    ``transform(indexes, i -> array_join(slice(toks, i+1, n)))`` — puts
    the tokenizing split inside the lambda body, and a higher-order
    function re-evaluates its whole body per element: the full regex
    split ran once per shingle position, O(words²·len) per document.
    """
    toks = tokens(col)
    s = toks
    for k in range(1, n):
        # k-th shifted view; zip_with pads the shorter side with null and
        # concat(x, ' ', null) is null, so the trailing k entries go null
        shifted = F.slice(toks, k + 1, F.greatest(F.size(toks) - F.lit(k), F.lit(0)))
        s = F.zip_with(s, shifted, lambda a, b: F.concat(a, F.lit(" "), b))
    # keep the size(toks) - n + 1 complete shingles (drop the null tail)
    s = F.slice(s, 1, F.greatest(F.size(toks) - F.lit(n) + F.lit(1), F.lit(0)))
    return F.when(F.size(toks) < n, F.array(F.array_join(toks, " "))).otherwise(s)


GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_rules(
    col: Column | str, min_words: int = 50, min_stopwords: int = 2
) -> dict[str, Column]:
    """Gopher quality-filter signals (Rae et al. 2021, "Scaling Language
    Models: ... Gopher", §A1.1 repetition/quality heuristics — the rule
    set every published web-corpus recipe since reuses): word count
    bounds, mean word length bounds, symbol-to-word ratio (# and
    ellipsis), fraction of words containing an alphabetic character, and
    the required-stopword count. Pure JVM expressions over one token
    split — no UDF, one pass, map-only at any scale.

    Returns the named signal columns plus ``gopher_pass`` (all rules).
    Thresholds default to the published ones: 50 <= words <= 100000,
    3 <= mean_word_len <= 10, symbol_ratio <= 0.1, alpha_frac >= 0.8,
    >= 2 of the 8 required stopwords present. ``min_words`` /
    ``min_stopwords`` are tunable — corpora whose register lacks English
    function words (code, tables, synthetic fixtures) use a lower
    stopword floor, exactly how deployments retune this rule."""
    c = F.col(col) if isinstance(col, str) else col
    toks = tokens(c)
    n = F.size(toks)
    nz = F.greatest(n, F.lit(1))  # avoid /0 on empty docs (they fail anyway)
    mean_len = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    ) / nz
    n_hash = F.size(F.split(c, "#", -1)) - 1
    n_ellipsis = F.size(F.split(c, r"\.\.\.", -1)) - 1
    symbol_ratio = (n_hash + n_ellipsis) / nz
    alpha_frac = (
        F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]"))) / nz
    )
    sw = F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
    # distinct stopwords present: array_intersect keeps sw's (duplicate-free)
    # entries found in the lowered tokens — same count as filtering sw by
    # array_contains, but the token-lowering transform is an ARGUMENT
    # (evaluated once), not re-run per stopword inside a lambda body
    stop_hits = F.size(F.array_intersect(sw, F.transform(toks, F.lower)))
    out = {
        "n_words": n.cast("int"),
        "mean_word_len": F.round(mean_len, 6),
        "symbol_ratio": F.round(symbol_ratio, 6),
        "alpha_frac": F.round(alpha_frac, 6),
        "stopword_hits": stop_hits.cast("int"),
    }
    out["gopher_pass"] = (
        n.between(min_words, 100_000)
        & F.round(mean_len, 6).between(3.0, 10.0)
        & (F.round(symbol_ratio, 6) <= 0.1)
        & (F.round(alpha_frac, 6) >= 0.8)
        & (stop_hits >= min_stopwords)
    )
    return out
