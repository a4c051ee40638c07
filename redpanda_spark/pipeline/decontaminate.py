"""Benchmark-contamination detection for training corpora.

A training document is contaminated when it shares at least one word
n-gram with an evaluation/benchmark document — the n-gram overlap rule
published in the GPT-3 / PaLM / Llama data cards (typically n = 8..13).
Alongside dedup this is the other mandatory hygiene pass of a 100 TB
training-data pipeline: eval answers leaking into the corpus inflate
benchmark scores, so the corpus must be swept against every eval suite
before training.

Spark shape: explode each side's DISTINCT n-grams and equi-join on the
gram. The shuffle carries (gram, id) pairs only — never document
payloads — and the benchmark side is a tiny dimension in practice (eval
suites are megabytes against a 100 TB corpus), so Catalyst broadcasts it
and the corpus side streams through a hash probe with NO shuffle at all.
For corpus-vs-corpus sweeps, join on xxhash64(gram) instead to shrink
the shuffle width (64-bit hashes vs full gram strings); exact strings
are kept here for byte-parity with the SQL oracle.

Documents with fewer than n tokens cannot be flagged by n-gram overlap
and are excluded (no whole-text fallback — a 3-token document equalling
a benchmark is a different, exact-match check).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from redpanda_spark.sources.tables import parallelize_narrow


def _gram_udf(n: int):
    """Distinct word n-grams as an Arrow-batched kernel. The pure-JVM
    expression (word_shingles + array_distinct) evaluates interpreted —
    higher-order lambdas break whole-stage codegen — and measured
    ~800 ns/gram (4 s for a 250k-gram corpus at sf0.1); the batched
    Python split/join is ~20× faster, the same escape hatch
    dedup/minhash.py documents for its signature kernel. Tokenization
    matches functions.text.tokens (split on whitespace, empties
    dropped), so the SQL oracle replays it exactly."""

    @pandas_udf("array<string>")
    def gram_udf(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            toks = (t or "").split()
            if len(toks) < n:
                out.append([])
            else:
                out.append(
                    list({" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)})
                )
        return pd.Series(out)

    return gram_udf


def _grams(
    df: DataFrame, n: int, text_col: str, id_col: str, out_id: str
) -> DataFrame:
    # the gram kernel is the CPU-bound stage and small corpus parquet
    # arrives as 1-2 splits — spread before it (no-op at scale)
    df = parallelize_narrow(df)
    return df.select(
        F.col(id_col).alias(out_id),
        F.explode(_gram_udf(n)(F.col(text_col))).alias("gram"),
    )


def contamination_pairs(
    docs: DataFrame,
    benchmarks: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str | None = None,
    bench_id_col: str | None = None,
    broadcast_benchmarks: bool = True,
) -> DataFrame:
    """(doc_id, bench_id, common_ngrams) for every contaminated pair —
    one row per (training doc, benchmark doc) sharing >= 1 n-gram, with
    the count of distinct shared grams (the evidence strength).

    The benchmark gram side is broadcast EXPLICITLY: explode defeats
    Catalyst's size estimation, so the static plan would otherwise
    sort-merge-join (shuffling every corpus gram). Pass
    broadcast_benchmarks=False for corpus-vs-corpus sweeps where the
    right side is genuinely large."""
    dg = _grams(docs, n, text_col, id_col, "doc_id")
    bg = _grams(
        benchmarks,
        n,
        bench_text_col or text_col,
        bench_id_col or id_col,
        "bench_id",
    )
    if broadcast_benchmarks:
        bg = F.broadcast(bg)
    return (
        dg.join(bg, "gram")
        .groupBy("doc_id", "bench_id")
        .agg(F.count("*").alias("common_ngrams"))
    )


def decontaminate(
    docs: DataFrame,
    benchmarks: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str | None = None,
    bench_id_col: str | None = None,
) -> DataFrame:
    """The clean corpus: docs minus everything contamination_pairs flags
    (anti-join on the flagged id set — one narrow pass over the corpus,
    the flagged set is candidate-sized)."""
    flagged = contamination_pairs(
        docs, benchmarks, n, text_col, id_col, bench_text_col, bench_id_col
    ).select("doc_id").distinct()
    return docs.join(
        flagged.withColumnRenamed("doc_id", id_col), id_col, "left_anti"
    )
