"""SimHash near-duplicate fingerprints — JVM-side expression folds.

Each token contributes its xxhash64 bit pattern; per bit, +1 if set else −1;
the sign vector packs into a 60-bit fingerprint (60 = 4 bands × 15 bits,
keeping clear of the int64 sign bit so all packing stays in non-negative
bigint range under ANSI arithmetic). Near-dups = fingerprints within a small
Hamming distance, blocked by exact-band match: with 4 bands, any pair within
Hamming distance 3 shares at least one band (pigeonhole), so the self-join
is on band equality — never a cross product.

The fingerprint is a `transform`/`aggregate` fold over the token array;
the md5/48-bit variant runs the Arrow kernel ``simhash48_md5_kernel``
instead, a bit-exact twin of that fold. Banding and the pair join are
JVM-side.
"""

from __future__ import annotations

import hashlib
import re
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from redpanda_spark.sources.tables import parallelize_narrow
from redpanda_spark.functions.text import tokens

SIMHASH_BITS = 60
BAND_BITS = 15
N_BANDS = 4


def md5_hash48(t: Column) -> Column:
    """48-bit token hash from the md5 hex prefix. Weaker mixing than
    xxhash64 but computable by any SQL engine with md5() — used by the
    oracle-checked gate query so DuckDB can replay the whole SimHash
    pipeline bit-for-bit."""
    return F.conv(F.substring(F.md5(t), 1, 12), 16, 10).cast("long")


def simhash(
    col: Column | str, bits: int = SIMHASH_BITS, token_hash=None
) -> Column:
    """SimHash of the whitespace tokens of ``col`` (bigint, low ``bits`` used).

    One fold over the token-hash array with an array<int> accumulator:
    counts[i] = Σ_tokens (bit i of hash(token) ? +1 : -1). Aggregating
    over the pre-hashed array binds each hash to a lambda variable, so the
    tokenizer and hash run once per token — not once per (token, bit).
    ``token_hash`` defaults to xxhash64 (production); pass ``md5_hash48``
    (with bits=48) for the SQL-replayable variant.
    """
    toks = tokens(col)
    hash_fn = token_hash or F.xxhash64
    bit_idx = F.sequence(F.lit(0), F.lit(bits - 1))
    counts = F.aggregate(
        F.transform(toks, lambda t: hash_fn(t)),
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                bit_idx, lambda i: F.when(F.bit_get(h, i) == 1, 1).otherwise(-1)
            ),
            lambda a, s: a + s,
        ),
    )
    # pack sign bits MSB-first: acc = acc*2 + (count>0); max value < 2^60
    return F.aggregate(
        F.reverse(counts),
        F.lit(0).cast("long"),
        lambda acc, c: acc * F.lit(2) + F.when(c > 0, 1).otherwise(0),
    )


# Java's \s (the tokenizer regex Spark evaluates) is ASCII-only:
# [ \t\n\x0B\f\r]. Python's str.split()/\s are Unicode-aware, so the
# kernel compiles the Java class explicitly — a NBSP or U+2028 must stay
# inside its token exactly as the JVM expression keeps it.
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")
_SHIFTS48 = np.arange(48, dtype=np.int64)
_HASH_CACHE_CAP = 1 << 20


def _simhash48_md5_py(text: str | None, cache: dict) -> int | None:
    """Scalar reference for the vectorized kernel: equals
    simhash(col, bits=48, token_hash=md5_hash48) bit-for-bit.

    Token list = maximal non-\\s runs (empty tokens filtered, so Spark's
    trim-then-split yields the same list); per-token hash = first 12 hex
    chars of md5(utf-8) as an int (= conv(substring(md5(t),1,12),16,10));
    fingerprint bit i = (#tokens with hash bit i set) > #tokens/2, i.e.
    the sign of the ±1 vote count, packed LSB=bit 0 like the expression's
    reverse-fold. NULL text → NULL (aggregate over a null array); zero
    tokens → 0 (all vote counts 0, no bit strictly positive)."""
    if text is None:
        return None
    toks = [t for t in _JAVA_WS.split(text) if t]
    n = len(toks)
    if n == 0:
        return 0
    h = np.empty(n, dtype=np.int64)
    for i, t in enumerate(toks):
        v = cache.get(t)
        if v is None:
            v = int(hashlib.md5(t.encode("utf-8")).hexdigest()[:12], 16)
            if len(cache) < _HASH_CACHE_CAP:
                cache[t] = v
        h[i] = v
    set_counts = ((h[:, None] >> _SHIFTS48) & 1).sum(axis=0)
    return int(((2 * set_counts > n).astype(np.int64) << _SHIFTS48).sum())


_KERNEL_UDF = None


def simhash48_md5_kernel(col: Column | str) -> Column:
    """Vectorized twin of ``simhash(col, bits=48, token_hash=md5_hash48)``.

    The expression form evaluates ~2·bits interpreted lambda nodes per
    token (higher-order functions don't codegen); this kernel does the
    same math as one hashlib call + numpy bit-count per token, with a
    per-task token→hash cache (natural-language token frequency follows
    Zipf, so most md5 calls are cache hits). Bit-exact equivalence is
    pinned by test_simhash_md5_kernel_matches_expression and asserted
    corpus-wide before adoption. Built lazily (pandas_udf parses its DDL
    return type through the active session)."""
    global _KERNEL_UDF
    if _KERNEL_UDF is None:

        @pandas_udf("long")
        def _udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
            cache: dict = {}
            for batch in batches:
                yield pd.Series(
                    [_simhash48_md5_py(t, cache) for t in batch],
                    dtype="Int64",
                )

        _KERNEL_UDF = _udf
    return _KERNEL_UDF(F.col(col) if isinstance(col, str) else col)


def hamming(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_dups(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bits: int = SIMHASH_BITS,
    token_hash=None,
) -> DataFrame:
    """(id_a < id_b, hamming) pairs within ``max_hamming`` bits.

    Banding recall is exactly 1.0 for max_hamming < N_BANDS (pigeonhole:
    ≤3 differing bits can touch at most 3 of the 4 bands), so the output
    equals the full pairwise hamming filter — which is what the SQL oracle
    computes for the md5-variant gate query.

    The md5/48-bit variant fingerprints through the Arrow kernel
    (``simhash48_md5_kernel``, bit-exact twin of the expression — see its
    docstring). Other (bits, token_hash) shapes (production xxhash64
    default) stay on the JVM expression: the package has no
    byte-compatible Python xxhash64."""
    docs = parallelize_narrow(docs)
    if bits == 48 and token_hash is md5_hash48:
        sh_expr = simhash48_md5_kernel(F.col(text_col))
    else:
        sh_expr = simhash(F.col(text_col), bits=bits, token_hash=token_hash)
    sh = docs.select(F.col(id_col).alias("id"), sh_expr.alias("sh"))
    # one banding implementation for every bit-hash ladder (text SimHash,
    # image dHash, audio fingerprints): the generic banded hamming join
    return hash_near_dup_pairs(
        sh, id_col="id", hash_col="sh",
        max_hamming=max_hamming, bits=bits, n_bands=N_BANDS,
    )


def hash_near_dup_pairs(
    hashes: DataFrame,
    id_col: str = "id",
    hash_col: str = "h",
    max_hamming: int = 3,
    bits: int = 64,
    n_bands: int | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """Generic banded hamming join over any precomputed bit-hash column
    (SimHash, image dHash/pHash, audio fingerprints): (id_a < id_b,
    hamming) pairs within ``max_hamming``. With the default
    ``n_bands = max_hamming + 1`` recall is exactly 1.0 by pigeonhole —
    ≤ k differing bits cannot touch all k+1 bands — so the banded output
    equals the full pairwise filter while shuffling only (band_val, id)
    pairs.

    ``max_bucket`` (default off, preserving the exact-recall guarantee)
    drops band buckets with more members than the cap before the
    self-join — the skew valve for degenerate corpora (thousands of
    byte-identical images land every copy in every bucket, an O(n²)
    fan-out in ONE task). With the cap, a pair is reported only if it
    co-occurs in at least one under-cap bucket; exact duplicates beyond
    the cap should be removed by an upstream exact-dedup pass (cheap:
    groupBy the hash itself). Mirrors ``minhash.candidate_pairs``'s cap.
    """
    n_bands = n_bands or (max_hamming + 1)
    band_bits = bits // n_bands
    mask = (1 << band_bits) - 1
    banded = hashes.select(
        F.col(id_col).alias("id"),
        F.col(hash_col).alias("sh"),
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col(hash_col), i * band_bits).bitwiseAND(
                        F.lit(mask)
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("band", "band_val"),
    ).persist()
    if max_bucket is not None:
        # oversized-bucket set is tiny by construction (only degenerate
        # collisions exceed the cap) → broadcast anti-join, no extra shuffle
        # of the banded frame beyond the size count
        oversized = (
            banded.groupBy("band", "band_val")
            .agg(F.count(F.lit(1)).alias("_n"))
            .where(F.col("_n") > max_bucket)
            .drop("_n")
        )
        banded_join = banded.join(
            F.broadcast(oversized), ["band", "band_val"], "left_anti"
        )
    else:
        banded_join = banded
    a = banded_join.select("band", "band_val", F.col("id").alias("id_a"),
                           F.col("sh").alias("sh_a"))
    b = banded_join.select("band", "band_val", F.col("id").alias("id_b"),
                           F.col("sh").alias("sh_b"))
    out = (
        a.join(b, ["band", "band_val"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming(F.col("sh_a"), F.col("sh_b")).alias("hamming"))
        .distinct()
        .where(F.col("hamming") <= F.lit(max_hamming))
        # materialize the (candidate-bounded) pair set via localCheckpoint:
        # unlike persist(), the blocks are released by the ContextCleaner
        # when the returned frame is garbage-collected, so repeated
        # invocations in a long-lived session don't pin pair-sets forever
        .localCheckpoint(eager=True)
    )
    banded.unpersist()
    return out
