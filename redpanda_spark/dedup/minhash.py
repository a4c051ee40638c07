"""MinHash + LSH near-duplicate detection — all JVM-side expressions.

Pipeline: word-shingle → k minhashes → band signatures → bucket self-join
on (band, band_hash) → candidate pairs → exact Jaccard verify.

Performance design (matters at 100 TB):
- The k-permutation signature is ONE vectorized pass per Arrow batch:
  shingles are hashed once and the k permutations are splitmix64 mixes
  folded into per-doc minima with a segmented reduce — shingles are
  materialized once, not re-evaluated per permutation.
- Candidate generation is ONE aggregation on (band, band_hash): in-bucket
  pairs expand JVM-side from the grouped member list — no bucket
  self-join, no persist barrier, one pipelined pass over the signatures.
- The only shuffles move (band_hash, id) pairs — never document bodies —
  and the verify join touches candidate pairs only, never O(n²).
- Pathological buckets (identical boilerplate) are capped by ``max_bucket``.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StructField, StructType
from pyspark.storagelevel import StorageLevel

from redpanda_spark.functions.text import word_shingles
from redpanda_spark.sources.tables import (
    defer_unpersist,
    drain_deferred_unpersist,
    parallelize_narrow,
)

_MAX_LONG = (1 << 63) - 1


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer (public-domain mixing constants).

    The first add allocates the result; every later step mutates it in
    place — the historical form re-allocated (and redundantly astype'd)
    per step, which dominated the per-k permutation loop at ~1M shingles
    per Arrow batch. Same uint64 wraparound math, same values."""
    with np.errstate(over="ignore"):
        x = x + np.uint64(0x9E3779B97F4A7C15)  # fresh array; callers' input untouched
        x ^= x >> np.uint64(30)
        x *= np.uint64(0xBF58476D1CE4E5B9)
        x ^= x >> np.uint64(27)
        x *= np.uint64(0x94D049BB133111EB)
        x ^= x >> np.uint64(31)
        return x


def _doc_min_signatures(
    base: np.ndarray, starts: np.ndarray, seeds: np.ndarray, n_docs: int
) -> np.ndarray:
    """(k, n_docs) per-doc minima of the splitmix64 permutations of the
    doc-contiguous shingle hashes ``base`` (segment d starts at
    ``starts[d]``; every segment non-empty)."""
    num_hashes = seeds.size
    acc = np.full((num_hashes, n_docs), np.iinfo(np.uint64).max, dtype=np.uint64)
    if base.size:
        if base.size * num_hashes <= 16_000_000:
            # one-shot (k, S) permutation matrix; bounded to ~128 MB
            perm = _splitmix64(base[None, :] ^ seeds[:, None])
            acc = np.minimum.reduceat(perm, starts, axis=1)
        else:
            # long-document batches: per-k passes keep peak memory at
            # one S-sized row instead of k of them
            for k in range(num_hashes):
                acc[k] = np.minimum.reduceat(_splitmix64(base ^ seeds[k]), starts)
    return acc


def _signature_batch(
    texts, num_hashes: int, shingle_n: int, seeds: np.ndarray
) -> np.ndarray:
    """(n_docs, num_hashes) int64 signature matrix for one Arrow batch of
    text, with no per-document Python: the only per-item Python is
    murmur2_flat folding its last few live shingles (at most
    ``_SCALAR_LIVE_KEYS`` per call), whatever the batch size.

    Same math as a per-doc loop (str.split, the shingle set, scalar
    murmur2, per-doc minima), vectorized end to end:
    tokenize with pyarrow's utf8_split_whitespace (whitespace set equal to
    Python str.split() — utf8proc includes the bidi-class controls; the
    boundary-empty tokens it emits are filtered), build every shingle with
    one binary_join_element_wise over n shifted token takes, hash the
    shingle bytes straight from the Arrow buffer with murmur2_flat, and
    fold per-doc minima with the segmented reduce. Shingles are NOT
    dedup'd: a min over a multiset equals the min over its set, so the
    signatures are bit-identical to the set-comprehension form (pinned by
    test_minhash_signature_arrow_matches_python against that per-doc
    loop) while skipping the per-doc Python set build entirely.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    from redpanda_spark.functions.hashes import (
        murmur2,
        murmur2_flat,
        string_array_bytes_offsets,
    )

    n_docs = len(texts)
    if n_docs == 0:
        return np.empty((0, num_hashes), dtype=np.int64)
    texts = pc.fill_null(texts, "")
    toks = pc.utf8_split_whitespace(texts)
    if isinstance(toks, pa.ChunkedArray):
        toks = toks.combine_chunks()
    # list offsets index the RAW values child (correct under slicing)
    off = np.asarray(toks.offsets, dtype=np.int64)
    vals = toks.values
    _, voff = string_array_bytes_offsets(vals)
    w0, w1 = off[0], off[-1]
    keep = (voff[w0 + 1 : w1 + 1] - voff[w0:w1]) > 0  # drop boundary empties
    csum = np.zeros(keep.size + 1, dtype=np.int64)
    np.cumsum(keep, out=csum[1:])
    T = csum[off[1:] - w0] - csum[off[:-1] - w0]  # kept tokens per doc
    kidx = w0 + np.flatnonzero(keep)  # kept-token -> raw-token index
    kstart = np.zeros(n_docs, dtype=np.int64)
    np.cumsum(T[:-1], out=kstart[1:])

    big = np.flatnonzero(T >= shingle_n)
    hash_blocks: list[np.ndarray] = []
    count_blocks: list[np.ndarray] = []
    order_blocks: list[np.ndarray] = []

    def _join_hash(tok_pos: np.ndarray, width: int) -> np.ndarray:
        cols = [pc.take(vals, pa.array(kidx[tok_pos + m])) for m in range(width)]
        joined = cols[0] if width == 1 else pc.binary_join_element_wise(*cols, " ")
        return murmur2_flat(*string_array_bytes_offsets(joined)).astype(np.uint64)

    if big.size:
        cb = T[big] - shingle_n + 1
        cstart = np.zeros(big.size, dtype=np.int64)
        np.cumsum(cb[:-1], out=cstart[1:])
        rank = np.arange(int(cb.sum()), dtype=np.int64) - np.repeat(cstart, cb)
        pos0 = np.repeat(kstart[big], cb) + rank  # kept-index of shingle head
        hash_blocks.append(_join_hash(pos0, shingle_n))
        count_blocks.append(cb)
        order_blocks.append(big)
    for t in range(shingle_n):  # short docs: one whole-doc shingle each
        grp = np.flatnonzero(T == t)
        if not grp.size:
            continue
        if t == 0:
            hb = np.full(grp.size, np.uint64(murmur2(b"")), dtype=np.uint64)
        else:
            hb = _join_hash(kstart[grp], t)
        hash_blocks.append(hb)
        count_blocks.append(np.ones(grp.size, dtype=np.int64))
        order_blocks.append(grp)

    base = np.concatenate(hash_blocks)
    counts = np.concatenate(count_blocks)
    order = np.concatenate(order_blocks)
    starts = np.zeros(order.size, dtype=np.int64)
    np.cumsum(counts[:-1], out=starts[1:])
    acc2 = _doc_min_signatures(base, starts, seeds, order.size)
    acc = np.empty((num_hashes, n_docs), dtype=np.uint64)
    acc[:, order] = acc2
    # bigint output: drop the top bit so values fit signed int64
    return (acc >> np.uint64(1)).astype(np.int64).T


def minhash_signature(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, sig: array<bigint> of length num_hashes) — single pass.

    Arrow-batched numpy kernel via mapInArrow: per batch, all docs'
    shingles are hashed in one vectorized murmur2 call, the k permutations
    are splitmix64 mixes of (hash ^ seed_k), and per-doc minima come from
    a segmented reduce — no per-document Python, no pandas string
    materialization (see ``_signature_batch``). Measured ~4× over the
    equivalent JVM higher-order-function fold — Catalyst interprets
    lambda expressions inside aggregate/zip_with, so the "stay JVM-side"
    rule inverts here; the batch kernel is the vectorized path.
    """
    import pyarrow as pa

    seeds = _splitmix64(np.arange(1, num_hashes + 1, dtype=np.uint64))
    out_schema = StructType(
        [docs.schema[id_col], StructField("sig", ArrayType(LongType()))]
    )

    def gen(batches):
        for batch in batches:
            ids = batch.column(0)
            sig = _signature_batch(batch.column(1), num_hashes, shingle_n, seeds)
            n, k = sig.shape
            siglist = pa.ListArray.from_arrays(
                np.arange(0, (n + 1) * k, k, dtype=np.int32),
                pa.array(sig.reshape(-1), type=pa.int64()),
            )
            yield pa.RecordBatch.from_arrays([ids, siglist], [id_col, "sig"])

    return docs.select(id_col, text_col).mapInArrow(gen, out_schema)


def lsh_bands(sig_df: DataFrame, id_col: str = "doc_id", bands: int = 8) -> DataFrame:
    """(id, band, band_hash): one row per signature band.

    The band slice is hashed as an ARRAY (xxhash64 folds the elements
    directly), not via a string cast: formatting each slice into
    "[a, b, c, d]" allocated a throwaway string per (row, band), pure
    per-core CPU at scale. Candidacy is unchanged — docs share a bucket
    iff their slices are EQUAL, and equal slices hash equal under any
    function (pair sets asserted identical at sf0.01/sf0.1 when this
    landed; r13, local[1] banding stage median −29%)."""
    return sig_df.select(
        id_col,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.xxhash64(
                    F.slice(
                        F.col("sig"),
                        b * (F.size(F.col("sig")) / bands).cast("int") + 1,
                        (F.size(F.col("sig")) / bands).cast("int"),
                    ),
                    b,
                ),
            )
        ).alias("band", "band_hash"),
    )


def candidate_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    max_bucket: int = 1000,
) -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing at least one LSH bucket.

    One shuffle groups each bucket's member ids; in-bucket pairs are then
    generated JVM-side with nested array transforms (i<j over the sorted
    member list). This is the same B² fan-out a bucket self-join would do —
    a bucket lives in one task either way — but with a single aggregation
    instead of a size-filter + two semi-joins + self-join, and no persist
    barrier: the signature UDF runs exactly once in one pipelined pass.
    Oversized buckets (> ``max_bucket``, boilerplate collisions) are
    dropped before pair generation, capping the fan-out.
    """
    sig = minhash_signature(docs, text_col, id_col, num_hashes, shingle_n)
    banded = lsh_bands(sig, id_col, bands)
    bucketed = (
        banded.groupBy("band", "band_hash")
        .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
        .where(F.size("ids").between(2, max_bucket))
    )
    pair_expr = F.explode(
        F.flatten(
            F.transform(
                F.col("ids"),
                lambda x, i: F.transform(
                    F.slice(F.col("ids"), i + F.lit(2), F.size(F.col("ids"))),
                    lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                ),
            )
        )
    )
    return (
        bucketed.select(pair_expr.alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def jaccard_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """Exact shingle-set Jaccard for each candidate pair.

    Shingle sets are built only for documents that appear in a candidate
    pair (semi-join first): LSH keeps the candidate count ~linear, so the
    expensive shingle materialization touches a tiny fraction of the corpus
    — at 100 TB, re-shingling every document here would cost more than the
    whole LSH pass it follows.

    Caching is LAZY (r13): persist() marks both frames and the caller's
    single action materializes them — Spark's per-block cache locking
    guarantees each partition is computed once even with two join sides
    reading the same cache, so the old eager count() barriers (2 extra
    jobs per invocation) bought nothing. Cached blocks from the PREVIOUS
    invocation are unpersisted on entry (bounded leak: at most one
    invocation's candidate-bounded intermediates stay cached in a
    long-lived sequential session)."""
    drain_deferred_unpersist()
    pairs = pairs.persist(StorageLevel.MEMORY_AND_DISK)
    # no distinct: the left-semi probe below only tests existence, so
    # duplicate ids on the build side are free — dropping the union +
    # distinct removes one aggregate exchange over the candidate ids
    # (r13; measured −8% best / −23% median on the full query at sf0.1,
    # identical output rows)
    cand_ids = pairs.select(
        F.explode(F.array(F.col("id_a"), F.col("id_b"))).alias(id_col)
    )
    sets = (
        docs.join(cand_ids, id_col, "left_semi")
        .select(
            F.col(id_col),
            F.array_distinct(word_shingles(F.col(text_col), shingle_n)).alias("sh"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    out = (
        pairs.join(sets.withColumnsRenamed({id_col: "id_a", "sh": "sh_a"}), "id_a")
        .join(sets.withColumnsRenamed({id_col: "id_b", "sh": "sh_b"}), "id_b")
        .withColumn("inter", F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))))
        .withColumn(
            "union", F.size(F.col("sh_a")) + F.size(F.col("sh_b")) - F.col("inter")
        )
        .select(
            "id_a",
            "id_b",
            F.round(F.col("inter").cast("double") / F.col("union"), 6).alias("jaccard"),
        )
    )
    defer_unpersist(pairs, sets)
    return out


def pick_bands(num_hashes: int, threshold: float) -> int:
    """Bands b (rows r = k/b) whose LSH S-curve inflection (1/b)^(1/r) is
    closest to the verify threshold (MMDS ch.3 rule): fewer bands would
    miss near-threshold pairs, more bands would flood the bucket join with
    sub-threshold candidates the verify step then has to discard.

    Recall in the boundary region just above the threshold scales with
    num_hashes (more bands at the same inflection point) — measured
    sf100 numbers for the 32-vs-256-hash trade are in README's dedup
    section; `tools/sampled_oracle.py` prints the per-pair miss
    probability for any boundary pair it finds."""
    best_b, best_d = num_hashes, float("inf")
    for r in range(1, num_hashes + 1):
        if num_hashes % r:
            continue
        b = num_hashes // r
        d = abs((1.0 / b) ** (1.0 / r) - threshold)
        if d < best_d:
            best_b, best_d = b, d
    return best_b


def near_dup_pairs(
    docs: DataFrame,
    threshold: float = 0.7,
    **kwargs,
) -> DataFrame:
    """End-to-end MinHash-LSH near-dup pairs above the Jaccard threshold."""
    docs = parallelize_narrow(docs)
    if "bands" not in kwargs:
        kwargs = dict(kwargs, bands=pick_bands(kwargs.get("num_hashes", 32), threshold))
    pairs = candidate_pairs(docs, **kwargs)
    shingle_n = kwargs.get("shingle_n", 3)
    text_col = kwargs.get("text_col", "text")
    id_col = kwargs.get("id_col", "doc_id")
    jac = jaccard_pairs(docs, pairs, text_col, id_col, shingle_n)
    return jac.where(F.col("jaccard") >= F.lit(threshold))


def incremental_candidates(
    corpus_sigs: DataFrame,
    new_sigs: DataFrame,
    id_col: str = "doc_id",
    bands: int = 8,
    max_bucket: int = 1000,
) -> DataFrame:
    """Candidate pairs for INCREMENTAL dedup: only pairs whose larger
    (newer) side is a new document. ``corpus_sigs`` is the stored
    signature table from previous runs — the corpus is never re-shingled
    and corpus×corpus pairs are never generated, which is the whole point:
    deduping a daily increment against a 100 TB corpus costs
    O(increment + matching buckets), not O(corpus²) or even O(corpus).

    Bucket shape mirrors candidate_pairs: one aggregation on (band,
    band_hash) moving (id, is_new) pairs only, bucket cap, then JVM-side
    pair expansion. A new member pairs with EVERY corpus member in the
    bucket (regardless of id order — corpus ids need not be smaller than
    increment ids) and with smaller-id new members; the new document is
    always the id_b side, which is the side the dedup policy drops. Ids
    must be unique across store + increment."""
    ba = lsh_bands(corpus_sigs, id_col, bands).withColumn("is_new", F.lit(False))
    bn = lsh_bands(new_sigs, id_col, bands).withColumn("is_new", F.lit(True))
    bucketed = (
        ba.unionByName(bn)
        .groupBy("band", "band_hash")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col(id_col).alias("id"), F.col("is_new")))
            ).alias("ms")
        )
        .where(F.size("ms").between(2, max_bucket))
        .where(F.exists("ms", lambda m: m["is_new"]))
    )
    pair_expr = F.explode(
        F.flatten(
            F.transform(
                F.filter(F.col("ms"), lambda m: m["is_new"]),
                lambda y: F.transform(
                    F.filter(
                        F.col("ms"),
                        lambda x: (~x["is_new"] & (x["id"] != y["id"]))
                        | (x["is_new"] & (x["id"] < y["id"])),
                    ),
                    lambda x: F.struct(
                        x["id"].alias("id_a"), y["id"].alias("id_b")
                    ),
                ),
            )
        )
    )
    return (
        bucketed.select(pair_expr.alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def incremental_dedup_ids(
    corpus_sigs: DataFrame,
    new_docs: DataFrame,
    all_docs: DataFrame,
    threshold: float = 0.7,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    shingle_n: int = 3,
    **kwargs,
) -> DataFrame:
    """Ids of new documents that SURVIVE incremental dedup: a new doc is
    dropped iff its exact shingle Jaccard with any lower-id document
    (corpus, or an earlier doc in the same increment) reaches the
    threshold. ``all_docs`` supplies text for the exact-verify stage —
    only candidate-pair docs are ever shingled (jaccard_pairs semi-join).
    Returns the kept (id) frame; callers union it with the corpus id set
    and append the increment's signatures to the signature store."""
    new_docs = parallelize_narrow(new_docs)
    if "bands" not in kwargs:
        kwargs["bands"] = pick_bands(num_hashes, threshold)
    new_sigs = minhash_signature(new_docs, text_col, id_col, num_hashes, shingle_n)
    cands = incremental_candidates(
        corpus_sigs,
        new_sigs,
        id_col,
        bands=kwargs["bands"],
        max_bucket=kwargs.get("max_bucket", 1000),
    )
    scored = jaccard_pairs(all_docs, cands, text_col, id_col, shingle_n)
    dropped = (
        scored.where(F.col("jaccard") >= threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return new_docs.select(id_col).join(dropped, id_col, "left_anti")


def process_increment(
    spark,
    store_path: str,
    new_docs: DataFrame,
    threshold: float = 0.7,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    shingle_n: int = 3,
) -> dict:
    """Continuous-ingest dedup: maintain a deduplicated corpus store at
    ``store_path`` (parquet: id, text, sig) and fold one increment into
    it. The corpus side is read as SIGNATURES ONLY for candidate
    generation (never re-shingled); texts are touched solely for the
    exact verify of candidate pairs. Surviving docs append to the store
    with their signatures, so the next increment reuses them — the
    foreachBatch body of a streaming dedup pipeline (pair it with
    engine.log_stream / export machinery for end-to-end exactly-once).

    Returns {"kept": n, "dropped": n}."""
    new_docs = parallelize_narrow(new_docs).select(id_col, text_col)
    new_sigs = minhash_signature(new_docs, text_col, id_col, num_hashes, shingle_n)
    new_full = new_docs.join(new_sigs, id_col)
    # probe via a read attempt, not os.path — the store may live on an
    # object-store URI where a POSIX existence check is always False
    try:
        store = spark.read.parquet(store_path)
        corpus_sigs = store.select(id_col, "sig")
        all_docs = store.select(id_col, text_col).unionByName(new_docs)
    except Exception:
        corpus_sigs = new_sigs.limit(0)
        all_docs = new_docs
    bands = pick_bands(num_hashes, threshold)
    cands = incremental_candidates(corpus_sigs, new_sigs, id_col, bands=bands)
    scored = jaccard_pairs(all_docs, cands, text_col, id_col, shingle_n)
    dropped_ids = (
        scored.where(F.col("jaccard") >= threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    kept = new_full.join(dropped_ids, id_col, "left_anti").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    n_kept = kept.count()
    kept.write.mode("append").parquet(store_path)
    kept.unpersist()
    n_new = new_docs.count()
    return {"kept": n_kept, "dropped": n_new - n_kept}
