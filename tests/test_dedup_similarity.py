"""Dedup + similarity tests: exact vs approximate agreement, recall bounds."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from redpanda_spark.dedup.exact import dup_groups, exact_dedup
from redpanda_spark.dedup.minhash import jaccard_pairs, near_dup_pairs
from redpanda_spark.dedup.ngram import ngram_jaccard_pairs
from redpanda_spark.dedup.simhash import simhash_near_dups
from redpanda_spark.similarity.ann import (
    brute_force_topk,
    fit_ivf_centroids,
    ivf_assign,
    ivf_topk,
)
from redpanda_spark.sources.tables import load_table


def docs_df(spark, texts):
    return spark.createDataFrame([Row(doc_id=i, text=t) for i, t in enumerate(texts)])


def test_exact_dedup(spark):
    docs = docs_df(spark, ["hello world", "foo bar", "hello world", "baz"])
    kept = sorted(r["doc_id"] for r in exact_dedup(docs).collect())
    assert kept == [0, 1, 3]
    groups = dup_groups(docs).collect()
    assert len(groups) == 1 and groups[0]["n_dups"] == 2 and groups[0]["keep_id"] == 0


def test_minhash_finds_near_duplicates(spark):
    base = "the quick brown fox jumps over the lazy dog again and again every day"
    texts = [
        base,
        base.replace("lazy", "sleepy"),  # near-dup of 0
        "completely different content about spark dataframes and shuffles here",
        base,  # exact dup of 0
    ]
    docs = docs_df(spark, texts)
    pairs = {(r["id_a"], r["id_b"]) for r in near_dup_pairs(docs, threshold=0.4).collect()}
    assert (0, 3) in pairs
    assert (0, 1) in pairs
    assert not any(2 in p for p in pairs)


def test_minhash_candidates_agree_with_exact_jaccard(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(200)
    out = near_dup_pairs(docs, threshold=0.5).collect()
    for r in out:
        assert r["jaccard"] >= 0.5  # verified stage is exact


def test_ngram_jaccard_exact_values(spark):
    docs = docs_df(spark, ["a b c d", "a b c e", "x y z w"])
    out = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
           ngram_jaccard_pairs(docs, shingle_n=2, threshold=0.0).collect()}
    # doc0 bigrams {ab,bc,cd}, doc1 {ab,bc,ce}: inter=2, union=4 → 0.5
    assert out[(0, 1)] == 0.5
    assert (0, 2) not in out or out[(0, 2)] == 0.0


def test_simhash_near_dups(spark):
    base = ("spark structured streaming processes records with exactly once "
            "semantics using checkpoints and write ahead logs for recovery")
    texts = [base, base.replace("records", "events"), "totally unrelated short text"]
    docs = docs_df(spark, texts)
    pairs = {(r["id_a"], r["id_b"]) for r in
             simhash_near_dups(docs, max_hamming=12).collect()}
    assert (0, 1) in pairs
    assert not any(2 in p for p in pairs)


def test_brute_force_topk_self_is_nearest_when_included(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").limit(100)
    queries = emb.where(F.col("vec_id") < 5).withColumnRenamed("vec_id", "query_id")
    out = brute_force_topk(emb, queries, k=3, include_self=True).collect()
    best = {r["query_id"]: r["neighbor_id"] for r in out if r["rank"] == 1}
    for q, n in best.items():
        assert q == n  # cosine(v, v) = 1 is always rank 1


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10).withColumnRenamed("vec_id", "query_id")
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, queries, k=5).collect()
    }
    cents = fit_ivf_centroids(emb, n_cells=8, sample_fraction=1.0)
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(ivf_assign(emb, cents), queries, cents, k=5, nprobe=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF recall too low: {recall}"


def test_ivf_assign_plan_bounded_at_many_cells(spark):
    """The centroid matrix rides a broadcast, not the plan: at 1024 cells
    the analyzed plan must stay O(1)-sized (the old literal-array form
    exploded past a few hundred cells)."""
    import numpy as np

    from redpanda_spark.similarity.ann import ivf_assign

    rng = np.random.default_rng(7)
    cents = rng.normal(size=(1024, 16))
    df = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=16)]) for i in range(50)],
        "vec_id int, embedding array<double>",
    )
    out = ivf_assign(df, cents)
    plan = out._jdf.queryExecution().analyzed().toString()
    assert len(plan) < 20_000  # literal-inlined centroids would be ~MBs
    cells = [r["cell"] for r in out.collect()]
    assert all(0 <= c < 1024 for c in cells)


def test_ivf_recall_at_1024_cells(spark):
    sf01_dir = "/root/testdata/sf0.1"
    """IVF with a real kmeans fit at high cell count keeps recall vs brute
    force ≥ 0.9 with a proportional nprobe."""
    import numpy as np

    from pyspark.sql import functions as F

    from redpanda_spark.similarity.ann import (
        brute_force_topk,
        fit_ivf_centroids,
        ivf_assign,
        ivf_topk,
    )

    emb = spark.read.parquet(f"{sf01_dir}/embeddings.parquet")
    n_cells = min(1024, emb.count() // 4)
    cents = fit_ivf_centroids(emb, n_cells=n_cells, sample_fraction=1.0)
    corpus = ivf_assign(emb, cents)
    queries = emb.where(F.col("vec_id") < 20).withColumnRenamed("vec_id", "query_id")
    # tiny corpus → extreme quantization (~4 vectors/cell); probe a quarter
    # of the cells to hold the recall floor (at 100 TB, cells hold ~1e6
    # vectors each and nprobe/cells shrinks accordingly)
    approx = ivf_topk(corpus, queries, cents, k=10, nprobe=max(8, n_cells // 4))
    exact = brute_force_topk(emb, queries, k=10)
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    assert len(a & e) / len(e) >= 0.9


def test_fit_kmeans_recovers_separated_clusters(spark):
    """Distributed Lloyd on three well-separated directions converges to
    one centroid per direction, counted via assignment purity."""
    import numpy as np
    from pyspark.sql import Row

    from redpanda_spark.similarity.ann import fit_kmeans, ivf_assign

    rng = np.random.default_rng(7)
    base = np.eye(3)  # three orthogonal directions in R^3
    rows = []
    for i in range(300):
        v = base[i % 3] + rng.normal(scale=0.05, size=3)
        v = v / np.linalg.norm(v)
        rows.append(Row(vec_id=i, embedding=[float(x) for x in v]))
    df = spark.createDataFrame(rows).repartition(4)

    cents = fit_kmeans(df, k=3, iters=6)
    assert cents.shape == (3, 3)
    # every centroid aligns with one axis, and all three axes are covered
    axes = {int(np.argmax(np.abs(c))) for c in cents}
    assert axes == {0, 1, 2}
    for c in cents:
        assert np.max(np.abs(c)) > 0.95  # tight on the axis
    # assignment is pure: all members of a true cluster share a cell
    assigned = ivf_assign(df, cents).select("vec_id", "cell").collect()
    by_true = {0: set(), 1: set(), 2: set()}
    for r in assigned:
        by_true[r["vec_id"] % 3].add(r["cell"])
    assert all(len(cells) == 1 for cells in by_true.values())


def test_fit_kmeans_deterministic_init(spark):
    """Same data, two layouts → identical centroids (hash-ordered init,
    deterministic reduction)."""
    import numpy as np
    from pyspark.sql import Row

    from redpanda_spark.similarity.ann import fit_kmeans

    rng = np.random.default_rng(11)
    rows = [
        Row(vec_id=i, embedding=[float(x) for x in rng.normal(size=4)])
        for i in range(100)
    ]
    df = spark.createDataFrame(rows)
    a = fit_kmeans(df.repartition(2), k=4, iters=3)
    b = fit_kmeans(df.repartition(7), k=4, iters=3)
    assert np.allclose(a, b)


def _planted_corpus(spark, seed=3):
    """3 well-separated clusters x 20 vectors; ids 100..102 are exact
    copies of ids 0..2 (planted semantic duplicates)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    centers = np.eye(3, 8) * 10.0
    rows = []
    for i in range(60):
        v = centers[i % 3] + rng.normal(0, 0.5, 8)
        rows.append((i, (v / np.linalg.norm(v)).tolist()))
    for j in range(3):
        rows.append((100 + j, rows[j][1]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_semantic_dedup_kmeans_drops_planted_copies(spark):
    from redpanda_spark.dedup.semantic import semantic_dedup_kmeans

    emb = _planted_corpus(spark)
    out = semantic_dedup_kmeans(emb, n_cells=3, tau=0.999).collect()
    verdict = {r["vec_id"]: r for r in out}
    for j in range(3):
        assert verdict[100 + j]["is_dup"] and verdict[100 + j]["dup_of"] == j
    # nothing else is a 0.999-duplicate
    assert sum(r["is_dup"] for r in out) == 3
    # copies landed in the same cell as their originals
    for j in range(3):
        assert verdict[100 + j]["cell"] == verdict[j]["cell"]


def test_semantic_dedup_max_cell_guard_keeps_everything(spark):
    import numpy as np

    from redpanda_spark.dedup.semantic import semantic_dedup

    emb = _planted_corpus(spark)
    cents = np.eye(3, 8)
    # every cell is over the cap -> no pair scan, all conservatively kept
    out = semantic_dedup(emb, cents, tau=0.999, max_cell=5)
    assert out.where(F.col("is_dup")).count() == 0
    assert out.count() == 63


def test_span_dedup_flags_planted_boilerplate(spark):
    from redpanda_spark.dedup.spans import span_dedup_stats

    boiler = " ".join(f"nav{i}" for i in range(10))  # one exact 10-token span
    docs = spark.createDataFrame(
        [
            (0, boiler + " " + "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (1, boiler + " " + "one two three four five six seven eight nine ten"),
            (2, "totally unique words here nothing shared at all with others x"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in span_dedup_stats(docs).collect()}
    assert out[0]["n_spans"] == 2 and out[0]["n_dup_spans"] == 1
    assert out[1]["n_dup_spans"] == 1 and out[1]["dup_fraction"] == 0.5
    assert out[2]["n_dup_spans"] == 0
    # scrubbing docs 0/1 removes exactly the shared span -> different md5s
    # (their remainders differ), and doc2's md5 equals md5 of its own text
    import hashlib

    assert out[2]["cleaned_md5"] == hashlib.md5(
        "totally unique words here nothing shared at all with others x".encode()
    ).hexdigest()
    assert out[0]["cleaned_md5"] != out[1]["cleaned_md5"]


def test_srp_expr_matches_numpy_reference(spark, sf_dir):
    """project_expr equals the quantized numpy matmul over sign_matrix
    exactly, every vector."""
    import numpy as np

    from redpanda_spark.similarity.projection import project_expr, sign_matrix

    emb = load_table(spark, sf_dir, "embeddings")
    got = {r["vec_id"]: list(r["proj"]) for r in project_expr(emb, 8, 64).select("vec_id", "proj").collect()}
    M = sign_matrix(8, 64)
    want = {}
    for r in emb.select("vec_id", "embedding").collect():
        y = np.array(r["embedding"], dtype=np.float64) * 1000
        # half-away-from-zero, matching Spark/DuckDB ROUND (np.rint is
        # half-to-even and would diverge on exact .5 boundaries)
        x = (np.sign(y) * np.floor(np.abs(y) + 0.5)).astype(np.int64)
        want[r["vec_id"]] = [int(v) for v in M @ x]
    assert got == want


def test_srp_preserves_pairwise_similarity(spark, sf_dir):
    """JL sanity: pairwise cosines in 32-dim projected space correlate
    strongly with the exact 64-dim cosines (the distance-preservation
    guarantee; top-k overlap on these near-orthogonal synthetic vectors
    is noise-ranking and not what SRP promises). A true-random ±1 matrix
    measures ~0.58 here — the deterministic md5 matrix must match it."""
    import numpy as np

    from redpanda_spark.similarity.projection import sign_matrix

    emb = load_table(spark, sf_dir, "embeddings").limit(200).collect()
    X = np.array([list(r["embedding"]) for r in emb], dtype=np.float64)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    P = (X @ sign_matrix(32, 64).T).astype(np.float64)
    Pn = P / (np.linalg.norm(P, axis=1, keepdims=True) + 1e-12)
    iu = np.triu_indices(len(X), 1)
    corr = np.corrcoef((Xn @ Xn.T)[iu], (Pn @ Pn.T)[iu])[0, 1]
    assert corr > 0.45, corr


# -- connected components / duplicate clusters ------------------------------


def _cc_brute(edges):
    """Driver-side union-find oracle."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {x: find(x) for x in parent}


def _cc_spark(spark, edges):
    from redpanda_spark.dedup.cluster import connected_components

    df = spark.createDataFrame(
        [Row(id_a=int(u), id_b=int(v)) for u, v in edges]
    )
    return {
        r["id"]: r["component"] for r in connected_components(df).collect()
    }


def test_connected_components_chain_and_islands(spark):
    # chain 0-1-2-3-4, triangle 10-11-12, pair 20-21
    edges = [(0, 1), (1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)]
    got = _cc_spark(spark, edges)
    assert got == _cc_brute(edges)
    assert got[4] == 0 and got[12] == 10 and got[21] == 20


def test_connected_components_random_vs_union_find(spark):
    import random

    rng = random.Random(1234)
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(90)]
    edges = [e for e in edges if e[0] != e[1]]
    assert _cc_spark(spark, edges) == _cc_brute(edges)


def test_connected_components_long_path_converges(spark):
    # a 33-node path is the adversarial (high-diameter) case for label
    # propagation; alternating star must still converge within max_rounds
    edges = [(i, i + 1) for i in range(32)]
    got = _cc_spark(spark, edges)
    assert set(got.values()) == {0} and len(got) == 33


def test_duplicate_clusters_sizes_and_canonicals(spark):
    from redpanda_spark.dedup.cluster import duplicate_clusters

    df = spark.createDataFrame(
        [Row(id_a=1, id_b=2), Row(id_a=2, id_b=3), Row(id_a=7, id_b=9)]
    )
    rows = {r["id"]: r for r in duplicate_clusters(df).collect()}
    assert rows[3]["canonical_id"] == 1 and rows[3]["cluster_size"] == 3
    assert rows[9]["canonical_id"] == 7 and rows[9]["cluster_size"] == 2
    # keep/drop policy: exactly one kept doc per cluster
    kept = [i for i, r in rows.items() if r["canonical_id"] == i]
    assert sorted(kept) == [1, 7]


# -- incremental dedup ------------------------------------------------------


def test_incremental_dedup_drops_vs_corpus_and_within_increment(spark):
    from redpanda_spark.dedup.minhash import (
        incremental_candidates,
        incremental_dedup_ids,
        minhash_signature,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    uniq = "completely different content about spark partitions and shuffles"
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=base),
            Row(doc_id=2, text=uniq),
            # increment: 10 dups corpus doc 1; 11 unique; 12 dups 11
            Row(doc_id=10, text=base),
            Row(doc_id=11, text="novel text that matches nothing else in the corpus at all"),
            Row(doc_id=12, text="novel text that matches nothing else in the corpus at all"),
        ]
    )
    corpus = docs.where("doc_id < 10")
    new = docs.where("doc_id >= 10")
    corpus_sigs = minhash_signature(corpus)
    kept = sorted(
        r["doc_id"]
        for r in incremental_dedup_ids(corpus_sigs, new, docs, threshold=0.7).collect()
    )
    assert kept == [11]  # 10 dropped vs corpus, 12 dropped vs 11

    # structural: corpus x corpus pairs are never generated
    new_sigs = minhash_signature(new)
    cands = incremental_candidates(corpus_sigs, new_sigs).collect()
    assert cands, "expected candidates"
    assert all(c["id_b"] >= 10 for c in cands)


def test_process_increment_maintains_deduped_store(spark, tmp_path):
    from redpanda_spark.dedup.minhash import jaccard_pairs, process_increment

    store = str(tmp_path / "corpus_store")
    base = "the quick brown fox jumps over the lazy dog again and again"
    other = "spark shuffles partition data across the cluster during wide operations"

    b1 = spark.createDataFrame(
        [Row(doc_id=1, text=base), Row(doc_id=2, text=other)]
    )
    r1 = process_increment(spark, store, b1, threshold=0.7)
    assert r1 == {"kept": 2, "dropped": 0}

    # batch 2: dup of stored doc 1, dup pair within the batch, one novel
    b2 = spark.createDataFrame(
        [
            Row(doc_id=10, text=base),
            Row(doc_id=11, text="genuinely novel sentence with brand new words entirely"),
            Row(doc_id=12, text="genuinely novel sentence with brand new words entirely"),
        ]
    )
    r2 = process_increment(spark, store, b2, threshold=0.7)
    assert r2 == {"kept": 1, "dropped": 2}

    stored = spark.read.parquet(store)
    assert sorted(r["doc_id"] for r in stored.collect()) == [1, 2, 11]
    assert "sig" in stored.columns  # signatures persisted for reuse

    # invariant: the store stays near-dup free end to end
    from redpanda_spark.dedup.minhash import near_dup_pairs

    assert near_dup_pairs(stored.select("doc_id", "text"), threshold=0.7).count() == 0


def test_incremental_dedup_corpus_ids_larger_than_increment(spark):
    """Review regression: a new doc duplicating a corpus doc with a
    HIGHER id must still be dropped — candidate generation cannot assume
    monotonically increasing ids across store generations."""
    from redpanda_spark.dedup.minhash import incremental_dedup_ids, minhash_signature

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            Row(doc_id=900, text=base),  # corpus, id ABOVE the increment
            Row(doc_id=100, text=base),  # new dup of corpus doc 900
            Row(doc_id=101, text="fresh words that appear nowhere else in this tiny corpus"),
        ]
    )
    corpus = docs.where("doc_id = 900")
    new = docs.where("doc_id < 200")
    kept = sorted(
        r["doc_id"]
        for r in incremental_dedup_ids(
            minhash_signature(corpus), new, docs, threshold=0.7
        ).collect()
    )
    assert kept == [101]


def test_star_forest_probe_is_exact(spark):
    # r13: the convergence probe tests for the star-forest fixpoint
    # directly instead of comparing round checksums; these shapes pin its
    # decision boundary (false negatives would stop the loop early with
    # wrong labels, false positives would only waste a round).
    from redpanda_spark.dedup.cluster import _is_star_forest

    def frame(edges):
        return spark.createDataFrame([Row(u=u, v=v) for u, v in edges])

    # two min-rooted stars: fixpoint
    assert _is_star_forest(frame([(3, 1), (2, 1), (9, 7)]))
    # out-degree 2 (3 points at both 1 and 2): one more round merges
    assert not _is_star_forest(frame([(3, 1), (3, 2)]))
    # chain (2 is target and source): not a fixpoint
    assert not _is_star_forest(frame([(3, 2), (2, 1)]))


def test_connected_components_stops_on_converged_star_forest(spark):
    # an already-star-forest input must converge on round 1 and keep the
    # same labels as union-find (early stop returns the identical edge
    # set the old checksum probe returned one round later)
    edges = [(3, 1), (2, 1), (9, 7), (20, 5)]
    got = _cc_spark(spark, edges)
    assert got == _cc_brute(edges)


def test_connected_components_raises_on_round_exhaustion(spark):
    import pytest

    from redpanda_spark.dedup.cluster import connected_components

    edges = spark.createDataFrame(
        [Row(id_a=i, id_b=i + 1) for i in range(16)]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_rounds=1)
    # ample rounds: same graph resolves fine
    out = connected_components(edges, max_rounds=25)
    assert {r["component"] for r in out.collect()} == {0}


def test_banded_hamming_max_bucket_caps_degenerate_corpus(spark):
    """Skew valve: 1k byte-identical items land every copy in every band
    bucket (an O(n^2) fan-out in one task without the cap). With
    max_bucket set, the degenerate buckets are dropped — the join
    completes within the cap and still finds pairs that co-occur in an
    under-cap bucket."""
    from redpanda_spark.dedup.simhash import hash_near_dup_pairs

    n = 1000
    rows = [Row(id=i, h=0x0F0F0F0F0F0F0F0) for i in range(n)]
    # two distinct near-dup singletons (1 bit apart) outside the hot value
    rows += [Row(id=n, h=0x123456789ABCDE0), Row(id=n + 1, h=0x123456789ABCDE1)]
    hashes = spark.createDataFrame(rows)
    out = hash_near_dup_pairs(
        hashes, hash_col="h", max_hamming=3, max_bucket=100
    ).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in out}
    # degenerate cluster contributes no pairs (every one of its buckets
    # is over the cap) — exact dups are upstream exact-dedup's job
    assert pairs == {(n, n + 1)}

    # cap off on a small identical set: full C(n,2) pigeonhole recall
    small = spark.createDataFrame([Row(id=i, h=99) for i in range(6)])
    full = hash_near_dup_pairs(small, hash_col="h", max_hamming=3).collect()
    assert len(full) == 15 and all(r["hamming"] == 0 for r in full)


def test_ivf_centroid_fit_partition_invariant(spark, sf_dir):
    """fit_ivf_centroids must yield identical centroids under any physical
    partitioning (content-hash sample, not df.sample — the round-6 PQ
    lesson applied to the IVF fit; a layout change must not be able to
    shift centroids and flip a recall-floor gate)."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    a = fit_ivf_centroids(emb, n_cells=8)
    b = fit_ivf_centroids(emb.repartition(7), n_cells=8)
    c = fit_ivf_centroids(emb.coalesce(1), n_cells=8)
    assert np.allclose(a, b) and np.allclose(a, c)


def test_pq_adc_recall_and_determinism(spark, sf_dir):
    """PQ codes: deterministic under repartitioning (id-hash sample, not
    df.sample), and the ADC shortlist at 5x overfetch captures most of
    the exact top-10 on the real embeddings table."""
    import numpy as np

    from redpanda_spark.functions.vectors import as_double
    from redpanda_spark.similarity.pq import (
        fit_pq_codebooks,
        pq_adc_topk,
        pq_encode,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    b1 = fit_pq_codebooks(emb)
    b2 = fit_pq_codebooks(emb.repartition(7))
    assert np.allclose(b1, b2)  # partitioning-independent fit

    q = np.array(
        emb.where(F.col("vec_id") == 3)
        .select(as_double("embedding").alias("v"))
        .collect()[0]["v"]
    )
    codes = pq_encode(emb, b1)
    short = [r["vec_id"] for r in pq_adc_topk(codes, q, b1, k=50).collect()]
    assert len(short) == 50 and short[0] == 3  # self is nearest at dist ~0

    qlit = F.array(*[F.lit(float(x)) for x in q])
    dist = F.aggregate(
        F.zip_with(as_double("embedding"), qlit, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    exact = [
        r["vec_id"]
        for r in emb.select("vec_id", dist.alias("d"))
        .orderBy("d", "vec_id")
        .limit(10)
        .collect()
    ]
    recall = sum(1 for i in exact if i in set(short)) / 10.0
    assert recall >= 0.5, recall


def test_bm25_ranking_semantics(spark):
    """BM25 basics on a hand-checkable corpus: rarer terms weigh more,
    higher tf wins within a term, score-less docs are excluded, ranks are
    dense and deterministically tie-broken."""
    import math

    from redpanda_spark.similarity.bm25 import bm25_topk

    docs = spark.createDataFrame(
        [
            Row(doc_id=0, text="apple banana apple"),     # tf(apple)=2
            Row(doc_id=1, text="apple cherry cherry"),    # rare cherry x2
            Row(doc_id=2, text="banana banana banana"),
            Row(doc_id=3, text="kiwi kiwi kiwi"),         # no query terms
            Row(doc_id=4, text="apple"),                  # tf=1, short doc
        ]
    )
    out = bm25_topk(docs, ["apple", "cherry"], k=10).collect()
    ids = [r["doc_id"] for r in out]
    assert 3 not in ids and 2 not in ids  # score 0 -> excluded
    assert [r["rank"] for r in out] == list(range(1, len(out) + 1))
    by_id = {r["doc_id"]: float(r["score"]) for r in out}
    # doc1 holds the only cherry occurrences (df=1 of 5) -> top score
    assert ids[0] == 1
    # doc0 (tf(apple)=2) outscores doc4 only if length norm doesn't kill
    # it; both beat nothing else — just check they're present and positive
    assert by_id[0] > 0 and by_id[4] > 0
    # hand-computed check for doc4: dl=1, tf=1
    N, df_apple = 5.0, 3.0
    avgdl = (3 + 3 + 3 + 3 + 1) / 5.0
    idf = math.log(1.0 + (N - df_apple + 0.5) / (df_apple + 0.5))
    expect = round(
        round(idf * 1.0 * 2.2 / (1.0 + 1.2 * (1 - 0.75 + 0.75 * 1.0 / avgdl)), 9),
        6,
    )
    assert abs(by_id[4] - expect) < 1e-9


def test_bm25_topk_truncates_and_orders(spark, sf_dir):
    from redpanda_spark.similarity.bm25 import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    out = bm25_topk(docs, ["hash", "join"], k=5).collect()
    assert len(out) == 5
    scores = [float(r["score"]) for r in out]
    assert scores == sorted(scores, reverse=True)
    assert [r["rank"] for r in out] == [1, 2, 3, 4, 5]


def test_minhash_kernel_paths_identical():
    """The signature kernel has two memory regimes (one-shot (k,S) matrix
    vs per-k segmented passes, minhash._doc_min_signatures); both must produce the
    exact minima the scatter-free layout promises. Pure-numpy check so the
    long-document fallback (never hit at test SF) is still exercised."""
    import numpy as np

    from redpanda_spark.dedup.minhash import _splitmix64
    from redpanda_spark.functions.hashes import murmur2

    rng = np.random.default_rng(42)
    num_hashes = 16
    seeds = _splitmix64(np.arange(1, num_hashes + 1, dtype=np.uint64))
    counts = rng.integers(1, 40, size=50)
    shingles = [
        f"tok{rng.integers(0, 500)} tok{rng.integers(0, 500)}".encode()
        for _ in range(int(counts.sum()))
    ]
    base = np.array([murmur2(sh) for sh in shingles], dtype=np.uint64)
    starts = np.zeros(len(counts), dtype=np.int64)
    np.cumsum(counts[:-1], out=starts[1:])

    one_shot = np.minimum.reduceat(
        _splitmix64(base[None, :] ^ seeds[:, None]), starts, axis=1
    )
    per_k = np.stack(
        [
            np.minimum.reduceat(_splitmix64(base ^ seeds[k]), starts)
            for k in range(num_hashes)
        ]
    )
    # and both must equal the reference scatter (the pre-optimization shape)
    scatter = np.full(
        (num_hashes, len(counts)), np.iinfo(np.uint64).max, dtype=np.uint64
    )
    idx = np.repeat(np.arange(len(counts)), counts)
    for k in range(num_hashes):
        np.minimum.at(scatter[k], idx, _splitmix64(base ^ seeds[k]))
    assert np.array_equal(one_shot, per_k)
    assert np.array_equal(one_shot, scatter)


def test_lsh_near_dup_pairs_matches_pairwise_cosine(spark):
    """r13 norm hoisting: the LSH verify now scores dot/(na*nb) with per-row
    norms computed before banding; the pair set and 6dp scores must equal the
    per-pair cosine() formulation it replaced."""
    import numpy as np

    from redpanda_spark.dedup.embedding import lsh_near_dup_pairs
    from redpanda_spark.functions.vectors import cosine

    emb = _planted_corpus(spark)
    rng = np.random.default_rng(7)
    planes = rng.normal(size=(16, 8)).tolist()
    got = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in lsh_near_dup_pairs(emb, planes, threshold=0.9, band_bits=8).collect()
    }
    # reference scores: per-pair cosine() over the full cross product (the
    # pre-hoist formulation), same 6dp rounding, same threshold
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    ref = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", F.round(cosine(F.col("va"), F.col("vb")), 6))
        .where(F.col("cos") >= 0.9)
        .collect()
    }
    # every LSH-surfaced pair carries the bit-identical rounded cosine
    assert got
    for pair, c in got.items():
        assert ref[pair] == c
    # exact copies sketch identically -> collide in every band -> always found
    for j in range(3):
        assert got[(j, 100 + j)] == 1.0


def test_cosine_pairs_exact_matches_pairwise_cosine(spark):
    """r13: cosine_pairs_exact scores dot/(na*nb) with per-side norm columns
    (the oracle's own formula) instead of normalize-then-dot with the norm
    fold re-evaluated per element inside the transform lambda. Pair set and
    6dp scores must equal the per-pair cosine() reference."""
    from redpanda_spark.dedup.embedding import cosine_pairs_exact
    from redpanda_spark.functions.vectors import cosine

    emb = _planted_corpus(spark)
    got = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in cosine_pairs_exact(emb, threshold=0.9).collect()
    }
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    ref = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", F.round(cosine(F.col("va"), F.col("vb")), 6))
        .where(F.col("cos") >= 0.9)
        .collect()
    }
    assert got == ref
    # planted exact copies score 1.0
    for j in range(3):
        assert got[(j, 100 + j)] == 1.0


def test_simhash_md5_kernel_matches_expression(spark):
    """The Arrow md5-48 simhash kernel must be bit-exact with the
    expression form (simhash(bits=48, token_hash=md5_hash48)) on
    adversarial shapes — NULL, empty, Java-\\s-only whitespace, NBSP/
    unicode tokens (Java \\s is ASCII-only; Python's is not), ties,
    long docs — and simhash_near_dups (kernel) must emit the same pair set
    as the banded join over the expression fingerprints."""
    from redpanda_spark.dedup.simhash import (
        N_BANDS, hash_near_dup_pairs, md5_hash48, simhash, simhash48_md5_kernel,
    )
    rows = [
        (1, None), (2, ""), (3, " \t\n\x0b\f\r "), (4, "one"),
        (5, "a\xa0b c"), (6, "héllo wörld"), (7, "的 是 的"),
        (8, "x " * 500), (9, "a b a b a b"), (10, "MiXeD Case MIXED case"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    expr = simhash(F.col("text"), bits=48, token_hash=md5_hash48)
    kern = simhash48_md5_kernel(F.col("text"))
    bad = (
        df.select("doc_id", expr.alias("a"), kern.alias("b"))
        .where(~(F.col("a").eqNullSafe(F.col("b"))))
        .collect()
    )
    assert not bad, bad

    base = ("spark structured streaming processes records with exactly "
            "once semantics using checkpoints for recovery")
    docs = docs_df(spark, [base, base.replace("records", "events"),
                           "totally unrelated short text"])
    sh = docs.select(
        F.col("doc_id").alias("id"),
        simhash(F.col("text"), bits=48, token_hash=md5_hash48).alias("sh"),
    )
    a = hash_near_dup_pairs(
        sh, hash_col="sh", max_hamming=12, bits=48, n_bands=N_BANDS
    )
    b = simhash_near_dups(docs, max_hamming=12, bits=48, token_hash=md5_hash48)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_minhash_signature_arrow_matches_python(spark, sf_dir):
    """The vectorized Arrow signature kernel (mapInArrow, zero per-doc
    Python, non-dedup'd shingles — min over a multiset equals min over
    its set) must be BIT-identical to a per-doc reference (str.split,
    shingle set, scalar murmur2) on adversarial shapes (NULL, empty,
    whitespace-only, bidi-class control whitespace \\x1c, NBSP/unicode,
    shorter-than-n, repeats, long) and on a real corpus slice, at several
    (num_hashes, shingle_n) shapes, and with an id column whose name
    needs quoting."""
    import numpy as np

    from redpanda_spark.dedup.minhash import (
        _doc_min_signatures, _splitmix64, minhash_signature,
    )
    from redpanda_spark.functions.hashes import murmur2

    def reference(text, num_hashes, shingle_n):
        toks = text.split() if text else []
        n = max(len(toks) - shingle_n + 1, 1)
        sh = {" ".join(toks[i : i + shingle_n]) for i in range(n)}
        base = np.array([murmur2(s.encode()) for s in sh], dtype=np.uint64)
        seeds = _splitmix64(np.arange(1, num_hashes + 1, dtype=np.uint64))
        acc = _doc_min_signatures(base, np.zeros(1, np.int64), seeds, 1)
        return [int(v) for v in (acc[:, 0] >> np.uint64(1))]

    rows = [
        (1, None), (2, ""), (3, " \t\n\x0b\f\r "), (4, "one"),
        (5, "one two"), (6, "a\x1cb c d"), (7, "a\xa0b c d"),
        (8, "héllo wörld ünïcode shingles"), (9, "x " * 500),
        (10, "same same same same same"), (11, " lead mid trail "),
    ]
    adv = spark.createDataFrame(rows, "doc_id int, text string")
    corpus = load_table(spark, sf_dir, "documents").limit(300)
    quoted = adv.withColumnRenamed("doc_id", "doc id")
    for df, id_col in ((adv, "doc_id"), (corpus, "doc_id"), (quoted, "doc id")):
        for num_hashes, shingle_n in ((32, 3), (8, 2)):
            kw = dict(id_col=id_col, num_hashes=num_hashes, shingle_n=shingle_n)
            got = minhash_signature(df, **kw).collect()
            want = {
                r[id_col]: reference(r["text"], num_hashes, shingle_n)
                for r in df.select(id_col, "text").collect()
            }
            assert sorted(r[id_col] for r in got) == sorted(want)
            assert {r[id_col]: r["sig"] for r in got} == want, (num_hashes, shingle_n)
