"""Scalar-kernel tests: murmur2 byte-compat, text analysis, vector math."""

from __future__ import annotations

import math

from pyspark.sql import Row
from pyspark.sql import functions as F

from redpanda_spark.functions import text as TXT
from redpanda_spark.functions.hashes import murmur2, murmur2_partition, murmur2_partition_udf
from redpanda_spark.functions.vectors import as_double, cosine, dot


# Golden values from Apache Kafka's Utils.murmur2 (public test vectors:
# kafka clients ConsumerRecordTest / Utils murmur2 of well-known strings).
KAFKA_MURMUR2_GOLDEN = {
    b"21": -973932308 & 0xFFFFFFFF,
    b"foobar": -790332482 & 0xFFFFFFFF,
    b"a-little-bit-long-string": -985981536 & 0xFFFFFFFF,
    b"a-little-bit-longer-string": -1486304829 & 0xFFFFFFFF,
    b"lkjh234lh9fiuh90y23oiuhsafujhadof229phr9h19h89h8": -58897971 & 0xFFFFFFFF,
}


def test_murmur2_kafka_golden_vectors():
    for k, expected in KAFKA_MURMUR2_GOLDEN.items():
        assert murmur2(k) == expected, k


def test_murmur2_partition_range():
    for key in [b"", b"x", b"hello", bytes(range(256))]:
        p = murmur2_partition(key, 12)
        assert 0 <= p < 12


def test_murmur2_udf_matches_python(spark):
    # one batch of more keys than murmur2_flat's _SCALAR_LIVE_KEYS runs the
    # vectorized rounds; the 300-byte key is among the last live keys,
    # which the scalar chunk fold finishes
    keys = [b"foobar", b"21", b"abc", None, b"\x00\x01\x02", bytes(range(256)) + b"k" * 44]
    keys += [b"key-%d" % i for i in range(40)]
    df = spark.createDataFrame([Row(key=k) for k in keys]).coalesce(1)
    out = df.select(murmur2_partition_udf(16)(F.col("key")).alias("p")).collect()
    for k, r in zip(keys, out):
        expected = -1 if k is None else murmur2_partition(k, 16)
        assert r["p"] == expected


def test_token_count_and_ratios(spark):
    df = spark.createDataFrame([Row(text="The cat, and the dog!"), Row(text="   "), Row(text="")])
    out = df.select(
        TXT.token_count("text").alias("n"),
        F.round(TXT.stopword_ratio("text"), 4).alias("sw"),
        F.round(TXT.punct_ratio("text"), 4).alias("p"),
    ).collect()
    assert out[0]["n"] == 5
    assert out[0]["sw"] == 0.6  # 'The', 'and', 'the' of 5 (case-insensitive)
    assert out[0]["p"] == round(2 / 21, 4)
    assert out[1]["n"] == 0 and out[2]["n"] == 0


def test_bpe_token_count(spark):
    df = spark.createDataFrame([Row(text="hello world42!")])
    # hello, world, 42, ! → 4
    assert df.select(TXT.bpe_token_count("text").alias("n")).collect()[0]["n"] == 4


def test_lang_id(spark):
    df = spark.createDataFrame(
        [
            Row(text="the cat and the dog is in that house"),
            Row(text="der hund und die katze ist nicht da"),
            Row(text="le chat et la maison est une belle"),
            Row(text="xyzzy qwerty plugh"),
        ]
    )
    out = [r["l"] for r in df.select(TXT.lang_id("text").alias("l")).collect()]
    assert out[0] == "en"
    assert out[1] == "de"
    assert out[2] == "fr"
    assert out[3] == "und"


def test_fingerprint_order_sensitive(spark):
    df = spark.createDataFrame([Row(text="a b c"), Row(text="c b a"), Row(text="a b c")])
    out = [r["fp"] for r in df.select(TXT.fingerprint("text").alias("fp")).collect()]
    assert out[0] == out[2]
    assert out[0] != out[1]


def test_word_shingles(spark):
    df = spark.createDataFrame([Row(text="a b c d"), Row(text="a b")])
    out = df.select(TXT.word_shingles("text", 3).alias("sh")).collect()
    assert out[0]["sh"] == ["a b c", "b c d"]
    assert out[1]["sh"] == ["a b"]  # shorter than n → whole doc as one shingle


def test_vector_math(spark):
    df = spark.createDataFrame([Row(a=[1.0, 2.0, 3.0], b=[4.0, 5.0, 6.0])])
    r = df.select(
        dot(F.col("a"), F.col("b")).alias("d"),
        cosine(F.col("a"), F.col("b")).alias("c"),
    ).collect()[0]
    assert r["d"] == 32.0
    expected = 32.0 / (math.sqrt(14) * math.sqrt(77))
    assert abs(r["c"] - expected) < 1e-12


def test_repetition_metrics_known_values(spark):
    """Gopher repetition signals against hand-computed fractions."""
    from redpanda_spark.functions.text import repetition_metrics

    # toks: [a b a b a c] -> 6 tokens, 3 distinct -> dup_token = 0.5
    # 2-grams: "a b","b a","a b","b a","a c" -> top "a b" 2/5 = 0.4
    df = spark.createDataFrame([("a b a b a c",)], "text string")
    m = repetition_metrics("text")
    r = df.select(
        F.round(m["dup_token_frac"], 6).alias("dt"),
        F.round(m["top_2gram_frac"], 6).alias("t2"),
        F.round(m["dup_5gram_frac"], 6).alias("d5"),
    ).first()
    assert r["dt"] == 0.5
    assert r["t2"] == 0.4
    assert r["d5"] == 0.0  # both 5-grams ("a b a b a","b a b a c") unique

    # fully repeated: every 5-gram identical -> dup_5gram_frac = 1.0
    df2 = spark.createDataFrame([("x x x x x x x x",)], "text string")
    r2 = df2.select(F.round(m["dup_5gram_frac"], 6).alias("d5"),
                    F.round(m["top_2gram_frac"], 6).alias("t2")).first()
    assert r2["d5"] == 1.0 and r2["t2"] == 1.0


def test_quality_classifier_train_and_serve(spark):
    """Train logistic regression on separable token classes; serving the
    learned weights through the pure-expression scorer must separate the
    classes (train with ml, serve as JVM expression — no UDF)."""
    import random

    from redpanda_spark.functions.classifier import (
        linear_score,
        train_quality_classifier,
    )

    rng = random.Random(5)
    good_vocab = [f"good{i}" for i in range(30)]
    bad_vocab = [f"bad{i}" for i in range(30)]
    rows = []
    for i in range(200):
        vocab = good_vocab if i % 2 == 0 else bad_vocab
        text = " ".join(rng.choice(vocab) for _ in range(25))
        rows.append((i, text, i % 2 == 0))
    df = spark.createDataFrame(rows, "id long, text string, label boolean")
    weights, bias = train_quality_classifier(df, dim=64)
    assert len(weights) == 64

    scored = df.select(
        "label", linear_score("text", weights, bias).alias("s")
    ).collect()
    good = [r["s"] for r in scored if r["label"]]
    bad = [r["s"] for r in scored if not r["label"]]
    assert min(good) > max(bad)  # fully separable vocab -> clean margin
    # no Python stage in the serving plan
    plan = (
        df.select(linear_score("text", weights, bias))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Python" not in plan and "BatchEval" not in plan


def test_linear_score_matches_manual_fold(spark):
    import hashlib

    from redpanda_spark.functions.classifier import linear_score

    w = [float(i) for i in range(8)]
    text = "alpha beta gamma"
    exp = sum(
        w[int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % 8]
        for t in text.split()
    ) / 3.0
    got = (
        spark.createDataFrame([(text,)], "text string")
        .select(linear_score("text", w).alias("s"))
        .collect()[0]["s"]
    )
    assert abs(got - round(exp, 6)) < 1e-9


# -- BPE tokenizer training -------------------------------------------------


def _bpe_reference(texts, n_merges):
    """Pure-Python Sennrich BPE on a word-frequency dict."""
    from collections import Counter

    wf = Counter(w for t in texts for w in t.split() if w)
    sym = {w: [*w[:-1], w[-1] + "</w>"] for w in wf}
    merges = []
    for _ in range(n_merges):
        pc = Counter()
        for w, f in wf.items():
            s = sym[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += f
        if not pc:
            break
        # deterministic: max count, then lexicographically smallest (a, b)
        top = max(pc.values())
        best = min(p for p, c in pc.items() if c == top)
        merges.append((best[0], best[1], pc[best]))
        a, b = best
        for w in sym:
            s, out, i = sym[w], [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            sym[w] = out
    return merges, sym


def test_bpe_train_matches_pure_python_reference(spark):
    from pyspark.sql import Row

    from redpanda_spark.functions.bpe import train_bpe

    texts = [
        "low low low low low lower lower newest newest newest",
        "newest newest newest widest widest widest",
        "the quick brown fox the quick brown the quick the",
    ]
    docs = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in enumerate(texts)])
    got = train_bpe(docs, 10)
    want, _ = _bpe_reference(texts, 10)
    assert got == want


def test_bpe_encode_applies_merges_in_rank_order(spark):
    from pyspark.sql import Row

    from redpanda_spark.functions.bpe import encode_bpe, train_bpe

    texts = ["low lower lowest low low", "newest widest lowest newest"]
    docs = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in enumerate(texts)])
    merges = train_bpe(docs, 6)
    _, sym = _bpe_reference(texts, 6)
    want = [sum(len(sym[w]) for w in t.split()) for t in texts]
    got = [
        r["bpe_tokens"]
        for r in encode_bpe(docs, merges).orderBy("doc_id").collect()
    ]
    assert got == want


def test_bpe_greedy_fold_left_to_right(spark):
    # "aaa" with merge (a,a): left-to-right greedy -> [aa, a</w>]
    from pyspark.sql import Row

    from redpanda_spark.functions.bpe import encode_bpe

    docs = spark.createDataFrame([Row(doc_id=0, text="aaaa")])
    out = encode_bpe(docs, [("a", "a", 1)]).collect()[0]["bpe_tokens"]
    # symbols [a, a, a, a</w>]; greedy left-to-right fold gives
    # [aa, a, a</w>] — the merged "aa" must NOT re-merge with the next "a"
    assert out == 3


# -- n-gram LM perplexity ---------------------------------------------------


def test_bigram_lm_probabilities_and_scoring(spark):
    import math

    from pyspark.sql import Row

    from redpanda_spark.functions.lm import score_perplexity, train_bigram_lm

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="a b a b"),
            Row(doc_id=2, text="a b a c"),
        ]
    )
    lm = {(r["w1"], r["w2"]): r["p"] for r in train_bigram_lm(docs).collect()}
    # corpus bigrams: (a,b)x3 (b,a)x2 (a,c)x1; vocab = {a,b,c} -> V=3
    assert math.isclose(lm[("a", "b")], (3 + 1) / (4 + 3))
    assert math.isclose(lm[("b", "a")], (2 + 1) / (2 + 3))
    assert math.isclose(lm[("a", "c")], (1 + 1) / (4 + 3))

    scored = {
        r["doc_id"]: r
        for r in score_perplexity(docs, train_bigram_lm(docs)).collect()
    }
    assert scored[1]["n_bigrams"] == 3 and scored[2]["n_bigrams"] == 3
    # doc 1 repeats the dominant pattern -> lower cross-entropy
    assert scored[1]["cross_entropy"] < scored[2]["cross_entropy"]
    want1 = round(
        sum(round(-math.log(p), 9) for p in
            (lm[("a", "b")], lm[("b", "a")], lm[("a", "b")])) / 3, 6)
    assert abs(scored[1]["cross_entropy"] - want1) < 1e-9


def test_lm_scoring_oov_policy(spark):
    import math

    from pyspark.sql import Row

    from redpanda_spark.functions.lm import score_perplexity, train_bigram_lm

    train = spark.createDataFrame([Row(doc_id=1, text="a b a b")])
    lm = train_bigram_lm(train)
    new = spark.createDataFrame([Row(doc_id=9, text="a b z q")])  # (b,z),(z,q) OOV
    skip = score_perplexity(new, lm).collect()[0]
    assert skip["n_bigrams"] == 3 and skip["n_oov"] == 2
    # skip policy: only the known (a,b) term contributes
    p_ab = {(r["w1"], r["w2"]): r["p"] for r in lm.collect()}[("a", "b")]
    assert abs(skip["cross_entropy"] - round(round(-math.log(p_ab), 9), 6)) < 1e-9
    # floor policy: OOV bigrams charged the unseen mass
    floor = score_perplexity(new, lm, oov_p=0.01).collect()[0]
    want = round(
        (round(-math.log(p_ab), 9) + 2 * round(-math.log(0.01), 9)) / 3, 6
    )
    assert abs(floor["cross_entropy"] - want) < 1e-9
    assert floor["cross_entropy"] > skip["cross_entropy"]


def test_bpe_train_on_testdata_corpus_matches_reference(spark, sf_dir):
    """bpe_train's driver gate row is rows-only (iterative algorithm);
    this pins the trained merges value-for-value on the real documents
    table against the sequential reference."""
    from redpanda_spark.functions.bpe import train_bpe
    from redpanda_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    texts = [r["text"] for r in docs.select("text").collect()]
    assert train_bpe(docs, 8) == _bpe_reference(texts, 8)[0]


def test_word_shingles_zipwith_matches_index_formulation(spark):
    """r13: word_shingles is built from zip_with over shifted token views
    (operands evaluated once per row) instead of transform-over-indexes
    (whose lambda re-ran the tokenizing split per element). The output must
    equal the index formulation on every shape: empty, whitespace-only,
    shorter than n, exactly n, repeats, multi-space separators."""
    rows = [
        ("",), ("   ",), ("one",), ("a b",), ("a b c",), ("a b c d e",),
        ("x x x x x x",), ("a  b\tc   d",), ("a b a b a c",),
        (" lead and trail  ",),
    ]
    df = spark.createDataFrame(rows, "text string")

    def index_shingles(col, n):
        toks = TXT.tokens(col)
        idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - F.lit(n), F.lit(0)))
        return F.when(F.size(toks) < n, F.array(F.array_join(toks, " "))).otherwise(
            F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " "))
        )

    for n in (2, 3, 5):
        got = df.select(TXT.word_shingles("text", n).alias("s")).collect()
        want = df.select(index_shingles(F.col("text"), n).alias("s")).collect()
        assert [r["s"] for r in got] == [r["s"] for r in want], f"n={n}"


def test_repetition_kernel_matches_expression(spark):
    """The Arrow repetition kernel (repetition_metrics) must equal the
    pure-expression fold form metric-for-metric at 6dp on every
    in-contract shape: ≥1 token (0-token docs are outside the documented
    contract — both forms ANSI-divide-by-zero there), NULL text, unicode
    and NBSP tokens (Java \\s is ASCII-only), ties, heavy repeats."""
    rows = [
        (None,), ("a",), ("a b",), ("a b c d",), ("a a a a a",),
        ("x y x y x y x y",), ("p q r s t u v w p q r s t",),
        ("a\xa0b a\xa0b c d e f",), ("héllo wörld héllo wörld one",),
        ("的 是 的 是 的 不",), ("a  b\tc \n d e f g a b",),
        ("one " * 200,), ("w1 w2 w3 w4 w5 w6 w7 w8 w1 w2 w3 w4 w5",),
    ]
    df = spark.createDataFrame(rows, "text string")

    def cols(metrics):
        m = metrics("text")
        return [
            F.round(m["dup_token_frac"], 6).alias("dt"),
            F.round(m["top_2gram_frac"], 6).alias("t2"),
            F.round(m["dup_5gram_frac"], 6).alias("d5"),
        ]

    got = df.select(*cols(TXT.repetition_metrics)).collect()
    want = df.select(*cols(TXT._repetition_metrics_expr)).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_repetition_kernel_single_arrow_eval(spark):
    """All three metric columns share ONE kernel invocation: the plan must
    contain exactly one ArrowEvalPython node (the planner dedups the
    shared PythonUDF expression instance)."""
    df = spark.createDataFrame([("a b c d e f",)], "text string")
    m = TXT.repetition_metrics("text")
    plan = (
        df.select(*[v.alias(k) for k, v in m.items()])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("ArrowEvalPython") == 1


def test_murmur2_flat_matches_scalar():
    """murmur2_flat (Arrow-layout flat buffer + offsets, zero per-key
    Python) must be bit-identical to the scalar reference across lengths
    0..70, all byte values, and multi-KB keys."""
    import random

    import numpy as np
    import pyarrow as pa

    from redpanda_spark.functions.hashes import (
        murmur2_flat,
        string_array_bytes_offsets,
    )

    random.seed(11)
    keys = [b"", b"a", bytes(range(256))]
    keys += [
        bytes(random.randrange(256) for _ in range(random.randrange(0, 70)))
        for _ in range(400)
    ]
    keys += [
        bytes(random.randrange(256) for _ in range(random.randrange(1500, 4000)))
        for _ in range(3)
    ]
    data, off = string_array_bytes_offsets(pa.array(keys, type=pa.binary()))
    got = murmur2_flat(data, off)
    want = np.array([murmur2(k) for k in keys], dtype=np.uint32)
    assert (got == want).all()
    # empty input
    assert murmur2_flat(np.zeros(0, np.uint8), np.zeros(1, np.int64)).size == 0


def test_murmur2_flat_long_keys_stay_vectorized(monkeypatch):
    """A batch of many keys over 256 B runs the vectorized rounds: only the
    last ``_SCALAR_LIVE_KEYS`` live keys reach the per-key scalar fold, so
    no input length turns the kernel into one Python call per key."""
    import random

    import numpy as np
    import pyarrow as pa

    from redpanda_spark.functions import hashes

    random.seed(12)
    keys = [
        bytes(random.randrange(256) for _ in range(random.randrange(300, 420)))
        for _ in range(500)
    ]
    want = np.array([murmur2(k) for k in keys], dtype=np.uint32)
    calls = []
    fold = hashes._mix_chunks

    def counted_fold(h, data):
        calls.append(len(data))
        return fold(h, data)

    monkeypatch.setattr(hashes, "_mix_chunks", counted_fold)
    got = hashes.murmur2_flat(
        *hashes.string_array_bytes_offsets(pa.array(keys, type=pa.binary()))
    )
    assert (got == want).all()
    assert 0 < len(calls) <= hashes._SCALAR_LIVE_KEYS
