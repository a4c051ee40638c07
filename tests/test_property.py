"""Property-based verification (hypothesis) — the randomized-workload
analog of the reference's kgo-verifier / compat corpus (SURVEY.md §5).

Pure-Python kernels (murmur2, ACL algebra, assignors) get hundreds of
random examples; Spark operators (compaction, idempotent dedup) replay a
handful of random workloads against an in-Python reference model.
"""

from __future__ import annotations

import pyarrow as pa
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from redpanda_spark.functions.hashes import (
    murmur2,
    murmur2_flat,
    string_array_bytes_offsets,
)
from redpanda_spark.operators.coordinator import range_assign, roundrobin_assign
from redpanda_spark.security import AclBinding, AclStore

# -- murmur2: vectorized flat kernel ≡ scalar reference -------------------


# up to 80 keys of 0-40 B and 200-600 B: lists longer than
# murmur2_flat's _SCALAR_LIVE_KEYS hand their last live keys to the scalar
# chunk fold mid-key, shorter ones fold every key in scalar
@given(
    st.lists(
        st.one_of(st.binary(max_size=40), st.binary(min_size=200, max_size=600)),
        max_size=80,
    )
)
@settings(max_examples=200)
def test_murmur2_flat_matches_scalar(keys):
    out = murmur2_flat(*string_array_bytes_offsets(pa.array(keys, type=pa.binary())))
    assert [int(h) for h in out] == [murmur2(k) for k in keys]


# -- ACL algebra: store ≡ brute-force model -------------------------------

_principals = st.sampled_from(["User:a", "User:b", "*"])
_ops = st.sampled_from(["read", "write", "describe", "all"])
_names = st.sampled_from(["t1", "t2", "logs-x", "*"])
_patterns = st.sampled_from(["literal", "prefixed"])
_perms = st.sampled_from(["allow", "deny"])

_binding = st.builds(
    AclBinding,
    principal=_principals,
    resource_type=st.just("topic"),
    resource_name=_names,
    pattern_type=_patterns,
    operation=_ops,
    permission=_perms,
)


@given(
    st.lists(_binding, max_size=8),
    st.sampled_from(["User:a", "User:b"]),
    st.sampled_from(["read", "write", "describe"]),
    st.sampled_from(["t1", "t2", "logs-x", "logs-xyz"]),
)
@settings(max_examples=200)
def test_acl_matches_model(bindings, principal, op, resource):
    store = AclStore()
    for b in bindings:
        store.create(b)

    def model_match(b, ops):
        if b.principal not in ("*", principal):
            return False
        if b.operation not in ops:
            return False
        if b.pattern_type == "literal":
            return b.resource_name in ("*", resource)
        return resource.startswith(b.resource_name)

    # Kafka algebra (round 8): DENY matches the literal op (or ALL);
    # ALLOW additionally matches via implication — READ/WRITE/DELETE/
    # ALTER imply DESCRIBE.
    deny_ops = {"all", op}
    allow_ops = (
        {"all", "describe", "read", "write", "delete", "alter"}
        if op == "describe"
        else deny_ops
    )
    denied = any(
        b.permission == "deny" and model_match(b, deny_ops) for b in bindings
    )
    allowed = any(
        b.permission == "allow" and model_match(b, allow_ops) for b in bindings
    )
    expect = not denied and allowed
    assert store.authorize(principal, op, "topic", resource) == expect


# -- assignors: disjoint full cover, subscription-respecting --------------

_subs = st.dictionaries(
    st.sampled_from(["m1", "m2", "m3"]),
    st.lists(st.sampled_from(["t1", "t2"]), min_size=1, max_size=2, unique=True),
    min_size=1,
    max_size=3,
)
_tps = st.dictionaries(
    st.sampled_from(["t1", "t2"]), st.integers(min_value=1, max_value=7),
    min_size=2, max_size=2,
)


@given(_subs, _tps, st.sampled_from([range_assign, roundrobin_assign]))
@settings(max_examples=200)
def test_assignors_disjoint_cover(members, tps, assignor):
    out = assignor(members, tps)
    for topic, n in tps.items():
        subs = [m for m, ts in members.items() if topic in ts]
        owned = sorted(
            p for m in out for t, ps in out[m].items() if t == topic for p in ps
        )
        if subs:
            assert owned == list(range(n))  # full disjoint cover
        else:
            assert owned == []
    for m, assignment in out.items():
        assert set(assignment) <= set(members[m])  # only subscribed topics


# -- compaction: keep-latest ≡ dict replay (Spark, few examples) ----------

_records = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),          # partition
        st.sampled_from(["k1", "k2", "k3", "k4"]),      # key
        st.one_of(st.none(), st.integers(0, 100)),      # value (None=tombstone)
    ),
    min_size=1,
    max_size=25,
)


@given(_records)
@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
def test_compaction_matches_replay(spark, records):
    from pyspark.sql import Row

    from redpanda_spark.operators.compaction import compact_keep_latest

    rows, off = [], {}
    for p, k, v in records:
        o = off[p] = off.get(p, -1) + 1
        rows.append(Row(partition=p, offset=o, key=k, value=v))
    df = spark.createDataFrame(rows, "partition int, offset long, key string, value int")
    got = {
        (r["partition"], r["key"]): (r["offset"], r["value"])
        for r in compact_keep_latest(df, ["partition", "key"]).collect()
    }
    # replay model: latest offset per (partition, key) wins
    model, off = {}, {}
    for p, k, v in records:
        o = off[p] = off.get(p, -1) + 1
        model[(p, k)] = (o, v)
    assert got == model


# -- idempotent dedup (batch): one survivor per (pid, epoch, seq) ---------

_prod_records = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=2),   # producer_id
        st.integers(min_value=0, max_value=1),   # epoch
        st.integers(min_value=0, max_value=5),   # seq
    ),
    min_size=1,
    max_size=25,
)


@given(_prod_records)
@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
def test_idempotent_dedup_matches_model(spark, recs):
    from pyspark.sql import Row

    from redpanda_spark.operators.transactions import idempotent_dedup

    rows = [
        Row(partition=0, offset=i, producer_id=p, producer_epoch=e, base_sequence=s)
        for i, (p, e, s) in enumerate(recs)
    ]
    df = spark.createDataFrame(
        rows,
        "partition int, offset long, producer_id long, producer_epoch int,"
        " base_sequence long",
    )
    out = idempotent_dedup(df).collect()
    # exactly one survivor per distinct (pid, epoch, seq), and it's the first
    firsts = {}
    for i, (p, e, s) in enumerate(recs):
        firsts.setdefault((p, e, s), i)
    assert sorted(r["offset"] for r in out) == sorted(firsts.values())


# -- TxCoordinator FSM: random interleavings vs invariant model -----------
# (SURVEY §7 "what's hard" (b): mirror rm_stm interleaving tests. Pure
# Python: a stub engine records produced ranges / tx markers / offsets;
# the REAL TxCoordinator methods drive the FSM via record_produced.)


class _StubEngine:
    """The coordinator's view of an engine: its one batch entry point
    (``_group_append``) over a keep-latest map, the tx-range records it
    commits collected as rows, and the offset records as tuples."""

    def __init__(self, root):
        import os

        from redpanda_spark.fsio import LocalFS

        self.root = str(root)
        os.makedirs(self.root, exist_ok=True)
        self._fsio = LocalFS()  # the producer-id allocator's store
        self.high = {}
        self.tx_rows = []
        self.committed_offsets = []
        self._state = {}

    def produce_n(self, n):
        base = self.high.get(0, 0)
        self.high[0] = base + n
        return {0: base}

    def high_watermarks(self, topic):
        return dict(self.high)

    def _group_map(self):
        return self._state

    def _group_append(self, records):
        from pyspark.sql import Row

        for k, v in records:
            if v is None:
                self._state.pop(k, None)
                continue
            self._state[k] = v
            if k[0] == "tx":
                self.tx_rows.append(Row(first_offset=k[4], **v))
            elif k[0] == "offset":
                self.committed_offsets.append((*k[1:], v["committed_offset"]))


_tx_ops = st.lists(
    st.sampled_from(["init", "produce", "stage_offset", "commit", "abort"]),
    min_size=1,
    max_size=30,
)


@given(_tx_ops)
@settings(max_examples=150)
def test_txcoordinator_interleavings(tmp_path_factory, ops):
    import uuid

    from redpanda_spark.operators.txcoord import TxCoordinator, TxError

    eng = _StubEngine(tmp_path_factory.mktemp("tx") / uuid.uuid4().hex)
    tc = TxCoordinator(eng)

    committed_ranges, aborted_ranges = [], []
    staged, model_committed = {}, []
    ongoing_ranges = []
    inited = False

    for op in ops:
        status = tc._txs["txA"].status if inited else None
        if op == "init":
            tc.init_producer_id("txA")
            if status == "Ongoing":  # re-init fences the open transaction
                aborted_ranges.extend(ongoing_ranges)
            ongoing_ranges, staged = [], {}
            inited = True
        elif not inited:
            continue
        elif op == "produce":
            if status != "Ongoing":
                ongoing_ranges, staged = [], {}
            bases = eng.produce_n(2)
            tc.record_produced("txA", "t", bases, eng.high_watermarks("t"))
            b = bases[0]
            if ongoing_ranges:
                ongoing_ranges[0] = (ongoing_ranges[0][0], eng.high[0] - 1)
            else:
                ongoing_ranges = [(b, eng.high[0] - 1)]
        elif op == "stage_offset":
            try:
                tc.txn_offset_commit("txA", "g", "t", 0, eng.high.get(0, 0))
                staged[("g", "t", 0)] = eng.high.get(0, 0)
            except TxError:
                pass  # no open transaction
        else:  # commit / abort
            try:
                (tc.commit if op == "commit" else tc.abort)("txA")
            except TxError:
                continue  # EndTxn on Empty
            if status == "Ongoing":
                if op == "commit":
                    committed_ranges.extend(ongoing_ranges)
                    model_committed.extend(
                        (g, t, p, o) for (g, t, p), o in staged.items()
                    )
                else:
                    aborted_ranges.extend(ongoing_ranges)
                ongoing_ranges, staged = [], {}

    got_final = {
        (r.first_offset, r.last_offset, r.outcome)
        for r in eng.tx_rows
        if r.outcome != "open"
    }
    want_final = {(a, b, "committed") for a, b in committed_ranges} | {
        (a, b, "aborted") for a, b in aborted_ranges
    }
    assert got_final == want_final
    assert eng.committed_offsets == model_committed
    # every open marker is eventually superseded or belongs to the last txn
    open_firsts = {r.first_offset for r in eng.tx_rows if r.outcome == "open"}
    final_firsts = {r.first_offset for r in eng.tx_rows if r.outcome != "open"}
    live_open = open_firsts - final_firsts
    assert len(live_open) <= 1  # at most the still-ongoing transaction


# -- avro / protobuf codecs: random-value round-trips ----------------------

_AVRO_PROP_SCHEMA = {
    "type": "record",
    "name": "p",
    "fields": [
        {"name": "i", "type": "long"},
        {"name": "s", "type": "string"},
        {"name": "d", "type": ["null", "double"]},
        {"name": "bs", "type": "bytes"},
        {"name": "arr", "type": {"type": "array", "items": "long"}},
        {"name": "m", "type": {"type": "map", "values": "string"}},
    ],
}

_avro_values = st.fixed_dictionaries(
    {
        "i": st.integers(min_value=-(2**62), max_value=2**62),
        "s": st.text(max_size=30),
        "d": st.one_of(
            st.none(),
            st.floats(allow_nan=False, allow_infinity=False, width=64),
        ),
        "bs": st.binary(max_size=20),
        "arr": st.lists(st.integers(min_value=-(2**31), max_value=2**31), max_size=8),
        "m": st.dictionaries(st.text(max_size=8), st.text(max_size=8), max_size=5),
    }
)


@given(_avro_values)
@settings(max_examples=200)
def test_avro_codec_roundtrip_property(value):
    from redpanda_spark.registry.avro_codec import avro_decode, avro_encode

    assert avro_decode(_AVRO_PROP_SCHEMA, avro_encode(_AVRO_PROP_SCHEMA, value)) == value


_PROTO_PROP_SCHEMA = """
syntax = "proto3";
message P {
  int64 i = 1;
  sint64 z = 2;
  string s = 3;
  bytes bs = 4;
  repeated int64 arr = 5;
  double d = 6;
  bool ok = 7;
}
"""

_proto_values = st.fixed_dictionaries(
    {
        "i": st.integers(min_value=-(2**63), max_value=2**63 - 1),
        "z": st.integers(min_value=-(2**62), max_value=2**62),
        "s": st.text(max_size=30),
        "bs": st.binary(max_size=20),
        "arr": st.lists(
            st.integers(min_value=-(2**63), max_value=2**63 - 1), max_size=8
        ),
        "d": st.floats(allow_nan=False, allow_infinity=False, width=64),
        "ok": st.booleans(),
    }
)


@given(_proto_values)
@settings(max_examples=200)
def test_proto_codec_roundtrip_property(value):
    from redpanda_spark.registry.proto_codec import decode_message, encode_message

    got = decode_message(
        _PROTO_PROP_SCHEMA, "P", encode_message(_PROTO_PROP_SCHEMA, "P", value)
    )
    # proto3 presence: zero-valued scalars still encode here (explicit dict
    # keys), so the round trip is exact
    assert got == value


@given(
    st.lists(
        st.tuples(st.sampled_from(["a", "b", "c"]), st.integers(0, 50)),
        min_size=0, max_size=25,
    ),
    st.lists(
        st.tuples(st.sampled_from(["a", "b", "c"]), st.integers(0, 50), st.integers(0, 20)),
        min_size=1, max_size=15,
    ),
)
@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
def test_asof_join_matches_bruteforce(spark, facts_raw, versions_raw):
    """asof_join == the obvious per-fact python scan, on random inputs
    (distinct version times per key — ties among versions are the
    documented caller contract)."""
    from redpanda_spark.operators.asof import asof_join

    versions = [
        (k, ts, f"s{idx}")
        for idx, (k, ts) in enumerate(sorted({(k, t) for k, t, _ in versions_raw}))
    ]
    facts = [(k, ts, i) for i, (k, ts) in enumerate(facts_raw)]
    if not facts:
        return
    vdf = spark.createDataFrame(versions, "k string, ts long, state string")
    fdf = spark.createDataFrame(facts, "k string, ts long, fid int")
    got = {r["fid"]: r["state"] for r in asof_join(fdf, vdf, on="k").collect()}
    for k, ts, fid in facts:
        eligible = [(t, s) for (vk, t, s) in versions if vk == k and t <= ts]
        expect = max(eligible)[1] if eligible else None
        assert got[fid] == expect, (k, ts, fid, eligible)


@given(
    st.lists(
        st.tuples(st.sampled_from(["x", "y"]), st.integers(0, 100)),
        min_size=1, max_size=20,
    ),
    st.lists(
        st.tuples(st.sampled_from(["x", "y"]), st.integers(0, 100), st.integers(0, 40)),
        min_size=1, max_size=10,
    ),
)
@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
def test_interval_join_matches_bruteforce(spark, facts_raw, iv_raw):
    """interval_join == the naive range scan on random keys/times/widths
    — bucket-boundary handling can't drop or duplicate matches."""
    from redpanda_spark.operators.interval import interval_join

    intervals = [
        (k, start, start + width, f"w{i}")
        for i, (k, start, width) in enumerate(iv_raw)
    ]
    facts = [(k, ts, i) for i, (k, ts) in enumerate(facts_raw)]
    ivdf = spark.createDataFrame(intervals, "k string, start long, end long, wid string")
    fdf = spark.createDataFrame(facts, "k string, ts long, fid int")
    got = {
        (r["fid"], r["wid"])
        for r in interval_join(
            fdf, ivdf, on="k", bucket=16, time_unit_is_timestamp=False
        ).collect()
    }
    expect = {
        (fid, wid)
        for (fk, ts, fid) in facts
        for (ik, lo, hi, wid) in intervals
        if fk == ik and lo <= ts <= hi
    }
    assert got == expect


# -- connected components vs union-find (property) --------------------------

_edges = st.lists(
    st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=40,
)


@given(_edges)
@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
def test_connected_components_matches_union_find(spark, edges):
    from pyspark.sql import Row

    from redpanda_spark.dedup.cluster import connected_components

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
    want = {x: find(x) for x in parent}

    df = spark.createDataFrame([Row(id_a=int(u), id_b=int(v)) for u, v in edges])
    got = {r["id"]: r["component"] for r in connected_components(df).collect()}
    assert got == want


# -- distributed BPE vs sequential reference (property) ---------------------

_texts = st.lists(
    st.lists(
        st.sampled_from(["ab", "abc", "abab", "ba", "cab", "a", "bc"]),
        min_size=1,
        max_size=12,
    ).map(" ".join),
    min_size=1,
    max_size=5,
)


@given(_texts)
@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
def test_bpe_train_matches_reference_on_random_corpora(spark, texts):
    from pyspark.sql import Row

    from redpanda_spark.functions.bpe import train_bpe
    from tests.test_functions import _bpe_reference

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )
    assert train_bpe(docs, 5) == _bpe_reference(texts, 5)[0]


# -- banded hamming join vs brute force (property) --------------------------

_hashes = st.lists(
    st.integers(min_value=0, max_value=(1 << 63) - 1),
    min_size=2,
    max_size=24,
    unique=True,
)


@given(_hashes, st.integers(min_value=0, max_value=6))
@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
def test_banded_hamming_join_matches_brute_force(spark, hs, max_h):
    """The generic LSH banding must return EXACTLY the brute-force pair
    set (pigeonhole recall + post-filter precision) for any hash values
    and threshold."""
    from redpanda_spark.dedup.simhash import hash_near_dup_pairs

    df = spark.createDataFrame(
        [(i, h) for i, h in enumerate(hs)], "id long, h long"
    )
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in hash_near_dup_pairs(df, max_hamming=max_h, bits=63).collect()
    }
    want = {}
    for i in range(len(hs)):
        for j in range(i + 1, len(hs)):
            d = bin(hs[i] ^ hs[j]).count("1")
            if d <= max_h:
                want[(i, j)] = d
    assert got == want


# -- chunking ≡ pure-Python reference --------------------------------------


@given(
    st.lists(
        st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]), max_size=30),
        min_size=1,
        max_size=8,
    ),
    st.integers(min_value=1, max_value=6),
    st.integers(min_value=1, max_value=6),
)
@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
def test_chunk_documents_matches_model(spark, docs_words, window, stride):
    from pyspark.sql import Row

    from redpanda_spark.pipeline.dataset import chunk_documents

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=" ".join(w)) for i, w in enumerate(docs_words)],
        "doc_id long, text string",
    )
    got = {}
    for r in chunk_documents(docs, window, stride).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["chunk_idx"], r["chunk_text"], r["n_tokens"], r["n_chunks"])
        )
    for i, words in enumerate(docs_words):
        starts = list(range(0, len(words), stride))
        want = [
            (j, " ".join(words[s : s + window]),
             len(words[s : s + window]), len(starts))
            for j, s in enumerate(starts)
        ]
        assert sorted(got.get(i, [])) == want, (i, window, stride)


# -- fetch byte budget ≡ pure-Python reference ------------------------------


@given(
    st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=20),
    st.integers(min_value=1, max_value=400),
)
@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
def test_fetch_max_bytes_matches_model(spark, sizes, budget):
    from pyspark.sql import Row

    from redpanda_spark.operators import log as LOG

    rows = [
        Row(partition=0, offset=i, key=None, value=bytes(sz))
        for i, sz in enumerate(sizes)
    ]
    log = spark.createDataFrame(
        rows, "partition int, offset long, key binary, value binary"
    )
    got = [r["offset"] for r in
           LOG.fetch_max_bytes(log, budget, partition=0).collect()]
    want, cum = [], 0
    for i, sz in enumerate(sizes):
        if cum >= budget:
            break
        want.append(i)
        cum += 16 + sz
    assert sorted(got) == want, (sizes, budget)


# -- tiered classification algebra (round 8) ------------------------------

_stats_entry = st.one_of(
    # empty segment
    st.just([0, -1, 0, -1, 0]),
    # 5-element legacy (no ts stats), non-empty
    st.tuples(st.integers(0, 7), st.integers(0, 1000)).map(
        lambda t: [0, t[0], 0, t[1], 1 + t[1]]
    ),
    # full 7-element entry with ts range
    st.tuples(
        st.integers(0, 7),
        st.integers(0, 1000),
        st.integers(0, 10**7),
        st.integers(0, 10**7),
    ).map(
        lambda t: [
            0,
            t[0],
            0,
            t[1],
            1 + t[1],
            min(t[2], t[3]),
            max(t[2], t[3]),
        ]
    ),
)


@given(
    st.lists(_stats_entry, max_size=12),
    st.integers(0, 10**7),
)
@settings(max_examples=200, deadline=None)
def test_classify_expired_partitions_the_file_set(entries, cutoff_us):
    """_classify_expired invariants: (a) None iff some non-empty file
    lacks ts stats; (b) otherwise drop/boundary/untouched partition the
    list; (c) drops are provably all-expired, boundary provably
    straddles, untouched provably all-live — directly from the stats."""
    from redpanda_spark.engine import TopicEngine

    files = [f"f{i}.parquet" for i in range(len(entries))]
    stats = dict(zip(files, entries))
    out = TopicEngine._classify_expired(files, stats, cutoff_us)
    legacy_nonempty = any(len(e) == 5 and e[4] > 0 for e in entries)
    if legacy_nonempty:
        assert out is None
        return
    assert out is not None
    drop, boundary = out
    untouched = [f for f in files if f not in set(drop) | set(boundary)]
    assert sorted(drop + boundary + untouched) == sorted(files)
    for f in drop:
        e = stats[f]
        assert e[4] == 0 or e[6] < cutoff_us
    for f in boundary:
        e = stats[f]
        assert e[5] < cutoff_us <= e[6]
    for f in untouched:
        e = stats[f]
        assert e[4] > 0 and e[5] >= cutoff_us


# -- deterministic shuffle: bucketed two-phase rank ≡ global md5 rank ------


@given(
    st.lists(st.integers(0, 10**6), min_size=1, max_size=60, unique=True),
    st.integers(1, 8),
)
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
def test_shuffle_deterministic_matches_global_rank(spark, ids, nparts):
    """The r9 bucketed two-phase rank must equal the definition — the
    1-based rank of md5(seed ':' id) under a single global sort — and be
    invariant to the input's physical partitioning (positions depend on
    the key set only). Positions are a contiguous 1..N permutation."""
    import hashlib

    from redpanda_spark.pipeline.dataset import shuffle_deterministic

    df = spark.createDataFrame(
        [(i,) for i in ids], "doc_id long"
    ).repartition(nparts)
    got = {
        r["doc_id"]: r["shuffle_pos"]
        for r in shuffle_deterministic(df, seed="prop").collect()
    }
    keys = sorted(ids, key=lambda i: hashlib.md5(f"prop:{i}".encode()).hexdigest())
    expect = {i: pos for pos, i in enumerate(keys, start=1)}
    assert got == expect
    assert sorted(got.values()) == list(range(1, len(ids) + 1))
    # width invariance (r10: prefix width is sized to the input; the
    # hex-order-equals-key-order property must hold at EVERY width,
    # including >3 chars where the broadcast-join offsets path replaces
    # the create_map literal)
    for width in (1, 3, 4):
        got_w = {
            r["doc_id"]: r["shuffle_pos"]
            for r in shuffle_deterministic(
                df, seed="prop", prefix_chars=width
            ).collect()
        }
        assert got_w == expect, f"width {width} diverged from global rank"


def test_shuffle_deterministic_broadcast_offsets_path(spark):
    """Deterministic (non-hypothesis) check of the wide-fan-out branch:
    enough rows that the populated-bucket count exceeds the 1024
    create_map cutoff, so prefix offsets arrive via the broadcast join.
    Must still be the exact global md5 rank."""
    import hashlib

    from redpanda_spark.pipeline.dataset import shuffle_deterministic

    ids = list(range(3000))
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long").repartition(7)
    got = {
        r["doc_id"]: r["shuffle_pos"]
        for r in shuffle_deterministic(df, seed="wide", prefix_chars=3).collect()
    }
    keys = sorted(ids, key=lambda i: hashlib.md5(f"wide:{i}".encode()).hexdigest())
    expect = {i: pos for pos, i in enumerate(keys, start=1)}
    assert got == expect
