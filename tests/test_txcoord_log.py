"""Transaction state as records of the internal `__consumer_offsets` topic:
every coordinator call is one commit, so a crash at any mutation point
recovers to the state before the call or after it, and every coordinator
and admin instance on a root shares one state and one producer-id
allocator."""

from __future__ import annotations

import json
import time

import pytest
from test_chaos import CrashError, FaultInjectingFS

from redpanda_spark.engine import OFFSETS_TOPIC, TopicConfig, TopicEngine
from redpanda_spark.operators.txcoord import TxCoordinator, TxError


class _AllMutationsFS(FaultInjectingFS):
    """Also crashes on exclusive creates and whole-file byte writes."""

    _MUTATORS = FaultInjectingFS._MUTATORS | {
        "create_exclusive", "write_bytes_atomic",
    }


def _recs(tag, n, partition=0):
    return [
        {"key": None, "value": f"{tag}{i}".encode(), "partition": partition}
        for i in range(n)
    ]


def _values(rows):
    return [bytes(r["value"]).decode() for r in rows]


def _state(root, spark):
    """Everything a transaction decides, read by a fresh engine and
    coordinator: each id's state, the ranges, the committed offsets and
    the rows of both partitions at both isolation levels."""
    eng = TopicEngine(spark, root, read_only=True)
    txs = {
        tid: (s.producer_id, s.producer_epoch, s.status, s.partitions,
              s.staged_offsets, s.timeout_ms)
        for tid, s in TxCoordinator(eng)._txs.items()
    }
    ranges = sorted(
        tuple(r[c] for c in ("topic", "partition", "producer_id",
                             "first_offset", "last_offset", "outcome"))
        for r in eng._tx_ranges_local()
    )
    offsets = {
        k[1:]: v["committed_offset"]
        for k, v in eng._group_map().items()
        if k[0] == "offset"
    }
    rows = {
        iso: {p: _values(eng.fetch_rows("t", p, isolation=iso)) for p in (0, 1)}
        for iso in ("read_uncommitted", "read_committed")
    }
    return {"txs": txs, "ranges": ranges, "offsets": offsets, "rows": rows}


def _seed(spark, root, ongoing):
    """A 2-partition topic with one plain row per partition and the
    transactional id "tx"; with ``ongoing``, "tx" has produced 5 rows to
    partition 0 and staged group g's offset 42."""
    eng = TopicEngine(spark, root)
    eng.create_topic("t", TopicConfig(partitions=2))
    eng.produce("t", _recs("plain", 1, 0) + _recs("plain", 1, 1))
    tc = TxCoordinator(eng)
    tc.init_producer_id("tx", transaction_timeout_ms=60_000)
    if ongoing:
        tc.produce("tx", "t", _recs("tx", 5))
        tc.txn_offset_commit("tx", "g", "t", 0, 42)
    return eng


_FAR_FUTURE_MS = int(time.time() * 1000) + 10**9

_OPS = {
    # name: (seeded Ongoing?, the call)
    "init_new": (False, lambda tc: tc.init_producer_id("other")),
    "init_fence": (True, lambda tc: tc.init_producer_id("tx")),
    "produce": (False, lambda tc: tc.produce("tx", "t", _recs("tx", 5))),
    "txn_offset_commit": (
        True, lambda tc: tc.txn_offset_commit("tx", "g", "t", 1, 7)
    ),
    "commit": (True, lambda tc: tc.commit("tx")),
    "abort": (True, lambda tc: tc.abort("tx")),
    "expire": (True, lambda tc: tc.expire_transactions(now_ms=_FAR_FUTURE_MS)),
}


@pytest.mark.parametrize("name", list(_OPS))
def test_crash_sweep_coordinator_calls_are_atomic(spark, tmp_path, name):
    """Crash every coordinator call at its k-th mutating filesystem call,
    for every k until it completes. After a reopen the state is the
    pre-call or the post-call state, and a transaction's rows are visible
    at read_committed exactly when its staged offset is committed.

    A transactional produce commits AddPartitionsToTxn (the Ongoing state
    and the open ranges) before the data, so its crash may also land
    between the two: ranges with no rows, never rows with no range."""
    ongoing, op = _OPS[name]
    ref = _seed(spark, str(tmp_path / "ref"), ongoing)
    pre = _state(ref.root, spark)
    mid = None
    if name == "produce":
        at = {0: ref.high_watermarks("t")[0]}  # the records go to partition 0
        TxCoordinator(ref).record_produced("tx", "t", at, at)
        mid = _state(ref.root, spark)
        ref = _seed(spark, str(tmp_path / "ref2"), ongoing)
    op(TxCoordinator(ref))
    post = _state(ref.root, spark)
    assert post != pre

    crashes = 0
    for budget in range(1, 30):
        eng = _seed(spark, str(tmp_path / f"b{budget}"), ongoing)
        eng._fsio = _AllMutationsFS(eng._fsio, budget)
        try:
            op(TxCoordinator(eng))
            completed = True
        except CrashError:
            completed = False
            crashes += 1
        got = _state(eng.root, spark)
        assert got in (pre, post, mid), f"{name} crashed at mutation {budget}"
        tx_visible = any(
            v.startswith("tx") for v in got["rows"]["read_committed"][0]
        )
        assert tx_visible == (got["offsets"].get(("g", "t", 0)) == 42), budget
        if completed:
            assert got == post
            break
    assert crashes > 0 and completed


def test_crash_inside_endtxn_never_aborts_visible_rows(spark, tmp_path):
    """EndTxn is one commit: a failure where the offsets used to be
    forwarded, after the range outcomes, cannot leave the transaction
    Ongoing with its rows already visible, for expiry to abort later."""
    root = str(tmp_path / "r")
    eng = _seed(spark, root, ongoing=True)
    tc = TxCoordinator(eng)

    def crash(*_a, **_k):
        raise CrashError("crash while forwarding the staged offsets")

    eng.offset_commit_batch = crash
    try:
        tc.commit("tx")
    except CrashError:
        pass
    reopened = TopicEngine(spark, root)
    TxCoordinator(reopened).expire_transactions(now_ms=_FAR_FUTURE_MS)
    rows = reopened.fetch_rows("t", 0, isolation="read_committed")
    assert [v for v in _values(rows) if v.startswith("tx")] == [
        f"tx{i}" for i in range(5)
    ]
    committed = {
        r["partition"]: r["committed_offset"]
        for r in reopened.offset_fetch("g").collect()
    }
    assert committed == {0: 42}


def test_crash_at_endtxn_commit_leaves_it_ongoing_until_expiry(spark, tmp_path):
    """A crash at EndTxn's one mutation, the internal topic's manifest
    commit, leaves the transaction as it was: Ongoing, its rows hidden at
    read_committed and group g uncommitted. Expiry then aborts it whole."""
    root = str(tmp_path / "r")
    eng = _seed(spark, root, ongoing=True)
    eng._fsio = _AllMutationsFS(eng._fsio, 1)
    with pytest.raises(CrashError):
        TxCoordinator(eng).commit("tx")

    reopened = TopicEngine(spark, root)
    tc = TxCoordinator(reopened)
    assert tc.describe_transaction("tx")["state"] == "Ongoing"
    assert _values(reopened.fetch_rows("t", 0, isolation="read_committed")) == [
        "plain0"
    ]
    assert ("offset", "g", "t", 0) not in reopened._group_map()

    assert tc.expire_transactions(now_ms=_FAR_FUTURE_MS) == ["tx"]
    assert tc.describe_transaction("tx")["state"] == "Aborted"
    assert _values(reopened.fetch_rows("t", 0, isolation="read_committed")) == [
        "plain0"
    ]
    assert ("offset", "g", "t", 0) not in reopened._group_map()


def test_record_list_joins_only_its_routed_partitions(spark, tmp_path):
    """A transactional record list joins the partitions it is routed to
    (explicit, else murmur2(key), else round-robin), not the whole topic:
    a partition it does not write keeps serving read_committed readers
    while the transaction is open, and gets no range."""
    eng = TopicEngine(spark, str(tmp_path / "r"))
    eng.create_topic("t", TopicConfig(partitions=4))
    tc = TxCoordinator(eng)
    tc.init_producer_id("tx")
    keyed = [{"key": b"k%d" % i, "value": b"v"} for i in range(3)]
    routed = set(eng.route_records("t", keyed))
    assert len(routed) < 4
    bases = tc.produce("tx", "t", keyed)
    assert set(bases) == routed
    assert tc.describe_transaction("tx")["partitions"] == {"t": sorted(routed)}

    # a repeat into joined partitions commits no coordinator record
    segments = len(eng._files[OFFSETS_TOPIC])
    tc.produce("tx", "t", keyed)
    assert len(eng._files[OFFSETS_TOPIC]) == segments

    idle = min({0, 1, 2, 3} - routed)
    eng.produce("t", _recs("plain", 1, idle))
    assert _values(eng.fetch_rows("t", idle, isolation="read_committed")) == [
        "plain0"
    ]
    tc.commit("tx")
    assert {r["partition"] for r in eng._tx_ranges_local()} == routed
    assert sum(
        len(eng.fetch_rows("t", p, isolation="read_committed")) for p in routed
    ) == 6


def test_tx_produce_into_partition_added_before_reopen(spark, tmp_path):
    """A partition added by CreatePartitions has no watermark in the
    manifest until its first commit; after a reopen a transactional
    produce into it still joins it first, so an abort hides its rows."""
    from redpanda_spark.admin import AdminClient

    root = str(tmp_path / "r")
    eng = TopicEngine(spark, root)
    eng.create_topic("t", TopicConfig(partitions=1))
    eng.produce("t", _recs("plain", 1, 0))
    AdminClient(eng).create_partitions("t", 2)

    reopened = TopicEngine(spark, root)
    assert reopened.high_watermarks("t") == {0: 1, 1: 0}
    tc = TxCoordinator(reopened)
    tc.init_producer_id("tx")
    tc.produce("tx", "t", _recs("tx", 3, 1))
    assert reopened.fetch_rows("t", 1, isolation="read_committed") == []
    tc.abort("tx")
    assert reopened.fetch_rows("t", 1, isolation="read_committed") == []
    assert len(reopened.fetch_rows("t", 1)) == 3


def test_coordinators_and_admin_share_one_pid_allocator(spark, tmp_path):
    """Two coordinators and an admin client on one root never issue the
    same producer id, and an admin re-init of a transactional id fences
    the coordinator's incarnation: epoch bumped, ongoing transaction
    aborted."""
    from redpanda_spark.admin import AdminClient

    eng = TopicEngine(spark, str(tmp_path / "r"))
    eng.create_topic("t", TopicConfig(partitions=1))
    tc1, tc2 = TxCoordinator(eng), TxCoordinator(eng)
    admin = AdminClient(eng)  # all three built before any allocation
    pid_a, epoch_a = tc1.init_producer_id("txA")
    pid_b, _ = tc2.init_producer_id("txB")
    plain = [admin.init_producer_id()[0] for _ in range(3)]
    assert len({pid_a, pid_b, *plain}) == 5

    tc1.produce("txA", "t", _recs("a", 2))
    assert admin.init_producer_id("txA") == (pid_a, epoch_a + 1)
    for tc in (tc1, tc2):
        assert tc.describe_transaction("txA")["state"] == "Aborted"
    with pytest.raises(TxError, match="INVALID_PRODUCER_EPOCH"):
        tc1.commit("txA", producer_epoch=epoch_a)
    assert eng.fetch_rows("t", 0, isolation="read_committed") == []


def test_coordinator_calls_run_no_spark_job_and_endtxn_is_one_commit(
    spark, tmp_path
):
    """On a local root no coordinator call starts a Spark job, and EndTxn
    is one mutation: the manifest commit of the internal topic."""
    eng = TopicEngine(spark, str(tmp_path / "r"))
    eng.create_topic("t", TopicConfig(partitions=2))
    tc = TxCoordinator(eng)
    sc = spark.sparkContext

    def no_jobs(label, fn):
        sc.setJobGroup(label, label)
        try:
            fn()
        finally:
            sc.setJobGroup("", "")
        assert list(sc.statusTracker().getJobIdsForGroup(label)) == [], label

    no_jobs("init", lambda: tc.init_producer_id("tx", transaction_timeout_ms=1))
    no_jobs("produce", lambda: tc.produce("tx", "t", _recs("x", 3)))
    no_jobs("stage", lambda: tc.txn_offset_commit("tx", "g", "t", 0, 3))
    segments = len(eng._files[OFFSETS_TOPIC])
    eng._fsio = counting = _AllMutationsFS(eng._fsio, 10**6)
    no_jobs("commit", lambda: tc.commit("tx"))
    eng._fsio = counting._inner
    assert counting.mutations == 1  # the internal topic's manifest commit
    assert len(eng._files[OFFSETS_TOPIC]) == segments + 1
    assert eng.offset_fetch("g").collect()[0]["committed_offset"] == 3
    no_jobs("produce-2", lambda: tc.produce("tx", "t", _recs("y", 1)))
    no_jobs("abort", lambda: tc.abort("tx"))
    no_jobs("reinit", lambda: tc.init_producer_id("tx", transaction_timeout_ms=1))
    tc.produce("tx", "t", _recs("z", 1))
    time.sleep(0.01)
    no_jobs("expire", lambda: tc.expire_transactions())
    assert tc.describe_transaction("tx")["state"] == "Aborted"


def test_decided_tx_range_outcome_is_final(spark, tmp_path):
    eng = TopicEngine(spark, str(tmp_path / "r"))

    def rng(first, outcome):
        return dict(topic="t", partition=0, producer_id=5, first_offset=first,
                    last_offset=first + 2, outcome=outcome)

    eng.append_tx_ranges([rng(0, "committed"), rng(10, "aborted")])
    before = sorted(map(str, eng._tx_ranges_local()))
    with pytest.raises(ValueError, match="already committed"):
        eng.append_tx_ranges([rng(0, "aborted")])
    with pytest.raises(ValueError, match="already aborted"):
        # refused whole: the open range beside it is not written either
        eng.append_tx_ranges([rng(20, "open"), rng(10, "committed")])
    assert sorted(map(str, eng._tx_ranges_local())) == before


def test_legacy_coordinator_stores_refuse_to_open(spark, tmp_path):
    """A root that still holds the coordinator's old JSON snapshot, or
    transactional ids in the producer-id allocator's file, must not open
    as if no transaction were ongoing."""
    cases = {
        "_tx_coordinator.json": {"next_pid": 1000, "txs": {}},
        "_producer_ids.json": {"next_id": 3, "tx_ids": {"a": [1, 0]}},
    }
    for name, content in cases.items():
        root = tmp_path / name.strip("_")
        root.mkdir()
        (root / name).write_text(json.dumps(content))
        with pytest.raises(ValueError, match=f"{name}: legacy transaction"):
            TopicEngine(spark, str(root))
    # an allocator file without transactional ids is current
    root = tmp_path / "current"
    root.mkdir()
    (root / "_producer_ids.json").write_text(json.dumps({"next_id": 3, "tx_ids": {}}))
    eng = TopicEngine(spark, str(root))
    assert OFFSETS_TOPIC not in eng.list_topics()
