"""Transaction coordinator (tm_stm analog) + ACL store tests.

Mirrors the reference's transactional semantics: EndTxn outcomes gate
read_committed visibility, aborted data stays in the log, staged group
offsets land only on commit, epoch bump fences the prior incarnation.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from redpanda_spark.engine import TopicConfig, TopicEngine
from redpanda_spark.operators.txcoord import TxCoordinator, TxError, describe_producers
from redpanda_spark.security import AclBinding, AclStore


@pytest.fixture()
def engine(spark, tmp_path):
    return TopicEngine(spark, str(tmp_path / "topics"))


def _batch(spark, vals, partition=0):
    return spark.createDataFrame(
        [Row(key=None, value=v.encode(), partition=partition) for v in vals],
        "key binary, value binary, partition int",
    )


def _committed_values(engine, topic):
    df = engine.fetch(topic, partition=0, isolation="read_committed")
    return sorted(bytes(r["value"]).decode() for r in df.collect())


def test_commit_makes_data_visible(spark, engine):
    engine.create_topic("t", TopicConfig(partitions=1))
    tc = TxCoordinator(engine)
    pid, epoch = tc.init_producer_id("txA")
    tc.produce("txA", "t", _batch(spark, ["a", "b"]))
    # While the transaction is open, the LSO (min first offset of open
    # txns) gates read_committed readers below it (fetch.cc:341-399).
    assert _committed_values(engine, "t") == []
    tc.commit("txA")
    assert _committed_values(engine, "t") == ["a", "b"]
    assert tc.describe_transaction("txA")["state"] == "Committed"


def test_lso_gates_nontransactional_rows_behind_open_txn(spark, engine):
    """Rows appended after an open transaction's first offset are held
    back for read_committed readers even if they are not transactional."""
    engine.create_topic("t", TopicConfig(partitions=1))
    tc = TxCoordinator(engine)
    tc.init_producer_id("txA")
    engine.produce("t", _batch(spark, ["before"]))          # offset 0
    tc.produce("txA", "t", _batch(spark, ["txrow"]))        # offset 1, open
    engine.produce("t", _batch(spark, ["after"]))           # offset 2
    assert _committed_values(engine, "t") == ["before"]     # LSO = 1
    tc.commit("txA")
    assert _committed_values(engine, "t") == ["after", "before", "txrow"]


def test_abort_hides_data_from_read_committed(spark, engine):
    engine.create_topic("t", TopicConfig(partitions=1))
    tc = TxCoordinator(engine)
    tc.init_producer_id("txA")
    tc.produce("txA", "t", _batch(spark, ["a", "b"]))
    tc.abort("txA")
    # aborted rows remain in the raw log…
    assert engine.fetch("t", partition=0).count() == 2
    # …but are filtered at read_committed
    assert _committed_values(engine, "t") == []


def test_mixed_commit_abort_ranges(spark, engine):
    engine.create_topic("t", TopicConfig(partitions=1))
    tc = TxCoordinator(engine)
    tc.init_producer_id("txA")
    tc.produce("txA", "t", _batch(spark, ["a1", "a2"]))
    tc.abort("txA")
    tc.produce("txA", "t", _batch(spark, ["b1", "b2"]))
    tc.commit("txA")
    assert _committed_values(engine, "t") == ["b1", "b2"]


def test_txn_offset_commit_lands_only_on_commit(spark, engine):
    engine.create_topic("t", TopicConfig(partitions=1))
    tc = TxCoordinator(engine)
    tc.init_producer_id("txA")
    tc.produce("txA", "t", _batch(spark, ["a"]))
    tc.txn_offset_commit("txA", "g1", "t", 0, 5)
    assert engine.offset_fetch("g1").count() == 0  # staged, not visible
    tc.commit("txA")
    rows = engine.offset_fetch("g1").collect()
    assert [(r["topic"], r["partition"], r["committed_offset"]) for r in rows] == [
        ("t", 0, 5)
    ]


def test_abort_discards_staged_offsets(spark, engine):
    engine.create_topic("t", TopicConfig(partitions=1))
    tc = TxCoordinator(engine)
    tc.init_producer_id("txA")
    tc.produce("txA", "t", _batch(spark, ["a"]))
    tc.txn_offset_commit("txA", "g1", "t", 0, 5)
    tc.abort("txA")
    assert engine.offset_fetch("g1").count() == 0


def test_epoch_fencing_on_reinit(spark, engine):
    engine.create_topic("t", TopicConfig(partitions=1))
    tc = TxCoordinator(engine)
    pid0, e0 = tc.init_producer_id("txA")
    tc.produce("txA", "t", _batch(spark, ["zombie"]))
    pid1, e1 = tc.init_producer_id("txA")  # fences: aborts ongoing txn
    assert pid1 == pid0 and e1 == e0 + 1
    assert _committed_values(engine, "t") == []  # zombie write aborted


def test_unknown_txn_id(engine):
    tc = TxCoordinator(engine)
    with pytest.raises(TxError):
        tc.commit("nope")


def test_list_transactions_and_describe_producers(spark, engine):
    engine.create_topic("t", TopicConfig(partitions=1))
    tc = TxCoordinator(engine)
    tc.init_producer_id("txA")
    tc.init_producer_id("txB")
    tc.produce("txA", "t", _batch(spark, ["a"]))
    tc.commit("txA")
    states = {d["transactional_id"]: d["state"] for d in tc.list_transactions()}
    assert states == {"txA": "Committed", "txB": "Empty"}
    dp = describe_producers(engine.log("t")).collect()
    assert len(dp) == 1 and dp[0]["n_records"] == 1


def test_coordinator_state_survives_restart(spark, engine):
    engine.create_topic("t", TopicConfig(partitions=1))
    tc = TxCoordinator(engine)
    tc.init_producer_id("txA")
    tc.produce("txA", "t", _batch(spark, ["a"]))
    tc2 = TxCoordinator(engine)  # fresh instance, same root
    assert tc2.describe_transaction("txA")["state"] == "Ongoing"
    tc2.commit("txA")
    assert _committed_values(engine, "t") == ["a"]


# -- ACLs ----------------------------------------------------------------


def test_acl_deny_wins_and_default_deny(tmp_path):
    store = AclStore(str(tmp_path / "acls.json"))
    assert not store.authorize("User:alice", "read", "topic", "t1")  # default deny
    store.create(AclBinding("User:alice", "topic", "*", "literal", "read", "allow"))
    assert store.authorize("User:alice", "read", "topic", "t1")
    store.create(AclBinding("User:alice", "topic", "t1", "literal", "read", "deny"))
    assert not store.authorize("User:alice", "read", "topic", "t1")
    assert store.authorize("User:alice", "read", "topic", "t2")


def test_acl_prefixed_and_all_operation(tmp_path):
    store = AclStore()
    store.create(AclBinding("User:bob", "topic", "logs-", "prefixed", "all", "allow"))
    assert store.authorize("User:bob", "write", "topic", "logs-app1")
    assert not store.authorize("User:bob", "write", "topic", "metrics-app1")
    assert not store.authorize("User:carol", "write", "topic", "logs-app1")


def test_acl_wildcard_principal_describe_delete(tmp_path):
    p = str(tmp_path / "acls.json")
    store = AclStore(p)
    store.create(AclBinding("*", "group", "g1", "literal", "describe", "allow"))
    assert store.authorize("User:anyone", "describe", "group", "g1")
    # persisted across restart
    store2 = AclStore(p)
    assert len(store2.describe(resource_type="group")) == 1
    removed = store2.delete(principal="*")
    assert len(removed) == 1
    assert not store2.authorize("User:anyone", "describe", "group", "g1")


def test_acl_implied_describe():
    """Kafka's documented implication: READ/WRITE/DELETE/ALTER grant
    DESCRIBE; ALTER_CONFIGS grants DESCRIBE_CONFIGS (reference
    `security/acl.h` acl_implied_ops). Implication is ALLOW-side only."""
    store = AclStore()
    store.create(AclBinding("User:a", "topic", "t", "literal", "read", "allow"))
    assert store.authorize("User:a", "describe", "topic", "t")
    assert not store.authorize("User:a", "write", "topic", "t")
    store.create(
        AclBinding("User:b", "topic", "t", "literal", "alter_configs", "allow")
    )
    assert store.authorize("User:b", "describe_configs", "topic", "t")
    assert not store.authorize("User:b", "describe", "topic", "t")
    # a DENY on read does NOT imply a deny on describe — the allow from
    # another binding still carries it
    store.create(AclBinding("User:c", "topic", "t", "literal", "write", "allow"))
    store.create(AclBinding("User:c", "topic", "t", "literal", "read", "deny"))
    assert store.authorize("User:c", "describe", "topic", "t")
    assert not store.authorize("User:c", "read", "topic", "t")


def test_acl_host_scoping():
    store = AclStore()
    store.create(
        AclBinding(
            "User:a", "topic", "t", "literal", "read", "allow", host="10.0.0.5"
        )
    )
    assert store.authorize("User:a", "read", "topic", "t", host="10.0.0.5")
    assert not store.authorize("User:a", "read", "topic", "t", host="10.0.0.6")
    # a request without a host matches only "*"-host bindings
    assert not store.authorize("User:a", "read", "topic", "t")
    store.create(AclBinding("User:a", "topic", "t", "literal", "read", "deny"))
    # the wildcard-host deny blocks the host-scoped allow
    assert not store.authorize("User:a", "read", "topic", "t", host="10.0.0.5")


def test_acl_superusers_and_allow_everyone():
    store = AclStore(superusers={"User:admin"})
    assert store.authorize("User:admin", "alter", "cluster", "kafka-cluster")
    assert not store.authorize("User:pleb", "alter", "cluster", "kafka-cluster")
    open_store = AclStore(allow_everyone_if_no_acl=True)
    # no bindings anywhere for the resource → everyone passes
    assert open_store.authorize("User:x", "write", "topic", "t")
    # ANY binding on the resource (even an unrelated principal's allow)
    # flips it back to explicit-grant-required
    open_store.create(
        AclBinding("User:y", "topic", "t", "literal", "read", "allow")
    )
    assert not open_store.authorize("User:x", "write", "topic", "t")
    assert open_store.authorize("User:x", "write", "topic", "other")


def test_acl_store_dataframe_view(spark):
    store = AclStore()
    store.create(AclBinding("User:a", "topic", "t", "literal", "read", "allow"))
    df = store.to_df(spark)
    assert df.count() == 1 and df.columns[0] == "principal"


def test_compaction_drops_aborted_records(spark, engine):
    """tx_reducer parity (compaction_reducers.h:217): an aborted write must
    not win keep-latest over an older committed value."""
    from pyspark.sql import functions as F

    engine.create_topic("c", TopicConfig(partitions=1, cleanup_policy="compact"))
    # committed (non-tx) write of key k -> v1
    engine.produce(
        "c",
        spark.createDataFrame(
            [Row(key=b"k", value=b"v1", partition=0)],
            "key binary, value binary, partition int",
        ),
    )
    # aborted transactional overwrite k -> v2 at a HIGHER offset
    tc = TxCoordinator(engine)
    tc.init_producer_id("txA")
    tc.produce(
        "txA",
        "c",
        spark.createDataFrame(
            [Row(key=b"k", value=b"v2", partition=0)],
            "key binary, value binary, partition int",
        ),
    )
    tc.abort("txA")
    engine.run_compaction("c")
    rows = engine.log("c").where(F.col("key") == b"k").collect()
    assert len(rows) == 1 and bytes(rows[0]["value"]) == b"v1"

def test_list_offsets_read_committed_returns_lso(spark, engine):
    """ListOffsets latest special is isolation-aware: read_committed gets
    the LSO, read_uncommitted the HWM (list_offsets.cc:100-132)."""
    engine.create_topic("lo", TopicConfig(partitions=1))
    tc = TxCoordinator(engine)
    tc.init_producer_id("txA")
    engine.produce("lo", _batch(spark, ["before"]))      # offset 0
    tc.produce("txA", "lo", _batch(spark, ["txrow"]))    # offset 1, open
    engine.produce("lo", _batch(spark, ["after"]))       # offset 2
    hwm = engine.list_offsets("lo").collect()[0]
    assert hwm["latest_offset"] == 3
    lso = engine.list_offsets("lo", isolation="read_committed").collect()[0]
    assert lso["latest_offset"] == 1
    tc.commit("txA")
    lso2 = engine.list_offsets("lo", isolation="read_committed").collect()[0]
    assert lso2["latest_offset"] == 3


def test_compaction_retains_committed_value_under_open_tx(spark, engine):
    """An OPEN transaction's overwrite must not evict the older committed
    value during compaction: if the tx later aborts, the committed value
    would be lost forever. The reference bounds compaction below the LSO."""
    from pyspark.sql import functions as F

    engine.create_topic("oc", TopicConfig(partitions=1, cleanup_policy="compact"))
    engine.produce(
        "oc",
        spark.createDataFrame(
            [Row(key=b"k", value=b"committed", partition=0)],
            "key binary, value binary, partition int",
        ),
    )
    tc = TxCoordinator(engine)
    tc.init_producer_id("txA")
    tc.produce(
        "txA",
        "oc",
        spark.createDataFrame(
            [Row(key=b"k", value=b"uncommitted", partition=0)],
            "key binary, value binary, partition int",
        ),
    )
    engine.run_compaction("oc")  # tx still open
    vals = sorted(
        bytes(r["value"]) for r in engine.log("oc").where(F.col("key") == b"k").collect()
    )
    # both rows survive: committed value intact, open-tx row untouched
    assert vals == [b"committed", b"uncommitted"]
    tc.abort("txA")
    assert _committed_values(engine, "oc") == ["committed"]
    # after the abort, a second compaction drops the aborted overwrite
    engine.run_compaction("oc")
    rows = engine.log("oc").where(F.col("key") == b"k").collect()
    assert len(rows) == 1 and bytes(rows[0]["value"]) == b"committed"


def test_delete_topic_purges_tx_and_offset_state(spark, engine):
    """Recreating a deleted topic must not inherit its predecessor's tx
    ranges (a stale open range would gate the LSO forever) or committed
    consumer offsets."""
    engine.create_topic("dp", TopicConfig(partitions=1))
    tc = TxCoordinator(engine)
    tc.init_producer_id("txA")
    tc.produce("txA", "dp", _batch(spark, ["staged"]))  # leaves an OPEN range
    engine.offset_commit("g1", "dp", 0, 5)
    engine.delete_topic("dp")

    engine.create_topic("dp", TopicConfig(partitions=1))
    engine.produce("dp", _batch(spark, ["fresh"]))
    # no inherited open range: read_committed sees the new row immediately
    assert _committed_values(engine, "dp") == ["fresh"]
    lo = engine.list_offsets("dp", isolation="read_committed").collect()[0]
    assert lo["latest_offset"] == 1
    # no inherited consumer offsets
    assert engine.offset_fetch("g1").where("topic = 'dp'").count() == 0


def test_audit_log_dedup_drain_and_query(spark, tmp_path):
    """API events dedup in the buffer (identical events collapse with a
    count, audit_log_manager.h multi-index parity), drain lands them on
    the audit topic, and the typed query reads them back."""
    from redpanda_spark.audit import AuditLogManager
    from redpanda_spark.engine import TopicEngine

    engine = TopicEngine(spark, str(tmp_path / "audit_root"))
    audit = AuditLogManager(engine, excluded_principals={"svc-probe"})

    for _ in range(3):  # identical -> one record, count 3
        audit.enqueue_api_event("create_topics", "alice", "topic:t1")
    audit.enqueue_api_event("delete_topics", "bob", "topic:t2", outcome="failure",
                            reason="unknown topic")
    audit.enqueue_authn_event("mallory", "failure")
    assert not audit.enqueue_api_event("create_topics", "svc-probe", "topic:x")
    assert audit.pending() == 3

    assert audit.drain() == 3
    assert audit.pending() == 0 and audit.drain() == 0

    ev = {r["api"]: r for r in audit.events().collect()}
    assert ev["create_topics"]["count"] == 3
    assert ev["create_topics"]["principal"] == "alice"
    assert ev["delete_topics"]["outcome"] == "failure"
    assert ev["SASL-SCRAM"]["class"] == "authentication"

    # second drain appends (offsets advance, prior events intact)
    audit.enqueue_api_event("alter_configs", "alice", "topic:t1")
    audit.drain()
    assert audit.events().count() == 4


def test_audited_authorize_records_decisions(spark, tmp_path):
    from redpanda_spark.audit import AuditLogManager, audited_authorize
    from redpanda_spark.engine import TopicEngine
    from redpanda_spark.security import AclBinding, AclStore

    engine = TopicEngine(spark, str(tmp_path / "authz_root"))
    acls = AclStore()
    acls.create(
        AclBinding("alice", "topic", "t1", "literal", "read", "allow")
    )
    audit = AuditLogManager(engine)
    authorize = audited_authorize(acls, audit)

    assert authorize("alice", "read", "topic", "t1") is True
    assert authorize("eve", "read", "topic", "t1") is False
    audit.drain()
    got = {(r["principal"], r["outcome"]) for r in audit.events().collect()}
    assert got == {("alice", "allowed"), ("eve", "denied")}


def test_transaction_timeout_expiry_aborts_and_unblocks_lso(spark, engine):
    """tm_stm periodic expiry: a hung producer's transaction is aborted
    once it outlives transaction.timeout.ms, releasing the LSO so
    read_committed readers see later data; a fresh transaction and
    already-completed ones are untouched."""
    import time

    engine.create_topic("t", TopicConfig(partitions=1))
    tc = TxCoordinator(engine)
    tc.init_producer_id("hung", transaction_timeout_ms=50)
    tc.produce("hung", "t", _batch(spark, ["dead1", "dead2"]))
    tc.init_producer_id("fresh", transaction_timeout_ms=60_000)
    tc.produce("fresh", "t", _batch(spark, ["live"]))
    tc.init_producer_id("done", transaction_timeout_ms=50)
    tc.produce("done", "t", _batch(spark, ["ok"]))
    tc.commit("done")

    start = tc._txs["hung"].started_at_ms
    expired = tc.expire_transactions(now_ms=start + 51)
    assert expired == ["hung"]
    assert tc.describe_transaction("hung")["state"] == "Aborted"
    assert tc.describe_transaction("fresh")["state"] == "Ongoing"
    assert tc.describe_transaction("done")["state"] == "Committed"
    # second sweep is a no-op
    assert tc.expire_transactions(now_ms=start + 52) == []

    # hung's rows are filtered as aborted; fresh still gates the LSO
    tc.commit("fresh")
    assert _committed_values(engine, "t") == ["live", "ok"]

    # expiry state survives coordinator restart (persisted timeout/start)
    tc2 = TxCoordinator(engine)
    assert tc2.describe_transaction("hung")["state"] == "Aborted"


def _rc_tail(engine, topic, offset=0):
    hits = engine.counters(topic).get("tail_cache_hits", 0)
    rows = engine.fetch_rows(topic, 0, offset=offset, isolation="read_committed")
    assert engine.counters(topic)["tail_cache_hits"] == hits + 1, (
        "tail declined a read_committed poll"
    )
    return [bytes(r["value"]).decode() for r in rows]


def _rc_scan(engine, topic, offset=0):
    rows = engine.fetch(topic, 0, offset=offset, isolation="read_committed").collect()
    rows.sort(key=lambda r: r["offset"])
    return [bytes(r["value"]).decode() for r in rows]


def test_read_committed_served_from_hot_tail_zero_jobs(spark, engine):
    """read_committed polls are served by the zero-job hot-tail path
    (reference: the batch cache answers ALL fetches with the LSO applied
    as a bound, `handlers/fetch.cc:355-399`): the in-process LSO gate,
    aborted-range filter, and control drop must match the relational
    read_committed scan through open/commit/abort interleavings — with
    ZERO Spark jobs on the tail calls."""
    from redpanda_spark.verifier import verify_tail_consistency

    engine.create_topic("t", TopicConfig(partitions=1))
    tc = TxCoordinator(engine)
    tc.init_producer_id("txA")
    engine.produce("t", [{"key": None, "value": b"plain0", "partition": 0}])
    # record-list tx produce: rides the zero-job path, keeps the tail warm
    tc.produce("txA", "t", [
        {"key": None, "value": b"tx1", "partition": 0},
        {"key": None, "value": b"tx2", "partition": 0},
    ])  # offsets 1,2 open

    # open txn: LSO = 1 gates the tail answer (scan agrees)
    assert _rc_scan(engine, "t") == ["plain0"]
    sc = spark.sparkContext
    sc.setJobGroup("rc-tail", "read_committed tail must be job-free")
    try:
        assert _rc_tail(engine, "t") == ["plain0"]
    finally:
        sc.setJobGroup("", "")
    assert list(sc.statusTracker().getJobIdsForGroup("rc-tail")) == []

    # commit: LSO advances, tx rows visible from the tail
    tc.commit("txA")
    assert _rc_tail(engine, "t") == _rc_scan(engine, "t") == [
        "plain0", "tx1", "tx2"
    ]

    # abort a second txn: its rows stay in the tail but are filtered
    tc.produce("txA", "t", [
        {"key": None, "value": b"dead1", "partition": 0},
        {"key": None, "value": b"dead2", "partition": 0},
    ])  # offsets 3,4
    tc.abort("txA")
    assert _rc_tail(engine, "t") == _rc_scan(engine, "t") == [
        "plain0", "tx1", "tx2"
    ]

    # non-transactional append after the abort is visible immediately
    engine.produce("t", [{"key": None, "value": b"plain5", "partition": 0}])
    assert _rc_tail(engine, "t") == _rc_scan(engine, "t") == [
        "plain0", "tx1", "tx2", "plain5"
    ]
    # mid-tail start offset honors the same filters
    assert _rc_tail(engine, "t", offset=3) == _rc_scan(engine, "t", offset=3)

    # the verifier's invariant (read_uncommitted AND read_committed twins)
    assert verify_tail_consistency(engine, "t")["ok"]


def test_record_produce_missing_value_field_is_invalid(spark, engine):
    """A record dict without a 'value' field raises INVALID_RECORD (clean
    error surface), not a raw KeyError mid-produce."""
    from redpanda_spark.engine import ProduceError

    engine.create_topic("t", TopicConfig(partitions=1, max_message_bytes=1024))
    with pytest.raises(ProduceError) as ei:
        engine.produce("t", [{"key": b"k"}])
    assert ei.value.code == "INVALID_RECORD"
    # and nothing was committed
    assert engine.high_watermarks("t") == {0: 0}


def test_expired_zombie_is_fenced_not_half_committed(spark, engine):
    """r9 regression: after a timeout abort the coordinator bumps the
    epoch, so the unaware (zombie) incarnation presenting its old epoch
    is fenced on produce AND commit — it can never commit the second
    half of a transaction whose first half was aborted."""
    engine.create_topic("t", TopicConfig(partitions=1))
    tc = TxCoordinator(engine)
    pid, epoch = tc.init_producer_id("txA", transaction_timeout_ms=1)
    tc.produce("txA", "t", _batch(spark, ["half1"]), producer_epoch=epoch)
    import time

    time.sleep(0.01)
    assert tc.expire_transactions() == ["txA"]
    # zombie continues with its OLD epoch: every request fenced
    with pytest.raises(TxError, match="INVALID_PRODUCER_EPOCH"):
        tc.produce("txA", "t", _batch(spark, ["half2"]), producer_epoch=epoch)
    with pytest.raises(TxError, match="INVALID_PRODUCER_EPOCH"):
        tc.commit("txA", producer_epoch=epoch)
    with pytest.raises(TxError, match="INVALID_PRODUCER_EPOCH"):
        tc.txn_offset_commit("txA", "g", "t", 0, 1, producer_epoch=epoch)
    assert _committed_values(engine, "t") == []  # nothing half-committed


def test_offsets_only_transaction(spark, engine):
    """r9 regression: a consume-only transaction (offsets, no produce)
    is legal — AddOffsetsToTxn starts the transaction in Kafka; the
    offsets land atomically at commit."""
    engine.create_topic("t", TopicConfig(partitions=1))
    tc = TxCoordinator(engine)
    tc.init_producer_id("txO")
    tc.txn_offset_commit("txO", "g1", "t", 0, 7)  # no prior produce
    fetched = {
        (r["topic"], r["partition"]): r["committed_offset"]
        for r in engine.offset_fetch("g1").collect()
    }
    assert fetched == {}  # staged only, not visible pre-commit
    tc.commit("txO")
    fetched = {
        (r["topic"], r["partition"]): r["committed_offset"]
        for r in engine.offset_fetch("g1").collect()
    }
    assert fetched == {("t", 0): 7}


def test_idempotent_dedup_passes_unsequenced_tx_records(spark):
    """r9 regression: coordinator-produced transactional records carry
    base_sequence=-1 — they must pass through dedup untouched, not
    collapse to one record per (pid, epoch)."""
    from redpanda_spark.operators.transactions import idempotent_dedup

    rows = [
        # unsequenced transactional records from one producer
        (0, 10, 0, -1, 0, b"t1"),
        (0, 10, 0, -1, 1, b"t2"),
        (0, 10, 0, -1, 2, b"t3"),
        # sequenced records: duplicate seq collapses
        (0, 11, 0, 5, 3, b"s"),
        (0, 11, 0, 5, 4, b"s-dup"),
        # plain producer
        (0, -1, -1, -1, 5, b"p"),
    ]
    log = spark.createDataFrame(
        rows,
        "partition int, producer_id long, producer_epoch int,"
        " base_sequence long, offset long, value binary",
    )
    vals = sorted(bytes(r["value"]).decode() for r in idempotent_dedup(log).collect())
    assert vals == ["p", "s", "t1", "t2", "t3"]


def test_metadata_stores_persist_on_uri_root(spark, tmp_path):
    """Every driver-side metadata store — tx coordinator, client quotas,
    producer ids, ACLs, schema registry — must persist through the
    root's filesystem abstraction, so a file:/s3a: root works like a
    plain path. Pre-fix, raw os IO read nothing at load and crashed at
    save on exactly the object-store deployments the engine targets."""
    from redpanda_spark.admin import AdminClient
    from redpanda_spark.registry.store import SchemaRegistry

    root = "file://" + str(tmp_path / "topics")
    eng = TopicEngine(spark, root)
    eng.create_topic("t", TopicConfig(partitions=1))

    # tx coordinator: full begin→produce→commit cycle, state durable
    tc = TxCoordinator(eng)
    tc.init_producer_id("txA")
    tc.produce("txA", "t", _batch(spark, ["a", "b"]))
    tc.commit("txA")
    assert _committed_values(eng, "t") == ["a", "b"]

    # quotas + producer ids through the admin surface
    admin = AdminClient(eng)
    admin.alter_client_quota("client-1", "producer_byte_rate", 1024.0)
    pid_plain, _ = admin.init_producer_id(None)

    # ACLs + schema registry opt into the engine's fsio
    acls = AclStore(
        path=root + "/_acls.json", fsio=eng._fsio, superusers={"User:root"}
    )
    acls.create(
        AclBinding("User:alice", "topic", "t", "literal", "read", "allow")
    )
    reg = SchemaRegistry(root + "/_schema_registry.json", fsio=eng._fsio)
    sid = reg.register("t-value", '"string"', "AVRO")

    # a fresh engine + stores over the same URI root see all of it
    eng2 = TopicEngine(spark, root)
    tc2 = TxCoordinator(eng2)
    pid_a, epoch_a = tc2.init_producer_id("txA")
    assert epoch_a >= 1  # bumped over the persisted incarnation
    admin2 = AdminClient(eng2)
    assert (
        admin2.describe_client_quotas()["client-1"]["producer_byte_rate"]
        == 1024.0
    )
    pid_plain2, _ = admin2.init_producer_id(None)
    assert pid_plain2 > pid_plain  # allocator state survived
    acls2 = AclStore(path=root + "/_acls.json", fsio=eng2._fsio)
    assert acls2.authorize("User:alice", "read", "topic", "t")
    reg2 = SchemaRegistry(root + "/_schema_registry.json", fsio=eng2._fsio)
    assert reg2.get_by_id(sid).schema == '"string"'


def test_authorize_audit_matches_acl_store(spark):
    """The Spark authorization-audit operator must equal
    `AclStore.authorize` row for row on randomized bindings and request
    logs — principals, hosts, literal/prefixed patterns, implied
    operations, DENY precedence, super-users, and the allow-everyone
    fallback all exercised under a fixed seed."""
    import random

    from redpanda_spark.security import authorize_audit

    rng = random.Random(2024)
    ops = ["read", "write", "describe", "alter", "describe_configs", "all"]
    req_ops = ["read", "write", "describe", "alter", "describe_configs"]
    bindings = []
    for _ in range(30):
        bindings.append(
            AclBinding(
                principal=rng.choice(["*", "User:a", "User:b", "User:c"]),
                resource_type=rng.choice(["topic", "group"]),
                resource_name=rng.choice(["*", "t1", "t2", "orders", "ord"]),
                pattern_type=rng.choice(["literal", "prefixed"]),
                operation=rng.choice(ops),
                permission=rng.choice(["allow", "allow", "deny"]),
                host=rng.choice(["*", "h1", "h2"]),
            )
        )
    requests = [
        (
            rng.choice(["User:a", "User:b", "User:c", "User:root"]),
            rng.choice(req_ops),
            rng.choice(["topic", "group"]),
            rng.choice(["t1", "t2", "orders", "orders-eu", "other"]),
            rng.choice(["h1", "h2", "h3", None]),
        )
        for _ in range(300)
    ]
    for allow_everyone in (False, True):
        store = AclStore(
            superusers={"User:root"},
            allow_everyone_if_no_acl=allow_everyone,
        )
        for b in bindings:
            store.create(b)
        expected = [
            store.authorize(p, op, rt, rn, host=h)
            for (p, op, rt, rn, h) in requests
        ]
        from dataclasses import asdict

        bdf = spark.createDataFrame([asdict(b) for b in bindings])
        rdf = spark.createDataFrame(
            [
                (i, p, op, rt, rn, h)
                for i, (p, op, rt, rn, h) in enumerate(requests)
            ],
            "req_no long, principal string, operation string,"
            " resource_type string, resource_name string, host string",
        )
        out = {
            r["req_no"]: r["allowed"]
            for r in authorize_audit(
                rdf,
                bdf,
                superusers=("User:root",),
                allow_everyone_if_no_acl=allow_everyone,
            ).collect()
        }
        got = [out[i] for i in range(len(requests))]
        assert got == expected, (
            f"allow_everyone={allow_everyone}: "
            f"{[i for i,(g,e) in enumerate(zip(got,expected)) if g!=e][:5]}"
        )
