"""Consumer-client e2e — the consumer_group_test.py lifecycle: group
formation, partition split, exactly-once consumption across members,
committed-offset resume, rebalance on leave, static-member restart."""

from __future__ import annotations

from pyspark.sql import Row

from redpanda_spark.consumer import Consumer
from redpanda_spark.engine import TopicConfig, TopicEngine
from redpanda_spark.operators.coordinator import GroupManager


def _setup(spark, tmp_path, n_parts=4, n_msgs=40):
    engine = TopicEngine(spark, str(tmp_path / "root"))
    engine.create_topic("t", TopicConfig(partitions=n_parts))
    rows = [
        Row(partition=i % n_parts, key=f"k{i}".encode(), value=f"v{i}".encode())
        for i in range(n_msgs)
    ]
    engine.produce(
        "t", spark.createDataFrame(rows, "partition int, key binary, value binary")
    )
    mgr = GroupManager({"t": n_parts}, engine=engine)
    return engine, mgr


def _drain(consumer):
    vals = []
    for rows in consumer.poll().values():
        vals += [bytes(r["value"]).decode() for r in rows]
    return vals


def test_two_consumers_split_partitions_exactly_once(spark, tmp_path):
    engine, mgr = _setup(spark, tmp_path)
    a = Consumer(engine, mgr, "g", ["t"])
    b = Consumer(engine, mgr, "g", ["t"])
    a.subscribe()
    assert b.subscribe() == {}          # group rebalancing: b waits
    a.heartbeat()                        # a rejoins -> generation completes
    got_b = b.subscribe()
    got_a = a.assignment
    # the 4 partitions split disjointly and completely
    pa, pb = set(got_a.get("t", [])), set(got_b.get("t", []))
    assert pa and pb and not (pa & pb) and pa | pb == {0, 1, 2, 3}

    va, vb = _drain(a), _drain(b)
    assert not (set(va) & set(vb))
    assert sorted(va + vb) == sorted(f"v{i}" for i in range(40))  # exactly once
    a.commit()
    b.commit()

    # new records: next polls see ONLY them (resume from committed)
    engine.produce(
        "t",
        spark.createDataFrame(
            [Row(partition=0, key=b"kx", value=b"new0"),
             Row(partition=3, key=b"ky", value=b"new3")],
            "partition int, key binary, value binary",
        ),
    )
    fresh = _drain(a) + _drain(b)
    assert sorted(fresh) == ["new0", "new3"]


def test_committed_offsets_survive_member_restart(spark, tmp_path):
    engine, mgr = _setup(spark, tmp_path, n_parts=2, n_msgs=10)
    c = Consumer(engine, mgr, "g2", ["t"])
    c.subscribe()
    assert len(_drain(c)) == 10
    c.commit()
    c.close()

    c2 = Consumer(engine, mgr, "g2", ["t"])
    c2.subscribe()
    assert _drain(c2) == []  # nothing new; committed offsets held
    # latest-reset consumer in a FRESH group skips the backlog
    c3 = Consumer(engine, mgr, "g3", ["t"], auto_offset_reset="latest")
    c3.subscribe()
    assert _drain(c3) == []
    # earliest-reset fresh group reads everything
    c4 = Consumer(engine, mgr, "g4", ["t"])
    c4.subscribe()
    assert len(_drain(c4)) == 10


class _NoJvm:
    """A stand-in for the engine's session that fails any use."""

    def __getattr__(self, name):
        raise AssertionError(f"the JVM was asked for spark.{name}")


def test_consumer_start_from_committed_offsets_makes_no_jvm_call(
    spark, tmp_path, monkeypatch
):
    """Joining, resolving the committed start positions and polling from
    them run in-process: the positions come from the engine's replayed
    group map (OffsetFetch from coordinator state), not a DataFrame."""
    engine, _ = _setup(spark, tmp_path, n_parts=2, n_msgs=10)
    engine.offset_commit_batch("g", {("t", 0): 3, ("t", 1): 4})
    fresh = TopicEngine(spark, engine.root)
    mgr = GroupManager({"t": 2}, engine=fresh)
    monkeypatch.setattr(fresh, "spark", _NoJvm())
    c = Consumer(fresh, mgr, "g", ["t"])
    assert c.subscribe() == {"t": [0, 1]}
    assert (c.position("t", 0), c.position("t", 1)) == (3, 4)
    got = c.poll()
    assert [r["offset"] for r in got[("t", 0)]] == [3, 4]
    assert [r["offset"] for r in got[("t", 1)]] == [4]


def test_rebalance_on_member_leave(spark, tmp_path):
    engine, mgr = _setup(spark, tmp_path, n_parts=2, n_msgs=4)
    a = Consumer(engine, mgr, "g5", ["t"])
    b = Consumer(engine, mgr, "g5", ["t"])
    a.subscribe(); b.subscribe(); a.heartbeat(); b.subscribe()
    assert len(a.assignment.get("t", [])) == 1
    b.close()  # dynamic leave -> rebalance
    a.heartbeat()  # rejoin picks up both partitions
    assert sorted(a.assignment["t"]) == [0, 1]


def test_static_consumer_restart_keeps_assignment(spark, tmp_path):
    engine, mgr = _setup(spark, tmp_path, n_parts=2, n_msgs=4)
    s = Consumer(engine, mgr, "g6", ["t"], group_instance_id="app-0")
    assigned = s.subscribe()
    gen = s.generation
    s.close()  # static: slot survives
    s2 = Consumer(engine, mgr, "g6", ["t"], group_instance_id="app-0")
    assert s2.subscribe() == assigned
    assert s2.generation == gen  # no rebalance happened


def test_topic_stats_o1_surface(spark, tmp_path):
    engine, _ = _setup(spark, tmp_path, n_parts=2, n_msgs=10)
    st = engine.topic_stats("t")
    assert st["segments"] >= 1 and st["bytes"] > 0
    assert st["rows"] == 10
    assert sum(st["high_watermarks"].values()) == 10
    assert st["log_starts"] == {} and st["producers_tracked"] == 0


def test_eos_consume_transform_produce(spark, tmp_path):
    """Exactly-once pipeline: consume from 'in', produce transformed
    records to 'out' and commit the consumer offsets IN THE SAME
    transaction (TxnOffsetCommit + EndTxn). An aborted attempt leaves
    neither output records (read_committed) nor advanced offsets; the
    committed retry leaves both, once."""
    from redpanda_spark.consumer import Consumer
    from redpanda_spark.operators.txcoord import TxCoordinator
    from pyspark.sql import functions as F

    engine, mgr = _setup(spark, tmp_path, n_parts=1, n_msgs=5)
    engine.create_topic("out", TopicConfig(partitions=1))
    tc = TxCoordinator(engine)
    tc.init_producer_id("etl")

    c = Consumer(engine, mgr, "etl-g", ["t"])
    c.subscribe()
    polled = c.poll()[("t", 0)]
    batch = spark.createDataFrame(
        [(bytes(r["key"]), bytes(r["value"]).upper()) for r in polled],
        "key binary, value binary",
    )

    # attempt 1: produce + stage offsets, then ABORT
    tc.produce("etl", "out", batch)
    tc.txn_offset_commit("etl", "etl-g", "t", 0, c._positions[("t", 0)])
    tc.abort("etl")
    committed_rows = engine.fetch("out", 0, isolation="read_committed").count()
    assert committed_rows == 0  # aborted writes invisible
    assert engine.offset_fetch("etl-g").where(F.col("topic") == "t").count() == 0

    # attempt 2 (retry after abort): produce + stage + COMMIT
    tc.produce("etl", "out", batch)
    tc.txn_offset_commit("etl", "etl-g", "t", 0, c._positions[("t", 0)])
    tc.commit("etl")
    vals = sorted(
        bytes(r["value"]).decode()
        for r in engine.fetch("out", 0, isolation="read_committed").collect()
    )
    assert vals == ["V0", "V1", "V2", "V3", "V4"]  # exactly once, committed
    off = engine.offset_fetch("etl-g").where(F.col("topic") == "t").collect()
    assert off and off[0]["committed_offset"] == 5

    # a fresh consumer in the group resumes past the processed records
    c2 = Consumer(engine, mgr, "etl-g", ["t"])
    c.close()
    c2.subscribe()
    assert c2.poll()[("t", 0)] == []


def test_seek_pause_resume_position(spark, tmp_path):
    """KafkaConsumer flow-control surface: seek replays, pause skips a
    partition without losing its position, resume continues, position
    reports the next offset to read."""
    engine, mgr = _setup(spark, tmp_path, n_parts=2, n_msgs=20)
    c = Consumer(engine, mgr, "gf", ["t"])
    c.subscribe()
    assert sorted(c.assignment["t"]) == [0, 1]

    first = c.poll()
    n_all = sum(len(v) for v in first.values())
    assert n_all == 20
    assert c.position("t", 0) == 10  # 20 msgs round-robined over 2 parts

    # seek back and replay partition 0 only
    c.seek("t", 0, 0)
    c.pause("t", 1)
    replay = c.poll()
    assert ("t", 1) not in replay
    assert len(replay[("t", 0)]) == 10
    assert c.paused() == {("t", 1)}

    # resume: partition 1 continues from its kept position (no new data)
    c.resume("t", 1)
    again = c.poll()
    assert again[("t", 1)] == []

    # seek_to_beginning/end bracket the log
    c.seek_to_beginning("t", 1)
    assert c.position("t", 1) == 0
    c.seek_to_end("t", 1)
    assert c.position("t", 1) == 10

    # unassigned partition is rejected
    import pytest as _pytest

    with _pytest.raises(RuntimeError):
        c.seek("t", 7, 0)


def test_pattern_subscription_and_offsets_for_times(spark, tmp_path):
    from redpanda_spark.engine import TopicConfig, TopicEngine
    from redpanda_spark.operators.coordinator import GroupManager

    engine = TopicEngine(spark, str(tmp_path / "root"))
    for t in ("app.a", "app.b", "other"):
        engine.create_topic(t, TopicConfig(partitions=1))
        engine.produce(
            t,
            spark.createDataFrame(
                [Row(partition=0, key=None, value=t.encode(),
                     timestamp=__import__("datetime").datetime(2024, 1, 2))],
                "partition int, key binary, value binary, timestamp timestamp",
            ),
        )
    mgr = GroupManager({t: 1 for t in ("app.a", "app.b", "other")}, engine=engine)
    c = Consumer(engine, mgr, "gp", ["~app\\..*"])
    c.subscribe()
    assert sorted(c.assignment) == ["app.a", "app.b"]
    got = {k: [bytes(r["value"]).decode() for r in v] for k, v in c.poll().items()}
    assert got == {("app.a", 0): ["app.a"], ("app.b", 0): ["app.b"]}

    offs = c.offsets_for_times("2024-01-01 00:00:00")
    assert offs == {("app.a", 0): 0, ("app.b", 0): 0}
    offs_late = c.offsets_for_times("2024-06-01 00:00:00")
    assert offs_late == {("app.a", 0): None, ("app.b", 0): None}


def test_consumer_poll_hot_tail_zero_jobs_and_byte_budget(spark, tmp_path):
    """A consumer polling freshly produced records is served from the
    engine's hot-tail cache with ZERO Spark jobs, and the Kafka
    per-partition byte budget truncates at whole records. A consumer of
    a second engine on the root (empty tail) reads the same records from
    the segments, also with zero jobs, under the same budget."""
    from pyspark.sql import Row

    from redpanda_spark.consumer import Consumer
    from redpanda_spark.engine import TopicConfig, TopicEngine

    from redpanda_spark.operators.coordinator import GroupManager

    root = str(tmp_path / "t")
    eng = TopicEngine(spark, root)
    eng.create_topic("hotc", TopicConfig(partitions=1))
    mgr = GroupManager({"hotc": 1}, engine=eng)
    c = Consumer(eng, mgr, "g-hot", ["hotc"], auto_offset_reset="earliest")
    c.subscribe()
    c.poll()  # resolve start positions (one-time lookup, job-bearing)
    for i in range(6):
        eng.produce("hotc", [{"partition": 0, "key": b"k", "value": bytes(100)}])
    sc = spark.sparkContext
    sc.setJobGroup("consumer-hot", "poll must be job-free")
    try:
        # 117 bytes/record: budget 300 -> 3 records this poll
        out = c.poll(max_partition_fetch_bytes=300)
        assert [r["offset"] for r in out[("hotc", 0)]] == [0, 1, 2]
        out = c.poll()  # rest of the tail
        assert [r["offset"] for r in out[("hotc", 0)]] == [3, 4, 5]
    finally:
        sc.setJobGroup("", "")
    assert list(sc.statusTracker().getJobIdsForGroup("consumer-hot")) == []

    # a DataFrame batch: a Spark-written segment, and its manifest flip
    # empties the tail
    eng.produce("hotc", spark.createDataFrame(
        [Row(partition=0, key=b"k", value=bytes(100))] * 3,
        "partition int, key binary, value binary",
    ))
    eng2 = TopicEngine(spark, root)
    assert not eng2._tail
    c2 = Consumer(eng2, GroupManager({"hotc": 1}, engine=eng2), "g-cold",
                  ["hotc"], auto_offset_reset="earliest")
    sc.setJobGroup("consumer-cold", "segment reads must be job-free")
    try:
        c2.subscribe()
        polls = [c2.poll(max_partition_fetch_bytes=300)[("hotc", 0)]
                 for _ in range(4)]
    finally:
        sc.setJobGroup("", "")
    assert list(sc.statusTracker().getJobIdsForGroup("consumer-cold")) == []
    assert [[r["offset"] for r in rows] for rows in polls] == [
        [0, 1, 2], [3, 4, 5], [6, 7, 8], []
    ]
    assert [(r["key"], r["value"]) for rows in polls for r in rows] == [
        (b"k", bytes(100))
    ] * 9
    assert eng2.counters("hotc")["tail_cache_misses"] == 4


def test_unknown_member_heartbeat_rejoins_fresh(spark, tmp_path):
    """r9 regression: a consumer swept out by session expiry gets
    UNKNOWN_MEMBER_ID on its next heartbeat — a Kafka client resets its
    member_id and rejoins instead of erroring forever."""
    engine, mgr = _setup(spark, tmp_path)
    c = Consumer(engine, mgr, "g", ["t"])
    c.subscribe()
    old_member = c.member_id
    # coordinator-side session expiry sweeps the member
    g = mgr.get("g")
    g.members[old_member].last_heartbeat -= 10_000
    g.expire_members()
    assert old_member not in g.members
    code = c.heartbeat()  # must rejoin, not raise
    assert code == "REBALANCE_IN_PROGRESS"
    assert c.member_id is not None and c.member_id != old_member
    assert sorted(p for ps in c.assignment.values() for p in ps) == [0, 1, 2, 3]
    assert len(_drain(c)) == 40


def test_raced_follower_recovers_assignment_via_heartbeat(spark, tmp_path):
    """r9 regression: a follower whose sync raced the leader's during the
    rebalance holds an empty client-side assignment after the group goes
    Stable; its next heartbeat must fetch the coordinator-held
    assignment instead of idling on NONE with poll() erroring."""
    engine, mgr = _setup(spark, tmp_path)
    a = Consumer(engine, mgr, "g", ["t"])
    b = Consumer(engine, mgr, "g", ["t"])
    a.subscribe()
    b.subscribe()      # group now rebalancing for 2 members
    a.subscribe()      # a rejoins; generation completes; a is leader+synced
    if not b.assignment:
        # b's earlier sync raced: client-side empty while group is Stable
        code = b.heartbeat()
        assert b.assignment, f"heartbeat ({code}) must recover the assignment"
    got = sorted(
        p for c in (a, b) for ps in c.assignment.values() for p in ps
    )
    assert got == [0, 1, 2, 3]
    assert len(_drain(a)) + len(_drain(b)) == 40


def test_batched_commit_roundtrip(spark, tmp_path):
    """commit() writes the whole assignment as one append; positions
    resume exactly across a new member (single-job offset init path)."""
    engine, mgr = _setup(spark, tmp_path)
    c = Consumer(engine, mgr, "g", ["t"])
    c.subscribe()
    got = _drain(c)
    assert len(got) == 40
    c.commit()
    c.close()
    c2 = Consumer(engine, mgr, "g", ["t"])
    c2.subscribe()
    assert _drain(c2) == []  # committed positions: nothing left
