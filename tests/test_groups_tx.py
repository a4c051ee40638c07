"""Consumer-group offsets + transactional visibility tests, mirroring
reference scenarios from `kafka/server/tests/group_test.cc` and the
rm_stm / fetch read_committed paths."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from conftest import spark_jobs
from redpanda_spark.operators.groups import group_lag, offset_fetch
from redpanda_spark.operators.transactions import (
    idempotent_dedup,
    last_stable_offset,
    read_committed,
)


def commits_df(spark, rows):
    base = dict(leader_epoch=0, metadata="", deleted=False)
    return spark.createDataFrame([Row(**{**base, **r}) for r in rows])


def test_offset_fetch_keeps_latest_commit(spark):
    commits = commits_df(
        spark,
        [
            dict(group_id="g1", topic="t", partition=0, committed_offset=5, commit_seq=1),
            dict(group_id="g1", topic="t", partition=0, committed_offset=9, commit_seq=2),
            dict(group_id="g1", topic="t", partition=1, committed_offset=3, commit_seq=3),
        ],
    )
    out = {(r["group_id"], r["partition"]): r["committed_offset"] for r in offset_fetch(commits).collect()}
    assert out[("g1", 0)] == 9
    assert out[("g1", 1)] == 3


def test_offset_delete_tombstone_excluded(spark):
    commits = commits_df(
        spark,
        [
            dict(group_id="g1", topic="t", partition=0, committed_offset=5, commit_seq=1),
            dict(group_id="g1", topic="t", partition=0, committed_offset=0, commit_seq=2, deleted=True),
        ],
    )
    assert offset_fetch(commits).count() == 0


def test_group_lag(spark):
    commits = commits_df(
        spark,
        [dict(group_id="g1", topic="t", partition=0, committed_offset=7, commit_seq=1)],
    )
    ends = spark.createDataFrame([Row(topic="t", partition=0, high_watermark=10)])
    out = group_lag(commits, ends).collect()
    assert out[0]["lag"] == 3


def _txlog(spark):
    rows = []
    for off in range(10):
        rows.append(
            Row(
                partition=0,
                offset=off,
                producer_id=1 if 2 <= off <= 4 else (2 if 5 <= off <= 6 else -1),
                is_transactional=2 <= off <= 6,
                is_control=off == 9,
                payload=f"p{off}",
            )
        )
    return spark.createDataFrame(rows)


def test_read_committed_filters_aborted_and_lso(spark):
    log = _txlog(spark)
    tx = spark.createDataFrame(
        [
            Row(topic="t", partition=0, producer_id=1, first_offset=2, last_offset=4, outcome="aborted"),
            Row(topic="t", partition=0, producer_id=2, first_offset=5, last_offset=6, outcome="committed"),
        ]
    )
    out = sorted(r["offset"] for r in read_committed(log, tx).collect())
    # aborted range 2-4 dropped, control row 9 dropped, committed 5-6 kept
    assert out == [0, 1, 5, 6, 7, 8]


def test_lso_gates_open_transactions(spark):
    log = _txlog(spark)
    tx = spark.createDataFrame(
        [Row(topic="t", partition=0, producer_id=1, first_offset=2, last_offset=4, outcome="open")]
    )
    lso = last_stable_offset(log, tx).collect()[0]["lso"]
    assert lso == 2  # reads stop at the first open txn's first offset
    out = sorted(r["offset"] for r in read_committed(log, tx).collect())
    assert out == [0, 1]


def test_idempotent_dedup_keeps_first(spark):
    rows = [
        Row(partition=0, offset=0, producer_id=1, producer_epoch=0, base_sequence=0, v="a"),
        Row(partition=0, offset=1, producer_id=1, producer_epoch=0, base_sequence=0, v="dup"),
        Row(partition=0, offset=2, producer_id=1, producer_epoch=0, base_sequence=1, v="b"),
        Row(partition=0, offset=3, producer_id=-1, producer_epoch=-1, base_sequence=-1, v="x"),
        Row(partition=0, offset=4, producer_id=-1, producer_epoch=-1, base_sequence=-1, v="y"),
    ]
    log = spark.createDataFrame(rows)
    out = idempotent_dedup(log)
    offsets = sorted(r["offset"] for r in out.collect())
    # dup at offset 1 dropped; non-idempotent rows (pid=-1) never deduped
    assert offsets == [0, 2, 3, 4]


def test_expired_offsets_kip211_rules(spark, tmp_path):
    """KIP-211 expiry on the engine, decided from the replayed map with no
    Spark job: a partition's latest commit expires when it is older than
    the retention and its group has no live members."""
    from redpanda_spark.engine import TopicEngine

    eng = TopicEngine(spark, str(tmp_path / "root"))
    ms = 1_000_000  # ns per ms

    def commit(group, partition, offset, at_ms):
        eng._group_append([(
            ("offset", group, "t", partition),
            {"committed_offset": offset, "leader_epoch": 0, "metadata": "",
             "commit_seq": at_ms * ms},
        )])

    # stale group: latest commit far past retention -> expirable
    commit("dead", 0, 5, 10)
    # fresh commit protects its slot
    commit("live", 0, 7, 990)
    # stale latest, but group has active members -> protected
    commit("act", 0, 3, 10)
    # earlier stale commit shadowed by a fresh one -> protected
    commit("live", 1, 1, 10)
    commit("live", 1, 2, 995)
    n, jobs = spark_jobs(
        spark,
        "expire",
        lambda: eng.expire_offsets(
            retention_ms=100, now_ns=1000 * ms, active_group_ids=["act"]
        ),
    )
    assert n == 1 and jobs == []
    left = {(r["group_id"], r["partition"]) for r in eng.offset_fetch().collect()}
    assert left == {("live", 0), ("act", 0), ("live", 1)}


def test_engine_expire_offsets_tombstones(spark, tmp_path):
    import time

    from redpanda_spark.engine import TopicConfig, TopicEngine

    eng = TopicEngine(spark, str(tmp_path / "root"))
    eng.create_topic("t", TopicConfig(partitions=2))
    eng.offset_commit("g_old", "t", 0, 11)
    between = time.time_ns()
    eng.offset_commit("g_new", "t", 0, 22)
    # age g_old's commit: evaluate expiry exactly one retention after a
    # moment between the two commits
    retention_ms = 600_000
    now_ns = between + retention_ms * 1_000_000
    n = eng.expire_offsets(retention_ms=retention_ms, now_ns=now_ns)
    assert n == 1
    left = {r["group_id"] for r in eng.offset_fetch().collect()}
    assert left == {"g_new"}
    # idempotent: second run expires nothing new
    assert eng.expire_offsets(retention_ms=retention_ms, now_ns=now_ns) == 0


def test_compact_offsets_bounds_commit_log(spark, tmp_path):
    from redpanda_spark.engine import TopicConfig, TopicEngine

    eng = TopicEngine(spark, str(tmp_path / "root"))
    eng.create_topic("t", TopicConfig(partitions=2))
    for off in (1, 2, 3):
        eng.offset_commit("g", "t", 0, off)
    eng.offset_commit("g", "t", 1, 5)
    eng.offset_commit("gone", "t", 0, 9)
    eng.offset_delete("gone", "t", 0)
    stats = eng.compact_offsets()
    assert stats["before"] == 6 and stats["after"] == 2
    out = {
        (r["group_id"], r["partition"]): r["committed_offset"]
        for r in eng.offset_fetch().collect()
    }
    # latest offsets survive, tombstoned group is gone for good
    assert out == {("g", 0): 3, ("g", 1): 5}
    # commits after compaction still win keep-latest
    eng.offset_commit("g", "t", 0, 7)
    assert {
        r["committed_offset"]
        for r in eng.offset_fetch("g").where("partition = 0").collect()
    } == {7}
    # a freshly opened engine that has committed nothing compacts too
    assert TopicEngine(spark, eng.root).compact_offsets() == {
        "before": 3, "after": 2
    }


def test_group_state_commit_and_read_run_no_spark_job(spark, tmp_path):
    """Group state is records of the internal __consumer_offsets topic:
    on a local root a commit is one zero-job local produce, and a
    freshly opened engine replays it driver-side, also job-free."""
    from redpanda_spark.engine import TopicConfig, TopicEngine

    root = str(tmp_path / "root")
    eng = TopicEngine(spark, root)
    eng.create_topic("t", TopicConfig(partitions=4))
    _, jobs = spark_jobs(
        spark,
        "g-commit",
        lambda: eng.offset_commit_batch("g", {("t", p): 10 + p for p in range(4)}),
    )
    assert jobs == []
    snap = {"group_id": "g", "state": "Stable", "generation": 2,
            "protocol": "range", "leader": "m1", "members": {"m1": {}},
            "next_member": 2, "coop_followup": True}
    _, jobs = spark_jobs(spark, "g-meta", lambda: eng.group_metadata_append(snap))
    assert jobs == []

    fresh = TopicEngine(spark, root)
    rows, jobs = spark_jobs(spark, "g-fetch", lambda: fresh.offset_fetch("g").collect())
    assert jobs == []
    assert {(r["partition"], r["committed_offset"]) for r in rows} == {
        (p, 10 + p) for p in range(4)
    }
    assert fresh.offset_fetch().columns == [
        "group_id", "topic", "partition", "committed_offset",
        "leader_epoch", "metadata",
    ]
    snaps, jobs = spark_jobs(spark, "g-snaps", fresh.group_metadata_snapshots)
    assert jobs == []
    assert snaps == [snap]


def test_tx_ranges_without_transactions_runs_no_spark_job(spark, tmp_path):
    """With no transaction recorded, tx_ranges() is an empty Arrow
    LocalRelation (run_compaction broadcast-joins it on every call), so
    collecting it starts no Spark job."""
    from redpanda_spark.engine import TopicEngine

    eng = TopicEngine(spark, str(tmp_path / "root"))
    rows, jobs = spark_jobs(spark, "tx-empty", lambda: eng.tx_ranges().collect())
    assert jobs == [] and rows == []
    assert eng.tx_ranges().columns == [
        "topic", "partition", "producer_id", "first_offset", "last_offset",
        "outcome",
    ]


def test_tx_produce_commit_abort_run_no_spark_job(spark, tmp_path):
    """Tx ranges are "tx" records of __consumer_offsets: on a local root
    a transactional record-list produce (its open record), a commit and
    an abort each run zero Spark jobs. read_committed row fetches and
    list_offsets hide the aborted range and stop at the open one, and
    the live ranges survive compact_offsets and a reopen unchanged."""
    from redpanda_spark.engine import TopicConfig, TopicEngine
    from redpanda_spark.operators.txcoord import TxCoordinator

    root = str(tmp_path / "root")
    eng = TopicEngine(spark, root)
    eng.create_topic("t", TopicConfig(partitions=1))
    tc = TxCoordinator(eng)
    tc.init_producer_id("tx")

    def rec(v):
        return [{"key": None, "value": v.encode(), "partition": 0}]

    def tx(label, fn):
        _, jobs = spark_jobs(spark, label, fn)
        assert jobs == [], label

    tx("tx-produce-1", lambda: tc.produce("tx", "t", rec("c0")))  # offset 0
    tx("tx-commit", lambda: tc.commit("tx"))
    tx("tx-produce-2", lambda: tc.produce("tx", "t", rec("a1")))  # offset 1
    tx("tx-abort", lambda: tc.abort("tx"))
    eng.produce("t", rec("p2"))  # offset 2
    tx("tx-produce-3", lambda: tc.produce("tx", "t", rec("o3")))  # open at 3
    eng.produce("t", rec("p4"))  # offset 4, held back by the open range

    def rc_rows():
        rows = eng.fetch_rows("t", 0, isolation="read_committed")
        return [bytes(r["value"]).decode() for r in rows]

    def rc_latest():
        out = eng.list_offsets("t", isolation="read_committed").collect()
        return {r["partition"]: r["latest_offset"] for r in out}

    assert rc_rows() == ["c0", "p2"]
    assert rc_latest() == {0: 3}
    ranges = sorted(eng.tx_ranges().collect())
    assert [(r["first_offset"], r["outcome"]) for r in ranges] == [
        (0, "committed"), (1, "aborted"), (3, "open"),
    ]
    eng.compact_offsets()
    assert sorted(eng.tx_ranges().collect()) == ranges
    reopened = TopicEngine(spark, root, read_only=True)  # does not fence
    assert sorted(reopened.tx_ranges().collect()) == ranges
    tc.commit("tx")
    assert rc_rows() == ["c0", "p2", "o3", "p4"]
    assert rc_latest() == {0: 5}


def test_legacy_tx_ranges_side_table_refuses_to_open(spark, tmp_path):
    """A root that still holds the old `_tx_ranges` Parquet side table
    (or a crashed purge swap's copy) must not open as if no range were
    aborted: its aborted records would read as committed."""
    import os

    import pytest

    from redpanda_spark.engine import TopicEngine

    for d in ("_tx_ranges", "_tx_ranges.old", "_tx_ranges.purge.tmp"):
        root = tmp_path / d.strip("_")
        os.makedirs(root / d)
        (root / d / "part-00000.parquet").write_bytes(b"")
        with pytest.raises(ValueError, match=f"{d}: .*transaction ranges"):
            TopicEngine(spark, str(root))


def test_internal_offsets_topic_is_hidden_and_reserved(spark, tmp_path, capsys):
    import json

    import pytest

    from redpanda_spark.cli import main
    from redpanda_spark.engine import OFFSETS_TOPIC, TopicConfig, TopicEngine
    from redpanda_spark.rest import RestApp

    eng = TopicEngine(spark, str(tmp_path / "root"))
    eng.create_topic("t", TopicConfig(partitions=1))
    eng.offset_commit("g", "t", 0, 1)
    assert list(eng.list_topics()) == ["t"]
    assert list(TopicEngine(spark, eng.root).list_topics()) == ["t"]
    assert RestApp(eng).handle("GET", "/topics") == (200, ["t"])
    capsys.readouterr()
    assert main(["--root", eng.root, "topic", "list"]) == 0
    listed = [json.loads(x)["topic"] for x in capsys.readouterr().out.splitlines()]
    assert listed == ["t"]
    with pytest.raises(ValueError, match="reserved"):
        eng.create_topic(OFFSETS_TOPIC)


def test_legacy_group_side_tables_refuse_to_open(spark, tmp_path):
    """A root that still holds the old Parquet side tables must not open
    as if it had no committed offsets."""
    import os

    import pytest

    from redpanda_spark.engine import TopicEngine

    # a crashed purge swap of the old side tables could leave the only
    # copy in ``.old`` or ``.purge.tmp``
    for base in ("_consumer_offsets", "_groups"):
        for d in (base, base + ".old", base + ".purge.tmp"):
            root = tmp_path / d.strip("_")
            os.makedirs(root / d)
            (root / d / "part-00000.parquet").write_bytes(b"")
            with pytest.raises(ValueError, match=d):
                TopicEngine(spark, str(root))
