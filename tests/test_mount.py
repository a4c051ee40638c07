"""Topic unmount/mount — tiered-storage migration between clusters (the
reference's `cloud_storage/topic_mount_handler.h` +
`cluster/data_migration_backend.cc` flow): unmount flushes everything to
the bucket and detaches; mount adopts the bucket topic, writable, on any
cluster sharing the archive root."""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest

from redpanda_spark.engine import FencedWriterError, TopicConfig, TopicEngine

BASE = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)


def _mk_engine(spark, tmp_path, name, cold):
    return TopicEngine(
        spark, str(tmp_path / name), archive_root=str(cold)
    )


def _produce(eng, topic, vals, partition=0):
    eng.produce(
        topic,
        [
            {"value": v.encode(), "timestamp": BASE, "partition": partition}
            for v in vals
        ],
    )


def _cfg(**kw):
    kw.setdefault("partitions", 2)
    kw.setdefault("remote_write", True)
    kw.setdefault("local_retention_ms", 60_000)
    return TopicConfig(**kw)


def _rowset(df):
    return {
        (r["partition"], r["offset"], bytes(r["value"])) for r in df.collect()
    }


def test_unmount_then_mount_same_cluster(spark, tmp_path):
    cold = tmp_path / "bucket"
    a = _mk_engine(spark, tmp_path, "a", cold)
    a.create_topic("t", _cfg())
    _produce(a, "t", ["v1", "v2"], partition=0)
    _produce(a, "t", ["v3"], partition=1)
    before = _rowset(a.log("t"))
    hwm = a.high_watermarks("t")

    res = a.unmount_topic("t")
    assert res["segments"] >= 1
    assert "t" not in a.list_topics()
    # the bucket is self-describing: data + topic manifest
    man = json.loads(
        open(os.path.join(res["archive_dir"], "_topic_manifest.json")).read()
    )
    assert man["config"]["partitions"] == 2

    res2 = a.mount_topic("t")
    assert res2["high_watermarks"] == {int(k): v for k, v in hwm.items()}
    assert _rowset(a.log("t")) == before
    # manifest consumed: topic exists in exactly one place
    assert not os.path.exists(
        os.path.join(res["archive_dir"], "_topic_manifest.json")
    )


def test_migration_to_second_cluster_continues_offsets(spark, tmp_path):
    """The real migration: cluster A unmounts, cluster B (different root,
    same bucket) mounts — rows identical, offsets continue contiguously,
    the mounted topic is fully writable and tiered."""
    cold = tmp_path / "bucket"
    a = _mk_engine(spark, tmp_path, "a", cold)
    # partition 1 stays EMPTY: only the bucket manifest can preserve its
    # existence (footer inference cannot see a partition with no rows)
    a.create_topic("t", _cfg(partitions=3))
    _produce(a, "t", ["v1", "v2"], partition=0)
    _produce(a, "t", ["v3"], partition=2)
    before = _rowset(a.log("t"))
    a.unmount_topic("t")

    b = _mk_engine(spark, tmp_path, "b", cold)
    res = b.mount_topic("t")
    assert res["segments"] >= 1
    cfg = b.list_topics()["t"]
    assert cfg.partitions == 3  # empty partition slot preserved
    assert _rowset(b.log("t")) == before
    # offsets continue where A left off
    _produce(b, "t", ["v4"], partition=0)
    offs = sorted(
        r["offset"]
        for r in b.log("t").where("partition = 0").collect()
    )
    assert offs == [0, 1, 2]
    # and the mounted topic is a normal tiered topic: archival works
    b.run_archival(
        "t", now_ms=int((BASE + dt.timedelta(hours=2)).timestamp() * 1000)
    )
    assert _rowset(b.log("t")) == before | {(0, 2, b"v4")}


def test_unmount_guards(spark, tmp_path):
    cold = tmp_path / "bucket"
    a = _mk_engine(spark, tmp_path, "a", cold)
    a.create_topic("plain", TopicConfig(partitions=1))
    _produce(a, "plain", ["v"])
    with pytest.raises(ValueError, match="remote_write"):
        a.unmount_topic("plain")
    # a fenced (stale) writer cannot migrate the topic away
    a.create_topic("t", _cfg(partitions=1))
    _produce(a, "t", ["v"])
    TopicEngine(spark, str(tmp_path / "a"), archive_root=str(cold))
    with pytest.raises(FencedWriterError):
        a.unmount_topic("t")


def test_mount_without_manifest_falls_back_to_recovery(spark, tmp_path):
    """A bucket with data but no topic manifest (e.g. the origin cluster
    died before unmounting) still mounts via footer recovery — the DR
    path — losing only what footers can't know (empty partitions)."""
    cold = tmp_path / "bucket"
    a = _mk_engine(spark, tmp_path, "a", cold)
    a.create_topic("t", _cfg(partitions=1))
    _produce(a, "t", ["v1", "v2"])
    a.run_archival(
        "t", now_ms=int((BASE + dt.timedelta(hours=2)).timestamp() * 1000)
    )
    before = _rowset(a.log("t"))

    b = _mk_engine(spark, tmp_path, "b", cold)
    b.mount_topic("t")
    assert _rowset(b.log("t")) == before


def test_mount_existing_topic_refused(spark, tmp_path):
    cold = tmp_path / "bucket"
    a = _mk_engine(spark, tmp_path, "a", cold)
    a.create_topic("t", _cfg(partitions=1))
    with pytest.raises(ValueError, match="exists"):
        a.mount_topic("t")


def test_cli_unmount_mount_roundtrip(spark, tmp_path, capsys):
    from redpanda_spark.cli import main

    root = str(tmp_path / "root")
    cold = str(tmp_path / "bucket")
    eng = TopicEngine(spark, root, archive_root=cold)
    eng.create_topic("t", _cfg(partitions=1))
    _produce(eng, "t", ["v1"])
    assert (
        main(["--root", root, "--archive-root", cold, "topic", "unmount", "t"])
        == 0
    )
    out = json.loads(capsys.readouterr().out)
    assert out["unmounted"] == "t"
    assert (
        main(["--root", root, "--archive-root", cold, "topic", "mount", "t"])
        == 0
    )
    out = json.loads(capsys.readouterr().out)
    assert out["mounted"] == "t"


def test_migration_carries_consumer_offsets_via_export_import(spark, tmp_path):
    """The reference migrates consumer offsets as an opt-in step next to
    the topic data; here the same composition: offsets exported on A stay
    VALID after mount on B (offsets are preserved by the migration), so
    group import resumes consumption at the exact lag."""
    cold = tmp_path / "bucket"
    a = _mk_engine(spark, tmp_path, "a", cold)
    a.create_topic("t", _cfg(partitions=1))
    _produce(a, "t", ["v1", "v2", "v3"])
    a.offset_commit("g1", "t", 0, 2)  # consumed v1, v2
    exported = [
        {
            "group": "g1",
            "topic": r["topic"],
            "partition": r["partition"],
            "offset": r["committed_offset"],
        }
        for r in a.offset_fetch("g1").collect()
    ]
    a.unmount_topic("t")

    b = _mk_engine(spark, tmp_path, "b", cold)
    b.mount_topic("t")
    for rec in exported:
        b.offset_commit("g1", rec["topic"], rec["partition"], rec["offset"])
    committed = {
        (r["topic"], r["partition"]): r["committed_offset"]
        for r in b.offset_fetch("g1").collect()
    }
    assert committed == {("t", 0): 2}
    # resuming at the committed offset yields exactly the unread tail
    rows = b.fetch_rows("t", 0, offset=2)
    assert [bytes(r["value"]) for r in rows] == [b"v3"]


def test_rest_unmount_mount_routes(spark, tmp_path):
    """The admin-surface analog (reference data_migration_frontend on the
    admin API): POST /topics/<t>/unmount then /mount over the WSGI path,
    including the 409 contract for invalid migrations."""
    from redpanda_spark.rest import RestApp

    cold = tmp_path / "bucket"
    eng = _mk_engine(spark, tmp_path, "a", cold)
    eng.create_topic("t", _cfg(partitions=1))
    _produce(eng, "t", ["v1", "v2"])
    app = RestApp(eng)
    status, out = app.handle("POST", "/topics/t/unmount")
    assert status == 200 and out["unmounted"] == "t"
    assert "t" not in eng.list_topics()
    status, out = app.handle("POST", "/topics/t/mount")
    assert status == 200 and out["mounted"] == "t"
    assert out["high_watermarks"] == {"0": 2}
    # invalid: mounting an existing topic is a 409, not a 500
    status, out = app.handle("POST", "/topics/t/mount")
    assert status == 409 and out["error_code"] == 40902
    # invalid: unmounting a non-tiered topic is a 409
    eng.create_topic("plain", TopicConfig(partitions=1))
    status, out = app.handle("POST", "/topics/plain/unmount")
    assert status == 409


def test_unmount_crash_before_tier_flip_is_clean_undo(spark, tmp_path):
    """Crash before the phase-1 manifest commit: the uploaded copies are
    unreferenced orphans (collected at reopen) and the topic is exactly
    as before — unmount simply didn't happen."""
    cold = tmp_path / "bucket"
    a = _mk_engine(spark, tmp_path, "a", cold)
    a.create_topic("t", _cfg(partitions=1))
    _produce(a, "t", ["v1", "v2"])
    before = _rowset(a.log("t"))

    def power_cut(topic):
        raise RuntimeError("power cut")

    a._commit_manifest = power_cut
    with pytest.raises(RuntimeError):
        a.unmount_topic("t")
    a2 = _mk_engine(spark, tmp_path, "a", cold)
    assert _rowset(a2.log("t")) == before
    # ... and the retried unmount migrates cleanly
    a2.unmount_topic("t")
    b = _mk_engine(spark, tmp_path, "b", cold)
    b.mount_topic("t")
    assert _rowset(b.log("t")) == before


def test_unmount_crash_after_tier_flip_leaves_tiered_topic(spark, tmp_path):
    """Crash after phase 1 (tier flip committed) but before the detach:
    the topic is a normal fully-tiered, still-locally-owned topic — rows
    intact, unmount retryable."""
    cold = tmp_path / "bucket"
    a = _mk_engine(spark, tmp_path, "a", cold)
    a.create_topic("t", _cfg(partitions=1))
    _produce(a, "t", ["v1", "v2"])
    before = _rowset(a.log("t"))

    def crash_detach():
        raise RuntimeError("power cut mid-detach")

    a._save_state = crash_detach
    with pytest.raises(RuntimeError):
        a.unmount_topic("t")
    a2 = _mk_engine(spark, tmp_path, "a", cold)
    assert _rowset(a2.log("t")) == before
    assert a2.topic_stats("t")["segments"] == 0  # fully tiered
    assert a2.topic_stats("t")["archived_segments"] >= 1
    a2.unmount_topic("t")  # retry completes the migration
    b = _mk_engine(spark, tmp_path, "b", cold)
    b.mount_topic("t")
    assert _rowset(b.log("t")) == before


def test_unmount_crash_before_handoff_publish_is_resumable(
    spark, tmp_path
):
    """Crash between the local detach and the phase-3 publish rename:
    the topic is gone locally and the bucket has data plus the STAGED
    (non-mountable) manifest. A plain mount refuses — silently falling
    back to footer recovery would drop the staged tx/group metadata —
    and resume_claim adopts the stage with every row intact; no state
    ever had two owners. With the stage deleted too (pre-staging bucket
    layout), footer recovery remains the rows-only DR fallback."""
    cold = tmp_path / "bucket"
    a = _mk_engine(spark, tmp_path, "a", cold)
    a.create_topic("t", _cfg(partitions=1))
    _produce(a, "t", ["v1", "v2"])
    before = _rowset(a.log("t"))

    real_rename = a._afsio.rename

    def crash_on_publish(src, dst):
        if dst.endswith("_topic_manifest.json"):
            raise RuntimeError("power cut before handoff publish")
        return real_rename(src, dst)

    a._afsio.rename = crash_on_publish
    with pytest.raises(RuntimeError):
        a.unmount_topic("t")
    a2 = _mk_engine(spark, tmp_path, "a", cold)
    assert "t" not in a2.list_topics()  # detach committed
    b = _mk_engine(spark, tmp_path, "b", cold)
    with pytest.raises(ValueError, match="resume_claim"):
        b.mount_topic("t")  # stage present: refuse the lossy fallback
    b.mount_topic("t", resume_claim=True)
    assert _rowset(b.log("t")) == before
    # bucket fully consumed: no manifest debris under any name
    ad = str(cold / "t")
    for n in (
        "_topic_manifest.json",
        "_topic_manifest.claimed.json",
        "_topic_manifest.pending.json",
    ):
        assert not os.path.exists(os.path.join(ad, n)), n

    # pre-staging layout (no pending at all): rows-only DR fallback
    cold2 = tmp_path / "bucket2"
    c = _mk_engine(spark, tmp_path, "c", cold2)
    c.create_topic("t", _cfg(partitions=1))
    _produce(c, "t", ["v1", "v2"])
    before2 = _rowset(c.log("t"))
    c._afsio.rename = (
        lambda s, d: (_ for _ in ()).throw(RuntimeError("power cut"))
        if d.endswith("_topic_manifest.json")
        else real_rename(s, d)
    )
    with pytest.raises(RuntimeError):
        c.unmount_topic("t")
    os.remove(os.path.join(str(cold2 / "t"), "_topic_manifest.pending.json"))
    d = _mk_engine(spark, tmp_path, "d", cold2)
    d.mount_topic("t")  # footer-recovery fallback
    assert _rowset(d.log("t")) == before2


def test_migration_preserves_aborted_tx_ranges(spark, tmp_path):
    """read_committed must filter identically on the target cluster: the
    aborted ranges (side-table metadata here; in-log markers in the
    reference) travel inside the bucket handoff manifest."""
    from pyspark.sql import Row

    from redpanda_spark.operators.txcoord import TX_RANGE_SCHEMA

    cold = tmp_path / "bucket"
    a = _mk_engine(spark, tmp_path, "a", cold)
    a.create_topic("t", _cfg(partitions=1))
    _produce(a, "t", ["v0"])
    # a transactional batch that will be ABORTED (offsets 1-2)
    a.produce(
        "t",
        [
            {
                "value": v.encode(),
                "timestamp": BASE,
                "partition": 0,
                "producer_id": 7,
                "producer_epoch": 0,
                "base_sequence": i,
                "is_transactional": True,
            }
            for i, v in enumerate(["v1", "v2"])
        ],
    )
    _produce(a, "t", ["v3"])
    a.append_tx_ranges(
        spark.createDataFrame(
            [
                Row(
                    topic="t",
                    partition=0,
                    producer_id=7,
                    first_offset=1,
                    last_offset=2,
                    outcome="aborted",
                )
            ],
            TX_RANGE_SCHEMA,
        )
    )

    def rc(eng):
        return sorted(
            bytes(r["value"])
            for r in eng.fetch("t", 0, isolation="read_committed").collect()
        )

    assert rc(a) == [b"v0", b"v3"]
    a.unmount_topic("t")
    b = _mk_engine(spark, tmp_path, "b", cold)
    b.mount_topic("t")
    assert rc(b) == [b"v0", b"v3"]  # aborted rows stay invisible
    assert b.log("t").count() == 4  # ... but the data itself migrated


def test_unmount_refuses_open_transaction(spark, tmp_path):
    from pyspark.sql import Row

    from redpanda_spark.operators.txcoord import TX_RANGE_SCHEMA

    cold = tmp_path / "bucket"
    a = _mk_engine(spark, tmp_path, "a", cold)
    a.create_topic("t", _cfg(partitions=1))
    _produce(a, "t", ["v0", "v1"])
    a.append_tx_ranges(
        spark.createDataFrame(
            [
                Row(
                    topic="t",
                    partition=0,
                    producer_id=9,
                    first_offset=1,
                    last_offset=None,
                    outcome="open",
                )
            ],
            TX_RANGE_SCHEMA,
        )
    )
    with pytest.raises(ValueError, match="open transaction"):
        a.unmount_topic("t")


class _Crash(Exception):
    pass


class _Inject:
    """Kill-point injector: one shared FS-mutation budget across both
    filesystems (engine root and bucket). Crashing at mutation #budget
    and sweeping budget upward visits every durable-write interleaving
    of the operation under test."""

    _MUTATORS = {
        "write_text_atomic",
        "write_bytes_atomic",
        "rename",
        "delete",
        "mkdirs",
        "create_exclusive",
    }

    def __init__(self, budget):
        self.budget = budget
        self.mutations = 0

    def wrap(self, inner):
        counter = self

        class _FS:
            def __getattr__(self, name):
                attr = getattr(inner, name)
                if name not in counter._MUTATORS or not callable(attr):
                    return attr

                def guarded(*a, **kw):
                    counter.mutations += 1
                    if counter.mutations >= counter.budget:
                        raise _Crash(f"mutation #{counter.mutations}: {name}")
                    return attr(*a, **kw)

                return guarded

        return _FS()


def _seed_metadata(spark, eng, topic):
    """Side-table metadata a migration/delete must handle: one ABORTED
    transactional row (its tx range is what keeps read_committed honest)
    and one committed consumer-group offset. Returns the expected
    (tx_rows, group_offsets) snapshots for post-crash assertions."""
    from pyspark.sql import Row

    from redpanda_spark.operators.txcoord import TX_RANGE_SCHEMA

    eng.produce(
        topic,
        [
            {
                "value": b"aborted",
                "timestamp": BASE,
                "partition": 0,
                "producer_id": 7,
                "producer_epoch": 0,
                "base_sequence": 0,
                "is_transactional": True,
            }
        ],
    )
    aborted_at = eng.high_watermarks(topic)[0] - 1
    eng.append_tx_ranges(
        spark.createDataFrame(
            [
                Row(
                    topic=topic,
                    partition=0,
                    producer_id=7,
                    first_offset=aborted_at,
                    last_offset=aborted_at,
                    outcome="aborted",
                )
            ],
            TX_RANGE_SCHEMA,
        )
    )
    eng.offset_commit("g1", topic, 0, 1)
    return _tx_rows_for(eng, topic), _group_offsets_for(eng, topic)


def _tx_rows_for(eng, topic):
    return {
        (
            r["partition"],
            r["producer_id"],
            r["first_offset"],
            r["last_offset"],
            r["outcome"],
        )
        for r in eng._tx_ranges_local()
        if r["topic"] == topic
    }


def _group_offsets_for(eng, topic):
    return {
        (r["group_id"], r["partition"]): r["committed_offset"]
        for r in eng.offset_fetch()
        .where(f"topic = '{topic}'")
        .collect()
    }


def _kill_point_sweep(make_engine, op, recover, max_budget, min_crashes):
    """Shared sweep driver (mount / unmount / delete): run ``op`` under
    the injector at every budget until it completes crash-free, calling
    ``recover(budget)`` to re-establish and assert invariants after each
    run. Asserts BOTH that enough kill-points actually fired AND that the
    operation completed within the budget — so added FS mutations can
    never silently push tail kill-points past the sweep's end."""
    crashes = 0
    completed = False
    for budget in range(1, max_budget):
        eng = make_engine(budget)
        inj = _Inject(budget)
        eng._fsio = inj.wrap(eng._fsio)
        eng._afsio = inj.wrap(eng._afsio)
        try:
            op(eng)
            completed = True
        except _Crash:
            crashes += 1
        recover(budget)
        if completed:
            break
    assert completed, (
        f"operation never completed within {max_budget} mutations — "
        "raise the sweep budget"
    )
    assert crashes >= min_crashes, (
        f"sweep only crashed {crashes} times — injector unwired?"
    )


def test_crash_sweep_unmount_never_loses_rows_or_metadata(spark, tmp_path):
    """Kill-point sweep over unmount's mutations on BOTH filesystems:
    whatever mutation the crash lands on, recovery finds one of
    unmount's documented consistent states — topic intact locally,
    fully-tiered locally, or detached-and-resumable (staged/published
    handoff manifest) — and the full row set AND the side-table metadata
    (aborted tx range, migrated group offset) survive. The metadata
    assertion is what catches the phase-2→3 loss window the rows-only
    sweep was blind to: tx/group rows were durably purged before the
    bucket manifest carrying them was written."""
    from redpanda_spark.engine import TopicEngine

    state = {}

    def make_engine(budget):
        root = str(tmp_path / f"b{budget}" / "root")
        cold = str(tmp_path / f"b{budget}" / "bucket")
        a = TopicEngine(spark, root, archive_root=cold)
        a.create_topic("t", _cfg(partitions=2))
        _produce(a, "t", ["v1", "v2"], partition=0)
        _produce(a, "t", ["v3"], partition=1)
        tx, groups = _seed_metadata(spark, a, "t")
        state.update(
            root=root, cold=cold, expected=_rowset(a.log("t")),
            tx=tx, groups=groups,
        )
        return a

    def recover(budget):
        rec = TopicEngine(
            spark, state["root"], archive_root=state["cold"]
        )
        pending = os.path.join(
            state["cold"], "t", "_topic_manifest.pending.json"
        )
        if "t" not in rec.list_topics():
            try:
                rec.mount_topic("t")  # published handoff manifest
            except ValueError as e:
                assert "resume_claim" in str(e), f"budget {budget}: {e}"
                rec.mount_topic("t", resume_claim=True)  # staged
        else:
            # ownership invariant: a staged handoff manifest EXISTING
            # implies the detach committed — it must never coexist with
            # a topic the source still owns (a resume_claim promoting it
            # would double-own the topic against the live source)
            assert not os.path.exists(pending), (
                f"budget {budget}: stage present while source owns"
            )
        assert _rowset(rec.log("t")) == state["expected"], f"budget {budget}"
        assert _tx_rows_for(rec, "t") == state["tx"], f"budget {budget}"
        assert (
            _group_offsets_for(rec, "t") == state["groups"]
        ), f"budget {budget}"

    _kill_point_sweep(
        make_engine,
        lambda eng: eng.unmount_topic("t", with_groups=True),
        recover,
        max_budget=40,
        min_crashes=5,
    )


def test_compacted_topic_migrates_with_keep_latest(spark, tmp_path):
    """Compacted-topic migration (the reference migrates any topic —
    `cluster/data_migration_backend.cc` has no policy restriction):
    unmount runs one FINAL keep-latest compaction, the bucket carries
    the compacted view, and mount on a second cluster preserves exactly
    latest-per-key — including a fresh tombstone still inside its grace
    window."""
    cold = tmp_path / "bucket"
    a = _mk_engine(spark, tmp_path, "a", cold)
    a.create_topic(
        "c",
        _cfg(partitions=1, cleanup_policy="compact", delete_retention_ms=10_000),
    )
    now = BASE + dt.timedelta(minutes=1)
    a.produce(
        "c",
        [
            {"key": b"k1", "value": b"old1", "timestamp": BASE, "partition": 0},
            {"key": b"k2", "value": b"old2", "timestamp": BASE, "partition": 0},
            {"key": b"k1", "value": b"new1", "timestamp": BASE, "partition": 0},
            # fresh tombstone for k2: inside delete.retention grace at
            # unmount time, so it must survive the final compaction
            {"key": b"k2", "value": None, "timestamp": now, "partition": 0},
        ],
    )
    res = a.unmount_topic("c", now_ms=int(now.timestamp() * 1000))
    assert res["unmounted"] == "c"

    b = _mk_engine(spark, tmp_path, "b", cold)
    b.mount_topic("c")
    assert b.list_topics()["c"].cleanup_policy == "compact"
    rows = {
        bytes(r["key"]): (None if r["value"] is None else bytes(r["value"]))
        for r in b.log("c").collect()
    }
    # keep-latest intact: old1/old2 compacted away, tombstone retained
    assert rows == {b"k1": b"new1", b"k2": None}


def test_unmount_with_groups_migrates_consumer_offsets(spark, tmp_path):
    """First-class consumer-offset migration (reference:
    `cluster/data_migration_types.h:184,231` carries `groups` in the
    migration object): unmount(with_groups=[...]) rides the committed
    offsets in the bucket manifest; mount replays them — the consumer
    resumes at its exact position on the target cluster with NO manual
    export/import. Groups not opted in stay behind."""
    cold = tmp_path / "bucket"
    a = _mk_engine(spark, tmp_path, "a", cold)
    a.create_topic("t", _cfg(partitions=1))
    _produce(a, "t", ["v1", "v2", "v3"])
    a.offset_commit("g1", "t", 0, 2)  # consumed v1, v2
    a.offset_commit("g2", "t", 0, 1)  # NOT migrated
    a.unmount_topic("t", with_groups=["g1"])

    b = _mk_engine(spark, tmp_path, "b", cold)
    b.mount_topic("t")
    committed = {
        (r["group_id"], r["partition"]): r["committed_offset"]
        for r in b.offset_fetch().where("topic = 't'").collect()
    }
    assert committed == {("g1", 0): 2}
    # resuming at the committed offset yields exactly the unread tail
    rows = b.fetch_rows("t", 0, offset=2)
    assert [bytes(r["value"]) for r in rows] == [b"v3"]


def test_unmount_with_groups_true_migrates_every_group(spark, tmp_path):
    cold = tmp_path / "bucket"
    a = _mk_engine(spark, tmp_path, "a", cold)
    a.create_topic("t", _cfg(partitions=2))
    _produce(a, "t", ["v1", "v2"], partition=0)
    _produce(a, "t", ["v3"], partition=1)
    a.offset_commit("g1", "t", 0, 1)
    a.offset_commit("g2", "t", 1, 1)
    a.unmount_topic("t", with_groups=True)
    b = _mk_engine(spark, tmp_path, "b", cold)
    b.mount_topic("t")
    committed = {
        (r["group_id"], r["partition"]): r["committed_offset"]
        for r in b.offset_fetch().where("topic = 't'").collect()
    }
    assert committed == {("g1", 0): 1, ("g2", 1): 1}


def test_mount_claim_is_first_winner_only(spark, tmp_path):
    """The ADVICE double-mount hazard: mount must CLAIM the bucket
    manifest (atomic rename to the handoff-token name) BEFORE adopting
    locally, so a crash mid-mount — or a concurrent mount on another
    cluster — can never leave the topic owned twice."""
    cold = tmp_path / "bucket"
    a = _mk_engine(spark, tmp_path, "a", cold)
    a.create_topic("t", _cfg(partitions=1))
    _produce(a, "t", ["v1"])
    res = a.unmount_topic("t")
    ad = res["archive_dir"]

    # simulate a mount that crashed between claim and adopt: the token
    # exists under its claimed name, the plain manifest is gone
    os.rename(
        os.path.join(ad, "_topic_manifest.json"),
        os.path.join(ad, "_topic_manifest.claimed.json"),
    )
    b = _mk_engine(spark, tmp_path, "b", cold)
    with pytest.raises(ValueError, match="resume_claim"):
        b.mount_topic("t")
    assert "t" not in b.list_topics()
    # operator-driven recovery: resume from the orphaned token
    b.mount_topic("t", resume_claim=True)
    assert [bytes(r["value"]) for r in b.fetch_rows("t", 0)] == [b"v1"]
    # token consumed — a third cluster can no longer claim-mount
    assert not os.path.exists(os.path.join(ad, "_topic_manifest.claimed.json"))
    c = _mk_engine(spark, tmp_path, "c", cold)
    with pytest.raises(ValueError, match="no claimed manifest"):
        c.mount_topic("t", resume_claim=True)


def test_mount_adopt_failure_rolls_back_and_returns_token(spark, tmp_path):
    """A failure DURING adoption (here: the tx-range restore) must undo
    the local commit and put the bucket manifest back under its plain
    name, so the mount is retryable — on this or any other cluster.
    Pre-fix the topic stayed half-mounted locally while the bucket
    manifest survived, mountable by a second cluster: two owners."""
    from pyspark.sql import Row

    from redpanda_spark.operators.txcoord import TX_RANGE_SCHEMA

    cold = tmp_path / "bucket"
    a = _mk_engine(spark, tmp_path, "a", cold)
    a.create_topic("t", _cfg(partitions=1))
    _produce(a, "t", ["v1", "v2"])
    # give the manifest a tx_ranges payload so the restore step runs
    a.produce(
        "t",
        [
            {
                "value": b"aborted",
                "timestamp": BASE,
                "partition": 0,
                "producer_id": 7,
                "producer_epoch": 0,
                "base_sequence": 0,
                "is_transactional": True,
            }
        ],
    )
    a.append_tx_ranges(
        spark.createDataFrame(
            [
                Row(
                    topic="t",
                    partition=0,
                    producer_id=7,
                    first_offset=2,
                    last_offset=2,
                    outcome="aborted",
                )
            ],
            TX_RANGE_SCHEMA,
        )
    )
    res = a.unmount_topic("t")
    ad = res["archive_dir"]

    b = _mk_engine(spark, tmp_path, "b", cold)
    real_append = b.append_tx_ranges
    b.append_tx_ranges = lambda df: (_ for _ in ()).throw(
        RuntimeError("injected adopt failure")
    )
    with pytest.raises(RuntimeError, match="injected"):
        b.mount_topic("t")
    # rolled back locally...
    assert "t" not in b.list_topics()
    assert "t" not in TopicEngine(
        spark, str(tmp_path / "b"), archive_root=str(cold), read_only=True
    ).list_topics()
    # ...and the token returned to its plain name: retry succeeds
    assert os.path.exists(os.path.join(ad, "_topic_manifest.json"))
    b.append_tx_ranges = real_append
    b.mount_topic("t")
    vals = {
        bytes(r["value"])
        for r in b.fetch("t", 0, isolation="read_committed").collect()
    }
    assert vals == {b"v1", b"v2"}  # the aborted row stays filtered


def test_mount_adopt_failure_retracts_replayed_group_offsets(
    spark, tmp_path
):
    """Adopt failure AFTER the consumer-offset replay landed: the
    rollback purge must retract the replayed rows (both side tables),
    and the returned token makes the retry adopt fully — offsets
    included. Companion to the tx-range rollback test above, covering
    the second side table mount Phase B replays."""
    cold = tmp_path / "bucket"
    a = _mk_engine(spark, tmp_path, "a", cold)
    a.create_topic("t", _cfg(partitions=1))
    _produce(a, "t", ["v1", "v2"])
    a.offset_commit("g1", "t", 0, 2)
    a.unmount_topic("t", with_groups=True)

    b = _mk_engine(spark, tmp_path, "b", cold)
    # mount replays offsets via offset_commit_batch (one job per group)
    real_commit = b.offset_commit_batch

    def replay_then_fail(group, offsets):
        real_commit(group, offsets)  # the replay LANDS...
        raise RuntimeError("injected failure after group replay")

    b.offset_commit_batch = replay_then_fail
    with pytest.raises(RuntimeError, match="after group replay"):
        b.mount_topic("t")
    assert "t" not in b.list_topics()
    assert _group_offsets_for(b, "t") == {}  # ...and is retracted
    b.offset_commit_batch = real_commit
    b.mount_topic("t")
    assert _group_offsets_for(b, "t") == {("g1", 0): 2}


def test_rest_fenced_writer_maps_to_409(spark, tmp_path):
    """A fenced REST mutation keeps the JSON error contract (409 with a
    fenced-writer error code) instead of escaping as an HTML 500 — the
    reference returns NOT_LEADER-class errors for the same condition."""
    from redpanda_spark.rest import RestApp

    cold = tmp_path / "bucket"
    eng = _mk_engine(spark, tmp_path, "a", cold)
    eng.create_topic("t", _cfg(partitions=1))
    _produce(eng, "t", ["v1"])
    app = RestApp(eng)
    # a second engine claims the topic: eng is now a stale writer
    _mk_engine(spark, tmp_path, "a", cold)
    status, out = app.handle(
        "POST",
        "/topics/t",
        {"records": [{"value": "djI="}]},
    )
    assert status == 409, out
    assert out["error_code"] == 40903
    assert "fenced" in out["message"]


def test_crash_sweep_mount_never_double_owns_or_loses_rows(spark, tmp_path):
    """Kill-point sweep over mount's mutations on BOTH filesystems:
    whatever mutation the crash lands on, the topic is owned by AT MOST
    one cluster, the full row set AND the migrated side-table metadata
    (aborted tx range, group offset) stay reachable (retry, resume_claim,
    or the already-mounted topic), and a second cluster can never adopt
    a topic someone else completed (claimed token or retired plain name
    blocks it)."""
    state = {}

    def make_engine(budget):
        cold = str(tmp_path / f"m{budget}" / "bucket")
        a = TopicEngine(
            spark, str(tmp_path / f"m{budget}" / "a"), archive_root=cold
        )
        a.create_topic("t", _cfg(partitions=2))
        _produce(a, "t", ["v1", "v2"], partition=0)
        _produce(a, "t", ["v3"], partition=1)
        tx, groups = _seed_metadata(spark, a, "t")
        state.update(
            cold=cold, expected=_rowset(a.log("t")), tx=tx, groups=groups
        )
        a.unmount_topic("t", with_groups=True)
        root_b = str(tmp_path / f"m{budget}" / "b")
        state["root_b"] = root_b
        return TopicEngine(spark, root_b, archive_root=cold)

    def recover(budget):
        rec = TopicEngine(
            spark, state["root_b"], archive_root=state["cold"]
        )
        if "t" in rec.list_topics():
            # mounted here: the token must be consumed or consumable by
            # NO other cluster (no plain manifest left in the bucket)
            assert not os.path.exists(
                os.path.join(state["cold"], "t", "_topic_manifest.json")
            ), f"budget {budget}: mounted AND still claimable — two owners"
        else:
            # not mounted: recover via retry or the resume path
            try:
                rec.mount_topic("t")
            except ValueError as e:
                assert "resume_claim" in str(e), f"budget {budget}: {e}"
                rec.mount_topic("t", resume_claim=True)
        assert _rowset(rec.log("t")) == state["expected"], f"budget {budget}"
        assert _tx_rows_for(rec, "t") == state["tx"], f"budget {budget}"
        assert (
            _group_offsets_for(rec, "t") == state["groups"]
        ), f"budget {budget}"

    _kill_point_sweep(
        make_engine,
        lambda eng: eng.mount_topic("t"),
        recover,
        max_budget=30,
        min_crashes=4,
    )


def test_resume_from_staged_manifest_single_consumer(spark, tmp_path):
    """Token lifecycle of the staged-manifest resume: after one cluster
    resumes a crashed unmount, every bucket token (pending, claimed,
    plain) is consumed — a second resume_claim finds nothing to adopt
    and the topic has exactly one owner. Concurrent PROMOTIONS are
    arbitrated by create_exclusive; resuming from an already-claimed
    token stays operator-asserted (same trust as DR recovery)."""
    cold = tmp_path / "bucket"
    a = _mk_engine(spark, tmp_path, "a", cold)
    a.create_topic("t", _cfg(partitions=1))
    _produce(a, "t", ["v1", "v2"])
    real = a._afsio.rename
    a._afsio.rename = (
        lambda s, d: (_ for _ in ()).throw(RuntimeError("crash"))
        if d.endswith("_topic_manifest.json")
        else real(s, d)
    )
    with pytest.raises(RuntimeError):
        a.unmount_topic("t")

    b = _mk_engine(spark, tmp_path, "b", cold)
    b.mount_topic("t", resume_claim=True)
    assert [bytes(r["value"]) for r in b.fetch_rows("t", 0)] == [b"v1", b"v2"]
    ad = str(cold / "t")
    for n in (
        "_topic_manifest.json",
        "_topic_manifest.claimed.json",
        "_topic_manifest.pending.json",
    ):
        assert not os.path.exists(os.path.join(ad, n)), n
    c = _mk_engine(spark, tmp_path, "c", cold)
    with pytest.raises(ValueError, match="no claimed manifest"):
        c.mount_topic("t", resume_claim=True)
    assert "t" in b.list_topics() and "t" not in c.list_topics()


def test_uri_root_tx_mirror_serves_read_committed_and_migration(
    spark, tmp_path
):
    """The driver-side tx mirror must see the side tables on URI
    (HadoopFS) roots too: hot-tail read_committed filters the aborted
    row with ZERO Spark jobs, and unmount's handoff manifest carries the
    tx ranges. Pre-fix, os.listdir on the URI path silently read [] —
    aborted rows were VISIBLE from the tail, and migration dropped the
    metadata this round's staging work exists to preserve."""
    from pyspark.sql import Row

    from redpanda_spark.operators.txcoord import TX_RANGE_SCHEMA

    root = "file://" + str(tmp_path / "topics")
    cold = "file://" + str(tmp_path / "bucket")
    a = TopicEngine(spark, root, archive_root=cold)
    a.create_topic("t", _cfg(partitions=1))
    _produce(a, "t", ["v1", "v2"])
    a.produce(
        "t",
        [
            {
                "value": b"aborted",
                "timestamp": BASE,
                "partition": 0,
                "producer_id": 7,
                "producer_epoch": 0,
                "base_sequence": 0,
                "is_transactional": True,
            }
        ],
    )
    a.append_tx_ranges(
        spark.createDataFrame(
            [
                Row(
                    topic="t",
                    partition=0,
                    producer_id=7,
                    first_offset=2,
                    last_offset=2,
                    outcome="aborted",
                )
            ],
            TX_RANGE_SCHEMA,
        )
    )
    # the mirror reads through HadoopFS, not os.listdir
    assert len(_tx_rows_for(a, "t")) == 1
    # hot-tail read_committed (tail populated by the produces above)
    vals = [
        bytes(r["value"])
        for r in a.fetch_rows("t", 0, isolation="read_committed")
    ]
    assert vals == [b"v1", b"v2"]  # aborted row filtered, from the tail
    # migration carries the metadata across a URI bucket
    a.offset_commit("g1", "t", 0, 2)
    a.unmount_topic("t", with_groups=True)
    b = TopicEngine(
        spark, "file://" + str(tmp_path / "b"), archive_root=cold
    )
    b.mount_topic("t")
    assert len(_tx_rows_for(b, "t")) == 1
    assert _group_offsets_for(b, "t") == {("g1", 0): 2}
    vals = [
        bytes(r["value"])
        for r in b.fetch_rows("t", 0, isolation="read_committed")
    ]
    assert vals == [b"v1", b"v2"]


def test_fenced_unmount_writes_no_stage(spark, tmp_path):
    """A STALE migrator — fenced at unmount's phase-2 detach because a
    new writer claimed the topic after its phase-1 commit — must abort
    BEFORE writing the staged bucket manifest: the stage is written only
    after the fence check (and after the detach commit), so a fenced
    unmount leaves zero bucket debris. Stale-stage debris would read as
    "handoff_staged" and invite a resume_claim against the live owner —
    worse, a stage written before the detach commit would present that
    trap for a topic the source still fully owns."""
    cold = tmp_path / "bucket"
    a = _mk_engine(spark, tmp_path, "a", cold)
    a.create_topic("t", _cfg(partitions=1))
    _produce(a, "t", ["v1"])

    real_delete = a._fsio.delete
    fired = []

    def delete_then_lose_leadership(path, recursive=False):
        real_delete(path, recursive=recursive)
        if path.endswith(".parquet") and not fired:
            # a new writer opens the root (claims a higher epoch) in the
            # window between A's phase-1 hot-file cleanup and its
            # phase-2 fence check
            fired.append(path)
            _mk_engine(spark, tmp_path, "a", cold)

    a._fsio.delete = delete_then_lose_leadership
    with pytest.raises(FencedWriterError):
        a.unmount_topic("t")
    assert fired, "injection never fired — unmount stopped deleting hot files?"
    # no stage was ever written; the topic stays the new writer's, intact
    assert not os.path.exists(
        str(cold / "t" / "_topic_manifest.pending.json")
    )
    b = _mk_engine(spark, tmp_path, "a", cold)
    assert b.migration_status("t")["state"] == "mounted"
    assert [bytes(r["value"]) for r in b.fetch_rows("t", 0)] == [b"v1"]


def test_migration_status_reports_every_handoff_state(spark, tmp_path):
    """migration_status tells the operator which recovery verb applies:
    mounted → mountable (published token) → claim_in_progress (crashed
    mount) / handoff_staged (crashed unmount) → absent after adoption;
    segments-without-token reads recoverable (DR). Exposed read-only via
    CLI `topic migration-status` and REST GET /topics/{t}/migration."""
    from redpanda_spark.rest import RestApp

    cold = tmp_path / "bucket"
    a = _mk_engine(spark, tmp_path, "a", cold)
    a.create_topic("t", _cfg(partitions=1))
    _produce(a, "t", ["v1"])
    a.offset_commit("g1", "t", 0, 1)
    assert a.migration_status("t")["state"] == "mounted"
    assert a.migration_status("nope")["state"] == "absent"

    a.unmount_topic("t", with_groups=True)
    st = a.migration_status("t")
    assert st["state"] == "mountable"
    assert st["carries_groups"] is True
    # REST surface, via a read-only observer engine
    ro = TopicEngine(
        spark, str(tmp_path / "a"), archive_root=str(cold), read_only=True
    )
    status, out = RestApp(ro).handle("GET", "/topics/t/migration")
    assert status == 200 and out["state"] == "mountable"

    ad = str(cold / "t")
    # a mount crashed between claim-create and plain-delete: BOTH tokens
    # exist, a plain mount deterministically loses the claim race — the
    # claimed token must take precedence in the report
    import shutil as _sh

    _sh.copyfile(
        os.path.join(ad, "_topic_manifest.json"),
        os.path.join(ad, "_topic_manifest.claimed.json"),
    )
    assert a.migration_status("t")["state"] == "claim_in_progress"
    os.remove(os.path.join(ad, "_topic_manifest.json"))
    assert a.migration_status("t")["state"] == "claim_in_progress"
    os.rename(
        os.path.join(ad, "_topic_manifest.claimed.json"),
        os.path.join(ad, "_topic_manifest.pending.json"),
    )
    assert a.migration_status("t")["state"] == "handoff_staged"
    os.remove(os.path.join(ad, "_topic_manifest.pending.json"))
    assert a.migration_status("t")["state"] == "recoverable"


def test_crash_sweep_delete_topic_never_resurrects_metadata(
    spark, tmp_path
):
    """Kill-point sweep over delete_topic's destructive sequence (tx
    purge + offsets purge + segment/manifest deletes under one lock):
    whatever mutation the crash lands on, retrying the delete and
    recreating the same-named topic must find NO stale side-table
    metadata — a leftover aborted range would hide the fresh topic's
    rows at the reused offsets from read_committed consumers, and a
    stale committed offset would make a resuming consumer skip them
    (the `create_topic` purge-on-hit guard, both tables). Once the
    catalog removal has landed, a topic of the same name mounted from a
    bucket must not inherit the deleted topic's committed offsets either:
    mount replays only the groups its handoff carries."""
    from redpanda_spark.engine import TopicEngine

    state = {}

    def make_engine(budget):
        root = str(tmp_path / f"d{budget}" / "root")
        a = TopicEngine(spark, root)
        a.create_topic("t", TopicConfig(partitions=1))
        _produce(a, "t", ["v1", "v2"])
        _seed_metadata(spark, a, "t")
        state["root"] = root
        return a

    def recover(budget):
        bucket = str(tmp_path / f"d{budget}" / "bucket")
        rec = TopicEngine(spark, state["root"], archive_root=bucket)
        if "t" not in rec.list_topics():
            src = TopicEngine(
                spark, str(tmp_path / f"d{budget}" / "src"), archive_root=bucket
            )
            src.create_topic("t", _cfg(partitions=1))
            _produce(src, "t", ["m1"])
            src.unmount_topic("t")
            rec.mount_topic("t")
            assert _group_offsets_for(rec, "t") == {}, f"budget {budget}"
        rec.delete_topic("t")  # finish the crashed delete / drop the mount
        rec.create_topic("t", TopicConfig(partitions=1))
        assert _tx_rows_for(rec, "t") == set(), f"budget {budget}"
        assert _group_offsets_for(rec, "t") == {}, f"budget {budget}"
        _produce(rec, "t", ["fresh1", "fresh2"])
        vals = [
            bytes(r["value"])
            for r in rec.fetch("t", 0, isolation="read_committed")
            .orderBy("offset")
            .collect()
        ]
        # offsets 0..1 are REUSED by the fresh topic: a resurrected
        # aborted range would hide them here
        assert vals == [b"fresh1", b"fresh2"], f"budget {budget}"

    _kill_point_sweep(
        make_engine,
        lambda eng: eng.delete_topic("t"),
        recover,
        max_budget=30,
        min_crashes=4,
    )


def test_mount_after_crashed_delete_drops_stale_tx_ranges(spark, tmp_path):
    """delete_topic tombstones a topic's tx ranges only after its
    catalog removal, so a crash in between leaves them behind for a gone
    topic. A topic of the same name mounted from a bucket must not
    inherit them: here a stale aborted range of producer 7 covers offset
    0, where the mounted topic holds a transactional record of producer 7
    that read_committed must still show."""
    from pyspark.sql import Row

    from redpanda_spark.operators.txcoord import TX_RANGE_SCHEMA

    cold = tmp_path / "bucket"

    def tx_record(v):
        return {
            "value": v.encode(), "timestamp": BASE, "partition": 0,
            "producer_id": 7, "producer_epoch": 0, "base_sequence": 0,
            "is_transactional": True,
        }

    a = _mk_engine(spark, tmp_path, "a", cold)
    a.create_topic("t", _cfg(partitions=1))
    a.produce("t", [tx_record("stale")])
    a.append_tx_ranges(
        spark.createDataFrame(
            [Row(topic="t", partition=0, producer_id=7, first_offset=0,
                 last_offset=0, outcome="aborted")],
            TX_RANGE_SCHEMA,
        )
    )
    real_append = a._group_append

    def crash_on_tx_tombstones(records):
        if any(k[0] == "tx" for k, _ in records):
            raise _Crash("before the tx tombstones")
        real_append(records)

    a._group_append = crash_on_tx_tombstones
    with pytest.raises(_Crash):
        a.delete_topic("t")

    rec = _mk_engine(spark, tmp_path, "a", cold)
    assert "t" not in rec.list_topics()
    assert _tx_rows_for(rec, "t") == {(0, 7, 0, 0, "aborted")}  # left behind

    src = _mk_engine(spark, tmp_path, "src", cold)
    src.create_topic("t", _cfg(partitions=1))
    src.produce("t", [tx_record("m0")])
    _produce(src, "t", ["m1"])
    src.unmount_topic("t")
    rec.mount_topic("t")
    assert _tx_rows_for(rec, "t") == set()
    rows = rec.fetch_rows("t", 0, isolation="read_committed")
    assert [bytes(r["value"]) for r in rows] == [b"m0", b"m1"]
    scan = rec.fetch("t", 0, isolation="read_committed").orderBy("offset")
    assert [bytes(r["value"]) for r in scan.collect()] == [b"m0", b"m1"]


def test_rest_and_cli_group_migration_surfaces(spark, tmp_path, capsys):
    """The with_groups opt-in rides through both admin surfaces: REST
    body {"with_groups": [...]} and CLI --with-groups."""
    from redpanda_spark.cli import main
    from redpanda_spark.rest import RestApp

    # REST: unmount with groups, mount, offsets present on the target
    cold = tmp_path / "bucket"
    a = _mk_engine(spark, tmp_path, "a", cold)
    a.create_topic("t", _cfg(partitions=1))
    _produce(a, "t", ["v1", "v2"])
    a.offset_commit("g1", "t", 0, 1)
    app = RestApp(a)
    status, out = app.handle(
        "POST", "/topics/t/unmount", {"with_groups": ["g1"]}
    )
    assert status == 200 and out["unmounted"] == "t"
    b = _mk_engine(spark, tmp_path, "b", cold)
    RestApp(b).handle("POST", "/topics/t/mount")
    committed = {
        (r["group_id"], r["partition"]): r["committed_offset"]
        for r in b.offset_fetch().where("topic = 't'").collect()
    }
    assert committed == {("g1", 0): 1}

    # CLI: --with-groups with no names migrates every group
    root = str(tmp_path / "c")
    cold2 = str(tmp_path / "bucket2")
    eng = TopicEngine(spark, root, archive_root=cold2)
    eng.create_topic("u", _cfg(partitions=1))
    _produce(eng, "u", ["x"])
    eng.offset_commit("g2", "u", 0, 1)
    assert main([
        "--root", root, "--archive-root", cold2,
        "topic", "unmount", "u", "--with-groups",
    ]) == 0
    capsys.readouterr()
    root_d = str(tmp_path / "d")
    assert main([
        "--root", root_d, "--archive-root", cold2, "topic", "mount", "u",
    ]) == 0
    capsys.readouterr()
    d = TopicEngine(spark, root_d, archive_root=cold2, read_only=True)
    committed = {
        (r["group_id"], r["partition"]): r["committed_offset"]
        for r in d.offset_fetch().where("topic = 'u'").collect()
    }
    assert committed == {("g2", 0): 1}

    # CLI observer: migration-status (read-only engine open)
    assert main([
        "--root", root_d, "--archive-root", cold2,
        "topic", "migration-status", "u",
    ]) == 0
    assert json.loads(capsys.readouterr().out)["state"] == "mounted"
    assert main([
        "--root", root, "--archive-root", cold2,
        "topic", "migration-status", "u",
    ]) == 0
    # the source cluster: topic gone locally, every token consumed, but
    # the segments remain (they are d's live cold tier now) — the status
    # is the documented-ambiguous "recoverable", NOT "absent"
    assert json.loads(capsys.readouterr().out)["state"] == "recoverable"
