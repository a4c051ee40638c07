"""Crash-injection sweep over the engine's metadata mutation points —
the consistency-testing harness of SURVEY.md §5 item 8
(`src/consistency-testing/`, chaos_tests/) re-expressed as a
deterministic kill-point sweep.

Every mutating fsio call (atomic manifest write, rename, delete) is a
potential crash point. For EACH budget b in 1..N we let the operation
perform b-1 mutations then 'crash' (raise) on the b-th, reopen a fresh
engine over the same root (the recovery path: manifest load + orphan
GC), and assert the atomicity contract: the topic is EITHER fully at
the pre-op snapshot or fully at the post-op snapshot — never between —
and all verifier invariants hold. Sweeping b until the op stops
crashing covers every metadata kill-point the op has."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from redpanda_spark.engine import TopicConfig, TopicEngine
from redpanda_spark.verifier import encode_value, verify_log_invariants


class CrashError(Exception):
    pass


class FaultInjectingFS:
    """Delegates to a real fsio impl; raises CrashError on the Nth
    MUTATING call (reads never fail — a crashed process doesn't corrupt
    what it only read)."""

    _MUTATORS = {"write_text_atomic", "rename", "delete", "mkdirs"}

    def __init__(self, inner, budget: int):
        self._inner = inner
        self._budget = budget
        self.mutations = 0

    def __getattr__(self, name):
        attr = getattr(self._inner, name)
        if name not in self._MUTATORS or not callable(attr):
            return attr

        def guarded(*a, **kw):
            self.mutations += 1
            if self.mutations >= self._budget:
                raise CrashError(f"injected crash at mutation #{self.mutations} ({name})")
            return attr(*a, **kw)

        return guarded


def _batch(spark, seqs, tag="v"):
    rows = [Row(key=f"k{s % 20}".encode(), value=encode_value(f"k{s % 20}".encode(), s))
            for s in seqs]
    return spark.createDataFrame(rows, "key binary, value binary")


def _snapshot(engine, topic):
    rows = sorted(
        (r["partition"], r["offset"], bytes(r["key"] or b""), bytes(r["value"] or b""))
        for r in engine.log(topic).collect()
    )
    return rows, engine.high_watermarks(topic)


def _sweep(spark, tmp_path, op, seed_batches=2, max_budget=40):
    """Run `op(engine)` under every crash budget; after each crash,
    recovery must land on exactly the pre- or post-op snapshot."""
    # reference run (no injection) to learn the post-op snapshot
    ref_root = str(tmp_path / "ref")
    ref = TopicEngine(spark, ref_root)
    ref.create_topic("t", TopicConfig(partitions=2, cleanup_policy="compact"))
    for b in range(seed_batches):
        ref.produce("t", _batch(spark, range(b * 50, (b + 1) * 50)))
    before = _snapshot(ref, "t")
    op(ref)
    after = _snapshot(ref, "t")

    crashes = 0
    for budget in range(1, max_budget + 1):
        root = str(tmp_path / f"b{budget}")
        engine = TopicEngine(spark, root)
        engine.create_topic("t", TopicConfig(partitions=2, cleanup_policy="compact"))
        for b in range(seed_batches):
            engine.produce("t", _batch(spark, range(b * 50, (b + 1) * 50)))
        engine._fsio = FaultInjectingFS(engine._fsio, budget)
        try:
            op(engine)
            completed = True
        except CrashError:
            completed = False
            crashes += 1
        # recovery: fresh engine over the same root, clean fs
        spark.catalog.clearCache()
        rec = TopicEngine(spark, root)
        got = _snapshot(rec, "t")
        assert got in (before, after), (
            f"budget {budget}: recovered state is neither pre- nor post-op "
            f"(rows={len(got[0])}, pre={len(before[0])}, post={len(after[0])})"
        )
        if completed:
            # op finished: the commit must have landed
            assert got == after, f"budget {budget}: op completed but state is pre-op"
            break
        inv = verify_log_invariants(rec, "t", dense=(got == before))
        assert inv["hwm_mismatches"] == 0 and inv["corrupt"] == 0, inv
    assert crashes > 0, "sweep never crashed — injector not wired"
    return crashes


def test_crash_sweep_produce_atomic(spark, tmp_path):
    def op(engine):
        engine.produce("t", _batch(spark, range(100, 140), tag="new"))

    crashes = _sweep(spark, tmp_path, op)
    assert crashes >= 1


def test_crash_sweep_compaction_atomic(spark, tmp_path):
    def op(engine):
        engine.run_compaction("t")

    _sweep(spark, tmp_path, op)


def test_crash_sweep_segment_merge_atomic(spark, tmp_path):
    def op(engine):
        engine.optimize_segments("t", target_file_bytes=1 << 20)

    _sweep(spark, tmp_path, op)


def test_crashed_produce_leaves_no_visible_orphans(spark, tmp_path):
    """A produce that dies between data write and manifest commit leaves
    files on disk; they must be invisible to reads AND deleted by the
    reopen GC."""
    root = str(tmp_path / "orph")
    engine = TopicEngine(spark, root)
    engine.create_topic("t", TopicConfig(partitions=2))
    engine.produce("t", _batch(spark, range(50)))
    hwm_before = engine.high_watermarks("t")
    n_before = len(engine._segment_files("t"))

    # crash on the FIRST metadata mutation after the spark write: the
    # manifest commit (budget high enough to let nothing else mutate)
    engine._fsio = FaultInjectingFS(engine._fsio, 1)
    with pytest.raises(CrashError):
        engine.produce("t", _batch(spark, range(50, 90), tag="x"))

    rec = TopicEngine(spark, root)
    assert rec.log("t").count() == 50  # orphan rows invisible
    assert rec.high_watermarks("t") == hwm_before  # watermarks untouched
    # orphan files physically GC'd on reopen
    assert len(rec._segment_files("t")) == n_before


def test_crash_sweep_segment_retention_atomic(spark, tmp_path):
    """Kill-point sweep over the segment-granularity time-retention path
    (manifest commit + physical deletes): recovery after any crash lands
    on exactly the pre- or post-retention snapshot — dropped files never
    half-disappear because the manifest swap is the only visibility
    point and deletes happen after it."""
    import datetime as dt

    now = dt.datetime(2024, 6, 1, 12, 0, 0)
    now_ms = int(now.replace(tzinfo=dt.timezone.utc).timestamp() * 1000)

    def tbatch(hours_ago_list):
        rows = [
            Row(
                partition=i % 2,
                key=None,
                value=f"r{h}".encode(),
                timestamp=now - dt.timedelta(hours=h),
            )
            for i, h in enumerate(hours_ago_list)
        ]
        return spark.createDataFrame(
            rows, "partition int, key binary, value binary, timestamp timestamp"
        )

    def seed(engine):
        engine.create_topic("t", TopicConfig(partitions=2, retention_ms=3_600_000))
        engine.produce("t", tbatch([5, 4, 5, 4]))       # fully expired file
        engine.produce("t", tbatch([2, 0.5, 2, 0.25]))  # boundary file
        engine.produce("t", tbatch([0.2, 0.1]))         # untouched file

    ref_root = str(tmp_path / "ref")
    ref = TopicEngine(spark, ref_root)
    seed(ref)
    before = _snapshot(ref, "t")
    ref.run_retention("t", now_ms=now_ms)
    after = _snapshot(ref, "t")
    assert len(after[0]) == 4 and len(before[0]) == 10  # fast path did work

    crashes = 0
    for budget in range(1, 30):
        root = str(tmp_path / f"b{budget}")
        engine = TopicEngine(spark, root)
        seed(engine)
        engine._fsio = FaultInjectingFS(engine._fsio, budget)
        try:
            engine.run_retention("t", now_ms=now_ms)
            completed = True
        except CrashError:
            completed = False
            crashes += 1
        spark.catalog.clearCache()
        rec = TopicEngine(spark, root)
        got = _snapshot(rec, "t")
        assert got in (before, after), (
            f"budget {budget}: recovered state is neither pre- nor post-op "
            f"(rows={len(got[0])})"
        )
        if completed:
            assert got == after
            break
    assert crashes > 0
