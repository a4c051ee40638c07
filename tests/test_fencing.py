"""Writer fencing: two engines over one root must not split-brain the
manifest. The reference enforces single-appender-per-partition via raft
leadership (`src/v/raft/consensus.cc`) and fences stale producers by epoch
(`cluster/rm_stm.h:67-73`); here a durable per-topic writer epoch is
claimed at open and re-checked under a root write-lock at every manifest
commit, so a stale engine's commit fails cleanly instead of
last-writer-winning — and orphan GC can never eat a committed segment."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import Row

from redpanda_spark.engine import FencedWriterError, TopicConfig, TopicEngine


def _records(spark, kvs):
    rows = [Row(key=k.encode(), value=v.encode()) for k, v in kvs]
    return spark.createDataFrame(rows, "key binary, value binary")


def _rowset(df):
    return {
        (r["partition"], r["offset"], bytes(r["value"]))
        for r in df.collect()
    }


def test_second_open_fences_first_writer_produce(spark, tmp_path):
    root = str(tmp_path / "topics")
    a = TopicEngine(spark, root)
    a.create_topic("t", TopicConfig(partitions=2))
    a.produce("t", _records(spark, [("k1", "v1"), ("k2", "v2")]))
    before = _rowset(a.log("t"))

    b = TopicEngine(spark, root)  # claims a higher writer epoch
    # everything A committed before the claim is visible to B
    assert _rowset(b.log("t")) == before

    # A is now a stale leader: its next commit must be REFUSED
    with pytest.raises(FencedWriterError) as ei:
        a.produce("t", _records(spark, [("k3", "v3")]))
    assert ei.value.topic == "t" and ei.value.current > ei.value.mine

    # ... and the refusal changed nothing durable: B still reads `before`,
    # and B (the current writer) can produce normally
    assert _rowset(b.log("t")) == before
    b.produce("t", _records(spark, [("k4", "v4")]))
    assert len(_rowset(b.log("t"))) == 3


def test_fenced_compaction_and_delete_refused(spark, tmp_path):
    root = str(tmp_path / "topics")
    a = TopicEngine(spark, root)
    a.create_topic("c", TopicConfig(partitions=1, cleanup_policy="compact"))
    a.produce("c", _records(spark, [("a", "1"), ("a", "2"), ("b", "1")]))

    b = TopicEngine(spark, root)
    with pytest.raises(FencedWriterError):
        a.run_compaction("c")
    with pytest.raises(FencedWriterError):
        a.delete_topic("c")
    # the topic and all three records survive the stale writer's attempts
    assert b.log("c").count() == 3


def test_claim_gc_never_deletes_committed_segments(spark, tmp_path):
    """The split-brain GC hazard: B's open-time orphan GC may only delete
    segments NO committed manifest references. A's committed segments all
    survive; a provisional (uncommitted) stray file is collected."""
    root = str(tmp_path / "topics")
    a = TopicEngine(spark, root)
    a.create_topic("t", TopicConfig(partitions=1))
    a.produce("t", _records(spark, [("k1", "v1")]))
    a.produce("t", _records(spark, [("k2", "v2")]))
    before = _rowset(a.log("t"))
    committed = {
        os.path.join(root, p) for p in a._files["t"]
    }
    # simulate a produce that died before its manifest commit: a stray
    # parquet in the topic dir that no manifest references
    stray = os.path.join(root, "t", "zz-stray-provisional.parquet")
    with open(stray, "wb") as f:
        f.write(b"PAR1 not a real segment PAR1")

    b = TopicEngine(spark, root)  # claim + orphan GC
    assert not os.path.exists(stray), "uncommitted orphan must be GC'd"
    for p in committed:
        assert os.path.exists(p), f"committed segment lost: {p}"
    assert _rowset(b.log("t")) == before


def test_fenced_writer_resumes_after_reopen(spark, tmp_path):
    root = str(tmp_path / "topics")
    a = TopicEngine(spark, root)
    a.create_topic("t", TopicConfig(partitions=1))
    a.produce("t", _records(spark, [("k1", "v1")]))
    TopicEngine(spark, root)  # B fences A
    with pytest.raises(FencedWriterError):
        a.produce("t", _records(spark, [("k2", "v2")]))
    # the documented recovery: reopen (re-claim) and retry
    a2 = TopicEngine(spark, root)
    a2.produce("t", _records(spark, [("k2", "v2")]))
    offs = sorted(r["offset"] for r in a2.log("t").collect())
    assert offs == [0, 1]  # contiguous across the fence + reopen


def _chain_epochs(root, topic):
    d = os.path.join(root, f"_epoch_{topic}")
    if not os.path.isdir(d):
        return []
    return sorted(
        int(n[:-6]) for n in os.listdir(d) if n.endswith(".claim")
    )


def test_epoch_is_durable_and_monotone(spark, tmp_path):
    root = str(tmp_path / "topics")
    a = TopicEngine(spark, root)
    a.create_topic("t", TopicConfig(partitions=1))
    a.produce("t", _records(spark, [("k", "v")]))
    e1 = a._writer_epoch["t"]
    b = TopicEngine(spark, root)
    assert b._writer_epoch["t"] == e1 + 1
    # the claim chain and manifest both carry the current claim (the
    # winner GC'd superseded claims, so the chain holds exactly the max)
    assert _chain_epochs(root, "t") == [e1 + 1]
    b.produce("t", _records(spark, [("k2", "v2")]))
    man = json.loads(open(os.path.join(root, "_manifest_t.json")).read())
    assert man["writer_epoch"] == e1 + 1


def test_legacy_epoch_file_migrates_into_claim_chain(spark, tmp_path):
    """A root written by the pre-claim-chain engine (single json epoch
    file) is adopted: the first claim lands ABOVE the legacy epoch and
    the legacy file is retired."""
    root = str(tmp_path / "topics")
    a = TopicEngine(spark, root)
    a.create_topic("t", TopicConfig(partitions=1))
    a.produce("t", _records(spark, [("k", "v")]))
    # simulate the legacy layout: epoch 7 in the old json, no chain
    import shutil

    shutil.rmtree(os.path.join(root, "_epoch_t"))
    with open(os.path.join(root, "_writer_epoch_t.json"), "w") as f:
        f.write(json.dumps({"epoch": 7}))
    b = TopicEngine(spark, root)
    assert b._writer_epoch["t"] > 7
    assert not os.path.exists(os.path.join(root, "_writer_epoch_t.json"))
    b.produce("t", _records(spark, [("k2", "v2")]))
    assert b.log("t").count() == 2


def test_delete_recreate_keeps_epoch_lineage_monotone(spark, tmp_path):
    """The ABA hazard: delete_topic + create_topic must NOT restart the
    epoch lineage at 1 — a stale engine still holding the old topic's
    epoch would then pass the fence and commit its stale manifest over
    the new topic. The chain survives the lifecycle, so the stale writer
    stays fenced forever."""
    root = str(tmp_path / "topics")
    a = TopicEngine(spark, root)
    a.create_topic("t", TopicConfig(partitions=1))
    a.produce("t", _records(spark, [("k", "v")]))
    b = TopicEngine(spark, root)  # fences a (b epoch = a epoch + 1)
    stale_epoch = a._writer_epoch["t"]
    b.delete_topic("t")
    b.create_topic("t", TopicConfig(partitions=1))
    b.produce("t", _records(spark, [("new", "data")]))
    # lineage continued: the new incarnation's epoch is above every claim
    # the old incarnation ever made
    assert b._writer_epoch["t"] > stale_epoch
    # the stale engine's commit is REFUSED (pre-fix it passed: the delete
    # reset the lineage and epoch 1 matched again)
    with pytest.raises(FencedWriterError):
        a.produce("t", _records(spark, [("stale", "overwrite")]))
    vals = {bytes(r["value"]) for r in b.log("t").collect()}
    assert vals == {b"data"}


def test_fencing_on_uri_root_optimistic(spark, tmp_path):
    """A URI root goes through HadoopFS, which has no flock — the fence
    must still hold via the optimistic epoch re-read at commit time."""
    root = "file://" + str(tmp_path / "topics")
    a = TopicEngine(spark, root)
    from redpanda_spark.fsio import HadoopFS

    assert isinstance(a._fsio, HadoopFS)
    a.create_topic("t", TopicConfig(partitions=1))
    a.produce("t", _records(spark, [("k1", "v1")]))
    b = TopicEngine(spark, root)
    with pytest.raises(FencedWriterError):
        a.produce("t", _records(spark, [("k2", "v2")]))
    b.produce("t", _records(spark, [("k2", "v2")]))
    assert b.log("t").count() == 2


def test_create_exclusive_race_exactly_one_winner_hadoop(spark, tmp_path):
    """The claim primitive on a URI root (HadoopFS code path): N threads
    race ``create(path, overwrite=false)`` for the SAME file — the
    filesystem arbitrates and EXACTLY one wins. This is what makes two
    engines unable to share an epoch number without any lock."""
    from redpanda_spark import fsio

    fs = fsio.for_root(spark, "file://" + str(tmp_path))
    assert isinstance(fs, fsio.HadoopFS)
    path = "file://" + str(tmp_path / "claim-target")
    import threading

    results = []
    barrier = threading.Barrier(8)

    def racer(i):
        barrier.wait()
        results.append((i, fs.create_exclusive(path, f"writer-{i}")))

    threads = [threading.Thread(target=racer, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    winners = [i for i, won in results if won]
    assert len(winners) == 1, f"expected one winner, got {winners}"
    assert len(results) == 8


def test_conditional_create_probe_classification(spark, tmp_path):
    """The object-store conditional-create probe is tri-state: a
    connector that rejects the builder option downgrades to the
    optimistic path permanently (stop paying for the probe); a create
    conflict maps to lost-the-race False by exception CLASS NAME (bare
    substrings like '412' would misclassify request ids). Acceptance is
    never treated as proof of enforcement — arbitrated_create (which
    gates the owner-nonce commit check) flips ONLY via the operator's
    trust_conditional_create attestation."""
    from redpanda_spark import fsio

    fs = fsio.for_root(spark, "file://" + str(tmp_path))
    fs._native_arbitrated = False  # pretend: s3a-style scheme
    fs._conditional_create = None

    class _Unsupported:
        def createFile(self, p):
            raise RuntimeError("Unsupported mandatory key")

        def create(self, p, overwrite):
            return _Out()

        def exists(self, p):
            return False

    class _Out:
        def write(self, b):
            pass

        def close(self):
            pass

    real = fs._fs
    try:
        fs._fs = _Unsupported()
        assert fs.create_exclusive("s3a://bkt/x", "v") is True  # fallback
        assert fs._conditional_create is False  # probe never retried
        assert fs.arbitrated_create is False  # nonce check stays on

        class _Conflict:
            def createFile(self, p):
                raise RuntimeError(
                    "org.apache.hadoop.fs.FileAlreadyExistsException: "
                    "target exists"
                )

        fs._conditional_create = None
        fs._fs = _Conflict()
        # conflict: lost the race — but acceptance proves nothing about
        # server-side enforcement, so the nonce check stays on
        assert fs.create_exclusive("s3a://bkt/x", "v") is False
        assert fs._conditional_create is True
        assert fs.arbitrated_create is False

        class _TransientWith412:
            def createFile(self, p):
                raise RuntimeError(
                    "request failed: req-id 8412aa, status unknown"
                )

            def create(self, p, overwrite):
                return _Out()

            def exists(self, p):
                return False

        fs._conditional_create = None
        fs._fs = _TransientWith412()
        # '412' inside unrelated text must NOT read as a conflict: the
        # probe downgrades and the optimistic path completes the write
        assert fs.create_exclusive("s3a://bkt/x", "v") is True
        assert fs._conditional_create is False

        # the operator attestation is the only arbitration upgrade
        fs.trust_conditional_create = True
        assert fs.arbitrated_create is True
    finally:
        fs._fs = real
        fs.trust_conditional_create = False


def test_conditional_create_builder_flags_against_real_hadoop(
    spark, tmp_path
):
    """The probe's builder call sequence against the REAL Hadoop
    FileSystem builder (local scheme): a create/overwrite flag is
    mandatory — an earlier version omitted them and build() threw
    'Must specify either create, overwrite or append' on EVERY probe,
    silently pinning the conditional path off. The real builder must
    either honor the sequence or reject the option with the
    unsupported-key error our classification downgrades on — never the
    missing-flag error."""
    from redpanda_spark import fsio

    fs = fsio.for_root(spark, "file://" + str(tmp_path))
    p = fs._p("file://" + str(tmp_path / "builder-target"))
    b = fs._fs.createFile(p)
    b.create()
    b.overwrite(False)
    b.recursive()
    b.must("fs.option.create.conditional.overwrite", True)
    try:
        out = b.build()
        out.write(bytearray(b"x"))
        out.close()
        assert fs.read_text("file://" + str(tmp_path / "builder-target")) == "x"
    except Exception as e:
        msg = str(e)
        assert "Must specify" not in msg, f"builder flags wrong: {msg}"
        assert "Unsupported" in msg or "key" in msg.lower(), msg


def test_list_names_propagates_non_notfound_errors(spark, tmp_path):
    """list_names returns [] ONLY for an absent dir. Swallowing other IO
    errors to [] made _read_writer_epoch see an empty claim chain and
    fall back to epoch 0 — spuriously fencing the LIVE writer at its
    next commit (and busy-spinning the claim retry loop at a constant
    target on a flaky store)."""
    from redpanda_spark import fsio

    fs = fsio.for_root(spark, "file://" + str(tmp_path))
    assert fs.list_names("file://" + str(tmp_path / "absent")) == []

    class _Boom:
        def listStatus(self, p):
            raise RuntimeError("connection reset by peer")

    real = fs._fs
    fs._fs = _Boom()
    try:
        with pytest.raises(RuntimeError, match="connection reset"):
            fs.list_names("file://" + str(tmp_path))
    finally:
        fs._fs = real


def test_concurrent_claims_on_uri_root_never_share_an_epoch(spark, tmp_path):
    """Two engines race the writer-epoch claim itself on a file:// root
    (no flock — the create-exclusive chain is the ONLY protection):
    every claimed epoch is distinct, the durable chain max equals the
    highest claim, and exactly one engine is the final unfenced writer.
    Pre-fix, the read-increment-write bump let both engines claim N+1 and
    NEITHER fenced the other."""
    root = "file://" + str(tmp_path / "topics")
    setup = TopicEngine(spark, root)
    setup.create_topic("t", TopicConfig(partitions=1))
    setup.produce("t", _records(spark, [("k0", "v0")]))

    import threading

    engines: dict[int, TopicEngine] = {}
    barrier = threading.Barrier(4)
    errors = []

    def opener(i):
        barrier.wait()
        try:
            engines[i] = TopicEngine(spark, root)
        except Exception as e:  # pragma: no cover - diagnostic
            errors.append(e)

    threads = [threading.Thread(target=opener, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    epochs = [e._writer_epoch["t"] for e in engines.values()]
    assert len(set(epochs)) == len(epochs), f"shared epoch: {epochs}"
    # the engine holding the max epoch is the one true writer; everyone
    # else is fenced on their next commit
    top = max(engines.values(), key=lambda e: e._writer_epoch["t"])
    losers = [e for e in engines.values() if e is not top]
    for e in losers:
        with pytest.raises(FencedWriterError):
            e.produce("t", _records(spark, [("x", "stale")]))
    top.produce("t", _records(spark, [("k1", "v1")]))
    reader = TopicEngine(spark, root, read_only=True)
    vals = {bytes(r["value"]) for r in reader.log("t").collect()}
    assert vals == {b"v0", b"v1"}


def test_read_only_open_does_not_fence_the_writer(spark, tmp_path):
    """Observers (metrics scrape, topic describe, a consumer) open with
    read_only=True: no epoch claim, no orphan GC — the live producer
    keeps its leadership and keeps producing."""
    root = str(tmp_path / "topics")
    a = TopicEngine(spark, root)
    a.create_topic("t", TopicConfig(partitions=1))
    a.produce("t", _records(spark, [("k1", "v1")]))

    ro = TopicEngine(spark, root, read_only=True)
    assert ro.log("t").count() == 1
    assert ro.topic_stats("t")["segments"] >= 1
    # the writer is NOT fenced by the observer's open
    a.produce("t", _records(spark, [("k2", "v2")]))
    assert a.log("t").count() == 2
    # and the observer refuses every mutation class with a clear error
    with pytest.raises(ValueError, match="read_only"):
        ro.produce("t", _records(spark, [("k3", "v3")]))
    with pytest.raises(ValueError, match="read_only"):
        ro.create_topic("u", TopicConfig(partitions=1))
    with pytest.raises(ValueError, match="read_only"):
        ro.delete_topic("t")


def test_read_only_open_leaves_orphans_alone(spark, tmp_path):
    """Orphan GC requires ownership: a read-only open must not delete a
    live writer's provisional (not-yet-committed) segment files."""
    root = str(tmp_path / "topics")
    a = TopicEngine(spark, root)
    a.create_topic("t", TopicConfig(partitions=1))
    a.produce("t", _records(spark, [("k1", "v1")]))
    stray = os.path.join(root, "t", "zz-in-flight.parquet")
    with open(stray, "wb") as f:
        f.write(b"provisional")
    TopicEngine(spark, root, read_only=True)
    assert os.path.exists(stray), "observer must not GC the writer's files"
    # a WRITER open still collects it
    TopicEngine(spark, root)
    assert not os.path.exists(stray)


def test_cli_metrics_does_not_fence_producer(spark, tmp_path, capsys):
    """`cluster metrics` (and the other observer commands) go through a
    read-only engine — scraping must never steal topic leadership."""
    from redpanda_spark.cli import main

    root = str(tmp_path / "root")
    a = TopicEngine(spark, root)
    a.create_topic("t", TopicConfig(partitions=1))
    a.produce("t", _records(spark, [("k1", "v1")]))
    assert main(["--root", root, "cluster", "metrics"]) == 0
    capsys.readouterr()
    assert main(["--root", root, "topic", "describe", "t"]) == 0
    capsys.readouterr()
    a.produce("t", _records(spark, [("k2", "v2")]))  # still the leader
    assert a.log("t").count() == 2


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_OPS = st.lists(
    st.sampled_from(
        [
            "a_produce",
            "b_produce",
            "reopen_a",
            "reopen_b",
            "a_recreate",
            "b_recreate",
            "a_migrate",
            "b_migrate",
        ]
    ),
    min_size=3,
    max_size=7,
)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(ops=_OPS)
def test_interleaved_writers_never_lose_committed_rows(spark, tmp_path_factory, ops):
    """Adversarial interleaving of two engines over one root: every op
    either succeeds or raises FencedWriterError, and the visible log is
    EXACTLY the union of the successful produces — a fenced attempt
    contributes nothing, a committed row never disappears. ``migrate``
    is a full unmount→mount round trip (staged handoff manifest, claim
    token, consume), which must also preserve the committed set."""
    root = str(tmp_path_factory.mktemp("contend") / "topics")
    _cfg = lambda: TopicConfig(partitions=1, remote_write=True)  # noqa: E731
    engines = {"a": TopicEngine(spark, root)}
    engines["a"].create_topic("t", _cfg())
    engines["b"] = TopicEngine(spark, root)  # fences a
    committed: set[bytes] = set()
    seq = 0
    for op in ops:
        seq += 1
        val = f"v{seq}".encode()
        if op == "reopen_a":
            engines["a"] = TopicEngine(spark, root)
        elif op == "reopen_b":
            engines["b"] = TopicEngine(spark, root)
        elif op.endswith("_recreate"):
            # the ABA edge in adversarial form: a delete+recreate must
            # fence every pre-delete writer (monotone epoch lineage) —
            # a fenced engine's recreate attempt must change NOTHING
            eng = engines[op[0]]
            try:
                eng.delete_topic("t")
            except FencedWriterError:
                pass  # fenced: the topic (and committed set) survive
            else:
                eng.create_topic("t", _cfg())
                committed = set()
        elif op.endswith("_migrate"):
            eng = engines[op[0]]
            try:
                eng.unmount_topic("t")
            except FencedWriterError:
                pass  # fenced migrator: changes nothing (incl. bucket)
            else:
                eng.mount_topic("t")
        else:
            eng = engines[op[0]]
            try:
                eng.produce("t", [{"key": b"k", "value": val}])
                committed.add(val)
            except FencedWriterError:
                pass  # fenced: must contribute nothing
        reader = TopicEngine(spark, root, read_only=True)
        visible = {bytes(r["value"]) for r in reader.log("t").collect()}
        assert visible == committed, (
            f"after {op} (#{seq}): visible={visible} committed={committed}"
        )


def test_cli_debug_bundle_collects_state_read_only(spark, tmp_path, capsys):
    """`cluster debug-bundle` (rpk debug bundle analog) zips the
    observable state without claiming the writer epoch — support
    collection on a live cluster never fences the producer."""
    import zipfile

    from redpanda_spark.cli import main

    root = str(tmp_path / "root")
    a = TopicEngine(spark, root)
    a.create_topic("t", TopicConfig(partitions=1))
    a.produce("t", _records(spark, [("k1", "v1"), ("k2", "v2")]))
    out = str(tmp_path / "bundle.zip")
    assert main(["--root", root, "cluster", "debug-bundle", "--out", out]) == 0
    rep = json.loads(capsys.readouterr().out)
    assert rep["bundle"] == out and rep["topics"] == 1
    with zipfile.ZipFile(out) as z:
        names = set(z.namelist())
        assert {"topics.json", "metrics.prom", "manifests/t.json"} <= names
        topics = json.loads(z.read("topics.json"))
        assert topics["t"]["stats"]["rows"] == 2
        # counters are process-lifetime (broker semantics): the CLI's
        # fresh engine reports its own — empty — counter set
        assert topics["t"]["counters"] == {}
        assert b"redpanda_spark_partition_high_watermark" in z.read(
            "metrics.prom"
        )
    # the bundling did not fence the live producer
    a.produce("t", _records(spark, [("k3", "v3")]))
    assert a.log("t").count() == 3


def test_debug_bundle_carries_counters_time_series(spark, tmp_path, capsys):
    """The maintenance tick appends a counters+stats snapshot to the
    root-side history log; the debug bundle ships that TIME SERIES, so a
    throughput regression is diagnosable from the bundle alone (r11
    verdict #7 — the point-in-time bundle couldn't show trends)."""
    import zipfile

    from redpanda_spark.cli import main

    root = str(tmp_path / "root")
    a = TopicEngine(spark, root)
    a.create_topic("t", TopicConfig(partitions=1))
    a.produce("t", _records(spark, [("k1", "v1")]))
    s1 = a.snapshot_counters_history()
    a.produce("t", _records(spark, [("k2", "v2")]))
    s2 = a.snapshot_counters_history()
    assert s2["ts_ms"] >= s1["ts_ms"]
    # counters are monotone across snapshots
    assert (
        s2["counters"]["t"]["produced_rows"]
        > s1["counters"]["t"]["produced_rows"]
    )
    # the maintenance CLI takes a snapshot too (its own engine, so its
    # counters are empty — but the stats series still advances)
    assert main(["--root", root, "maintenance", "run"]) == 0
    out = [json.loads(ln) for ln in capsys.readouterr().out.splitlines()]
    assert "counters_snapshot_ts_ms" in out[-1]

    out_zip = str(tmp_path / "bundle.zip")
    assert main(
        ["--root", root, "cluster", "debug-bundle", "--out", out_zip]
    ) == 0
    capsys.readouterr()
    with zipfile.ZipFile(out_zip) as z:
        names = set(z.namelist())
        assert "root/_counters_history.jsonl" in names
        series = [
            json.loads(ln)
            for ln in z.read("root/_counters_history.jsonl")
            .decode()
            .splitlines()
            if ln
        ]
    assert len(series) >= 3  # two manual snapshots + the maintenance tick
    ts = [e["ts_ms"] for e in series]
    assert ts == sorted(ts)
    assert series[0]["stats"]["t"]["rows"] == 1
    assert series[1]["stats"]["t"]["rows"] == 2


def test_counters_history_is_ring_bounded(spark, tmp_path):
    root = str(tmp_path / "root")
    a = TopicEngine(spark, root)
    a.create_topic("t", TopicConfig(partitions=1))
    for _ in range(7):
        a.snapshot_counters_history(max_entries=5)
    import os as _os

    lines = [
        ln
        for ln in open(_os.path.join(root, "_counters_history.jsonl"))
        .read()
        .splitlines()
        if ln
    ]
    assert len(lines) == 5


def test_optimistic_double_claim_converges_without_row_loss(spark, tmp_path):
    """The plain-S3 residual window (SURVEY §4 fencing row): where
    create_exclusive is OPTIMISTIC (exists-then-create, no store
    arbitration), two engines racing the same epoch number can BOTH
    believe they created the claim file — but the store keeps exactly
    one content (last PUT wins). The owner-nonce check at commit time
    converges the double-win for the interleaving where the rival's PUT
    has LANDED before the loser's next commit (driven here): the loser
    fences instead of publishing, and no committed row is lost. A racer
    committing before the rival's slower PUT lands remains the
    documented residual window, closed only by store-side conditional
    writes. Simulated on LocalFS by declaring the store non-arbitrated
    and landing engine B's claim content last."""
    root = str(tmp_path / "r")
    a = TopicEngine(spark, root)
    a._fsio.arbitrated_create = False  # pretend: plain-S3-style store
    a.create_topic("t", TopicConfig(partitions=1))
    a.produce("t", _records(spark, [("k1", "v1")]))  # committed, epoch 1
    before = _rowset(a.log("t"))

    b = TopicEngine(spark, root)
    b._fsio.arbitrated_create = False
    # Simulate the double-win: B raced A for epoch 1 and B's PUT landed
    # last — both engines hold epoch number 1; the claim file carries
    # B's nonce. (B's real open claimed epoch 2 via the arbitrated local
    # path; rewind it to the raced state.)
    ed = os.path.join(root, "_epoch_t")
    for n in os.listdir(ed):
        os.remove(os.path.join(ed, n))
    with open(os.path.join(ed, f"{1:020d}.claim"), "w") as f:
        json.dump({"epoch": 1, "owner": b._engine_nonce}, f)
    b._writer_epoch["t"] = 1
    # A's manifest was committed at writer_epoch 1; rewrite is not needed
    # — the claim floor (max of chain, manifest epoch) is still 1.

    # the loser (A) is fenced by NONCE at its next commit — same epoch
    # NUMBER, different owner — before any manifest write happens
    with pytest.raises(FencedWriterError):
        a.produce("t", _records(spark, [("k2", "v2")]))

    # ...and nothing A committed before the race is lost: the winner
    # reads the full history and continues the log
    assert _rowset(b.log("t")) == before
    b.produce("t", _records(spark, [("k3", "v3")]))
    vals = sorted(bytes(r["value"]) for r in b.log("t").collect())
    assert vals == [b"v1", b"v3"]

    # a reopened engine (fresh arbitrated claim, epoch 2) fences B too:
    # normal monotone-epoch convergence resumes above the raced number
    c = TopicEngine(spark, root)
    with pytest.raises(FencedWriterError):
        b.produce("t", _records(spark, [("k4", "v4")]))
    assert len(_rowset(c.log("t"))) == 2


def test_nonce_fence_read_error_propagates_not_swallowed(spark, tmp_path):
    """A TRANSIENT store error reading the claim file during the
    owner-nonce commit check must PROPAGATE, not silently pass the
    fence: treating an unreadable claim as 'legacy/absent' would
    disable exactly the double-win convergence the check provides (the
    same swallow-to-default class fixed in HadoopFS.list_names). Only a
    genuinely ABSENT claim may pass on the epoch number alone."""
    root = str(tmp_path / "r")
    a = TopicEngine(spark, root)
    a._fsio.arbitrated_create = False  # nonce check active at commit
    a.create_topic("t", TopicConfig(partitions=1))
    a.produce("t", _records(spark, [("k1", "v1")]))

    real_read = a._fsio.read_text

    def flaky_read(path):
        if path.endswith(".claim"):
            raise OSError("connection reset by store")
        return real_read(path)

    a._fsio.read_text = flaky_read
    with pytest.raises(OSError, match="connection reset"):
        a.produce("t", _records(spark, [("k2", "v2")]))
    a._fsio.read_text = real_read

    # a genuinely ABSENT claim is the legacy case: number check stands
    def absent_read(path):
        if path.endswith(".claim"):
            raise FileNotFoundError(path)
        return real_read(path)

    a._fsio.read_text = absent_read
    a.produce("t", _records(spark, [("k3", "v3")]))
    a._fsio.read_text = real_read
    vals = sorted(bytes(r["value"]) for r in a.log("t").collect())
    # v2 appears too: its append had staged before the failed commit and
    # the next successful commit published it — the ack-lost
    # at-least-once shape every log has (idempotence dedups on retry);
    # the POINT is the error was raised, not silently swallowed
    assert vals == [b"v1", b"v2", b"v3"]


def _committed_group(spark, root):
    a = TopicEngine(spark, root)
    a.create_topic("t", TopicConfig(partitions=2))
    a.offset_commit_batch("g", {("t", 0): 1, ("t", 1): 1})
    return a


def test_read_only_engine_refuses_group_state_commits(spark, tmp_path):
    """Offsets and group metadata commit through the internal
    __consumer_offsets topic, so an observer refuses them like every
    other mutation."""
    root = str(tmp_path / "topics")
    _committed_group(spark, root)
    ro = TopicEngine(spark, root, read_only=True)
    with pytest.raises(ValueError, match="read_only"):
        ro.offset_commit_batch("g", {("t", 0): 5})
    with pytest.raises(ValueError, match="read_only"):
        ro.offset_commit("g", "t", 0, 5)
    with pytest.raises(ValueError, match="read_only"):
        ro.group_metadata_append({"group_id": "g", "state": "Stable"})
    got = {r["partition"]: r["committed_offset"] for r in ro.offset_fetch("g").collect()}
    assert got == {0: 1, 1: 1}
    assert ro.group_metadata_snapshots() == []


def test_stale_engine_group_state_commit_is_fenced(spark, tmp_path):
    """A second open claims the internal topic's writer epoch too: the
    first engine's offset and group-metadata commits are refused."""
    root = str(tmp_path / "topics")
    a = _committed_group(spark, root)
    b = TopicEngine(spark, root)
    with pytest.raises(FencedWriterError):
        a.offset_commit_batch("g", {("t", 0): 7})
    with pytest.raises(FencedWriterError):
        a.group_metadata_append({"group_id": "g", "state": "Stable"})
    b.offset_commit("g", "t", 1, 3)
    reader = TopicEngine(spark, root, read_only=True)
    got = {r["partition"]: r["committed_offset"] for r in reader.offset_fetch("g").collect()}
    assert got == {0: 1, 1: 3}
    assert reader.group_metadata_snapshots() == []


def test_stale_engine_is_fenced_when_the_newer_one_commits_first(spark, tmp_path):
    """The internal topic is claimed at open even before its first commit:
    once a newer engine has opened, the older one cannot create the topic
    under it, take it over and fence the newer engine out."""
    root = str(tmp_path / "topics")
    a = TopicEngine(spark, root)
    a.create_topic("t", TopicConfig(partitions=1))
    b = TopicEngine(spark, root)
    b.offset_commit("g", "t", 0, 1)
    with pytest.raises(FencedWriterError):
        a.offset_commit("g", "t", 0, 9)
    with pytest.raises(FencedWriterError):
        a.group_metadata_append({"group_id": "g", "state": "Stable"})
    b.offset_commit("g", "t", 0, 2)
    b.group_metadata_append({"group_id": "g", "state": "Empty"})
    got = {r["partition"]: r["committed_offset"] for r in b.offset_fetch("g").collect()}
    assert got == {0: 2}
    b.delete_topic("t")
    assert b.offset_fetch("g").collect() == []


def test_read_only_engine_refuses_tx_range_append(spark, tmp_path):
    from redpanda_spark.operators.txcoord import TX_RANGE_SCHEMA

    root = str(tmp_path / "topics")
    a = TopicEngine(spark, root)
    a.create_topic("t", TopicConfig(partitions=1))
    row = Row(topic="t", partition=0, producer_id=1, first_offset=0,
              last_offset=0, outcome="aborted")
    a.append_tx_ranges(spark.createDataFrame([row], TX_RANGE_SCHEMA))
    ro = TopicEngine(spark, root, read_only=True)
    before = sorted(ro.tx_ranges().collect())
    late = row.asDict() | {"first_offset": 5, "last_offset": 6}
    with pytest.raises(ValueError, match="read_only"):
        ro.append_tx_ranges(spark.createDataFrame([Row(**late)], TX_RANGE_SCHEMA))
    assert sorted(ro.tx_ranges().collect()) == before
