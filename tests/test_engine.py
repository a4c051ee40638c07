"""End-to-end TopicEngine lifecycle tests — the PySpark analog of the
reference's produce/consume e2e suite (`produce_consume_test.cc`,
`compaction_e2e_test.cc`, `log_retention_tests.cc`)."""

from __future__ import annotations

import os

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import Row
from pyspark.sql import functions as F

from conftest import spark_jobs
from redpanda_spark import engine as engine_mod
from redpanda_spark.engine import TopicConfig, TopicEngine
from redpanda_spark.functions.hashes import murmur2_partition


@pytest.fixture()
def engine(spark, tmp_path):
    return TopicEngine(spark, str(tmp_path / "topics"))


def records_df(spark, kvs, ts=None):
    rows = [
        Row(key=(k.encode() if k is not None else None),
            value=(v.encode() if v is not None else None))
        for k, v in kvs
    ]
    df = spark.createDataFrame(rows, "key binary, value binary")
    if ts is not None:
        df = df.withColumn("timestamp", F.to_timestamp(F.lit(ts)))
    return df


def test_produce_fetch_roundtrip_ordering(engine, spark):
    engine.create_topic("t1", TopicConfig(partitions=3))
    kvs = [(f"k{i}", f"v{i}") for i in range(30)]
    bases = engine.produce("t1", records_df(spark, kvs))
    assert all(b == 0 for b in bases.values())

    # offsets contiguous per partition, routing matches murmur2
    log = engine.log("t1")
    rows = log.collect()
    assert len(rows) == 30
    for r in rows:
        assert r["partition"] == murmur2_partition(bytes(r["key"]), 3)
    for p in range(3):
        offs = sorted(r["offset"] for r in rows if r["partition"] == p)
        assert offs == list(range(len(offs)))


def test_produce_second_batch_continues_offsets(engine, spark):
    engine.create_topic("t2", TopicConfig(partitions=2))
    engine.produce("t2", records_df(spark, [("a", "1"), ("b", "2"), ("c", "3")]))
    hwm1 = engine.high_watermarks("t2")
    bases2 = engine.produce("t2", records_df(spark, [("a", "4"), ("b", "5")]))
    # base offsets of batch 2 = high watermark after batch 1
    for p, b in bases2.items():
        assert b == hwm1.get(p, 0)
    log = engine.log("t2")
    for p in range(2):
        offs = sorted(r["offset"] for r in log.where(F.col("partition") == p).collect())
        assert offs == list(range(len(offs)))


def test_fetch_from_offset_and_max_records(engine, spark):
    engine.create_topic("t3", TopicConfig(partitions=1))
    engine.produce("t3", records_df(spark, [(None, f"v{i}") for i in range(10)]))
    out = engine.fetch("t3", partition=0, offset=4, max_records=3).collect()
    assert [r["offset"] for r in out] == [4, 5, 6]


def test_list_offsets_and_timequery(engine, spark):
    engine.create_topic("t4", TopicConfig(partitions=1))
    engine.produce("t4", records_df(spark, [("k", "old")], ts="2024-01-01 00:00:00"))
    engine.produce("t4", records_df(spark, [("k", "new")], ts="2024-06-01 00:00:00"))
    lo = engine.list_offsets("t4").collect()[0]
    assert lo["earliest_offset"] == 0 and lo["latest_offset"] == 2
    tq = engine.timequery("t4", "2024-03-01 00:00:00").collect()
    assert tq[0]["offset"] == 1


def test_delete_records_filters_reads(engine, spark):
    engine.create_topic("t5", TopicConfig(partitions=1))
    engine.produce("t5", records_df(spark, [(None, f"v{i}") for i in range(6)]))
    engine.delete_records("t5", {0: 3})
    offs = sorted(r["offset"] for r in engine.log("t5").collect())
    assert offs == [3, 4, 5]
    lo = engine.list_offsets("t5").collect()[0]
    assert lo["earliest_offset"] == 3


def test_delete_records_past_high_watermark_is_out_of_range(
    engine, capsys
):
    """KIP-107: an offset past the high watermark is refused with
    OFFSET_OUT_OF_RANGE (before, a truncate to 1000 of a 10-row partition
    hid every later produce), and -1 means the high watermark. The CLI
    prints the refusal as one line and exits 1."""
    import json

    from redpanda_spark.cli import main
    from redpanda_spark.engine import OffsetOutOfRangeError

    engine.create_topic("t", TopicConfig(partitions=2))
    engine.produce("t", [{"value": b"v%d" % i, "partition": 0} for i in range(10)])
    with pytest.raises(OffsetOutOfRangeError, match="OFFSET_OUT_OF_RANGE"):
        engine.delete_records("t", {1: 0, 0: 1000})  # refused whole
    assert engine._log_starts("t") == {}
    capsys.readouterr()
    argv = ["--root", engine.root, "topic", "truncate", "t", "-p", "0"]
    assert main([*argv, "--before-offset", "1000"]) == 1
    out = capsys.readouterr()
    assert out.out == "" and out.err.count("\n") == 1
    assert out.err.startswith("error: OFFSET_OUT_OF_RANGE")

    fresh = TopicEngine(engine.spark, engine.root)
    assert fresh._log_starts("t") == {}
    fresh.delete_records("t", {0: -1})
    assert fresh._log_starts("t") == {0: 10}
    fresh.produce("t", [{"value": b"after", "partition": 0}])
    assert [r["offset"] for r in fresh.fetch_rows("t", 0)] == [10]
    capsys.readouterr()
    assert main([*argv, "--before-offset=-1"]) == 0
    assert json.loads(capsys.readouterr().out)["new_start_offset"] == 11


def test_compaction_keeps_latest_and_tombstone_removal(engine, spark):
    engine.create_topic(
        "t6", TopicConfig(partitions=1, cleanup_policy="compact", delete_retention_ms=0)
    )
    engine.produce(
        "t6",
        records_df(spark, [("a", "1"), ("b", "1"), ("a", "2")], ts="2024-01-01 00:00:00"),
    )
    engine.produce("t6", records_df(spark, [("b", None)], ts="2024-01-02 00:00:00"))
    engine.run_compaction("t6")
    rows = {bytes(r["key"]).decode(): r for r in engine.log("t6").collect()}
    # a → latest value 2; b → tombstone past grace, physically removed
    assert set(rows) == {"a"}
    assert bytes(rows["a"]["value"]) == b"2"
    assert rows["a"]["offset"] == 2  # offset preserved through compaction


def test_retention_drops_old_records(engine, spark):
    thirty_days = 30 * 86400 * 1000
    engine.create_topic("t7", TopicConfig(partitions=1, retention_ms=thirty_days))
    engine.produce("t7", records_df(spark, [("k", "old")], ts="2024-01-01 00:00:00"))
    engine.produce("t7", records_df(spark, [("k", "new")], ts="2024-06-01 00:00:00"))
    import calendar
    now_ms = calendar.timegm((2024, 6, 2, 0, 0, 0)) * 1000
    engine.run_retention("t7", now_ms=now_ms)  # cutoff = 2024-05-03
    rows = engine.log("t7").collect()
    assert len(rows) == 1
    assert bytes(rows[0]["value"]) == b"new"


def test_offset_commit_fetch_lifecycle(engine, spark):
    engine.create_topic("t8", TopicConfig(partitions=1))
    engine.offset_commit("g1", "t8", 0, 5)
    engine.offset_commit("g1", "t8", 0, 9)
    out = engine.offset_fetch("g1").collect()
    assert len(out) == 1 and out[0]["committed_offset"] == 9
    engine.offset_delete("g1", "t8", 0)
    assert engine.offset_fetch("g1").count() == 0


def test_topic_catalog(engine, spark):
    engine.create_topic("a", TopicConfig(partitions=2))
    with pytest.raises(ValueError):
        engine.create_topic("a")
    assert "a" in engine.list_topics()
    engine.delete_topic("a")
    assert "a" not in engine.list_topics()
    with pytest.raises(KeyError):
        engine.log("a")


def test_topic_compression_codec(spark, tmp_path):
    import glob

    from redpanda_spark.engine import TopicConfig, TopicEngine
    from pyspark.sql import Row

    eng = TopicEngine(spark, str(tmp_path / "topics"))
    eng.create_topic("z", TopicConfig(partitions=1, compression="zstd"))
    eng.produce(
        "z",
        spark.createDataFrame(
            [Row(key=b"k", value=b"v", partition=0)],
            "key binary, value binary, partition int",
        ),
    )
    files = glob.glob(str(tmp_path / "topics" / "z" / "**" / "*.parquet"), recursive=True)
    assert files and all(".zstd." in f for f in files)
    assert eng.log("z").count() == 1


def test_log_stream_consumes_topic(spark, tmp_path):
    import uuid

    from pyspark.sql import Row

    from redpanda_spark.engine import TopicConfig, TopicEngine

    eng = TopicEngine(spark, str(tmp_path / "topics"))
    eng.create_topic("s", TopicConfig(partitions=2))
    eng.produce(
        "s",
        spark.createDataFrame(
            [Row(key=str(i).encode(), value=b"v%d" % i) for i in range(10)],
            "key binary, value binary",
        ),
    )
    name = "m" + uuid.uuid4().hex[:10]
    q = (
        eng.log_stream("s")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert spark.sql(f"select count(*) n from {name}").collect()[0]["n"] == 10


def test_fetch_poll_returns_on_data_or_timeout(spark, tmp_path):
    import time as _t

    from pyspark.sql import Row

    from redpanda_spark.engine import TopicConfig, TopicEngine

    eng = TopicEngine(spark, str(tmp_path / "topics"))
    eng.create_topic("p", TopicConfig(partitions=1))
    t0 = _t.monotonic()
    rows = eng.fetch_poll("p", 0, min_records=1, max_wait_s=0.6, poll_interval_s=0.2)
    assert rows == [] and _t.monotonic() - t0 >= 0.5  # waited out the poll
    eng.produce(
        "p",
        spark.createDataFrame(
            [Row(key=None, value=b"x", partition=0)],
            "key binary, value binary, partition int",
        ),
    )
    rows = eng.fetch_poll("p", 0, min_records=1, max_wait_s=5.0)
    assert len(rows) == 1

def test_size_retention_keeps_newest_within_budget(engine, spark):
    # Each row costs 16 + len(key) + len(value) bytes = 16+2+2 = 20.
    engine.create_topic("t9", TopicConfig(partitions=1, retention_bytes=65))
    engine.produce(
        "t9", records_df(spark, [(f"k{i}", f"v{i}") for i in range(6)])
    )
    engine.run_retention("t9")
    offs = sorted(r["offset"] for r in engine.log("t9").collect())
    assert offs == [3, 4, 5]  # newest 3 rows fit in 65 bytes (3*20=60)


def test_run_cleanup_compact_delete_combined(engine, spark):
    thirty_days = 30 * 86400 * 1000
    engine.create_topic(
        "t10",
        TopicConfig(
            partitions=1, cleanup_policy="compact,delete", retention_ms=thirty_days
        ),
    )
    # Old duplicate of key a, then fresh values for a and b.
    engine.produce("t10", records_df(spark, [("a", "old")], ts="2024-01-01 00:00:00"))
    engine.produce(
        "t10", records_df(spark, [("a", "new"), ("b", "keep")], ts="2024-06-01 00:00:00")
    )
    import calendar

    now_ms = calendar.timegm((2024, 6, 2, 0, 0, 0)) * 1000
    engine.run_cleanup("t10", now_ms=now_ms)
    rows = {bytes(r["key"]).decode(): bytes(r["value"]).decode()
            for r in engine.log("t10").collect()}
    assert rows == {"a": "new", "b": "keep"}


def test_engine_on_file_uri_root_via_hadoop_fs(spark, tmp_path):
    """A URI root exercises the Hadoop FileSystem path end to end: the
    manifest commit, segment listing, pruning stats and crash GC must all
    behave exactly as on a plain local path (the object-store story —
    cloud_storage parity, engine docstring)."""
    root = "file://" + str(tmp_path / "topics")
    eng = TopicEngine(spark, root)
    from redpanda_spark.fsio import HadoopFS

    assert isinstance(eng._fsio, HadoopFS)
    eng.create_topic("u", TopicConfig(partitions=3))
    bases = eng.produce("u", records_df(spark, [(f"k{i}", f"v{i}") for i in range(12)]))
    assert all(b == 0 for b in bases.values())
    assert eng.log("u").count() == 12
    assert sum(eng.high_watermarks("u").values()) == 12
    # manifest file-list mode (not the weaker watermark-only fallback)
    assert eng._files["u"], "URI root must still get a file-list manifest"
    # a second engine over the same URI root sees committed state
    eng2 = TopicEngine(spark, root)
    assert eng2.log("u").count() == 12
    eng2.produce("u", records_df(spark, [("k0", "post")]))
    offs = sorted(
        r["offset"] for r in eng2.log("u").where(F.col("partition") == 0).collect()
    )
    assert offs == list(range(len(offs)))  # contiguous across reopen
    # rewrite path (compaction machinery) also works through Hadoop FS
    eng2.optimize_segments("u", target_file_bytes=10**9)
    assert eng2.log("u").count() == 13


def test_optimize_segments_merges_files_preserving_log(engine, spark):
    """Adjacent-segment merging: fewer files, identical rows/offsets."""
    engine.create_topic("to", TopicConfig(partitions=2))
    for i in range(4):
        engine.produce(
            "to", records_df(spark, [(f"k{j}", f"v{i}-{j}") for j in range(8)])
        )
    cols = ["partition", "offset", "key", "value"]
    before_rows = sorted(tuple(r) for r in engine.log("to").select(*cols).collect())
    files_before = len(engine._segment_files("to"))
    assert files_before >= 4  # flat layout: >= one segment file per batch

    stats = engine.optimize_segments("to")
    assert stats["files_before"] == files_before
    assert stats["files_after"] < files_before

    after_rows = sorted(tuple(r) for r in engine.log("to").select(*cols).collect())
    assert after_rows == before_rows
    assert engine.high_watermarks("to") == {
        p: max(r[1] for r in after_rows if r[0] == p) + 1 for p in (0, 1)
    }
    # a merged topic still appends correctly
    engine.produce("to", records_df(spark, [("k0", "post")]))
    assert engine.log("to").count() == len(before_rows) + 1


def test_optimize_segments_drops_truncated_prefix(engine, spark):
    """DeleteRecords then optimize: the rewrite physically evicts the
    truncated prefix (reference: log_eviction_stm) and fetches still start
    at the log start offset."""
    engine.create_topic("tp", TopicConfig(partitions=1))
    for i in range(3):
        engine.produce("tp", records_df(spark, [(None, f"v{i}-{j}") for j in range(6)]))
    engine.delete_records("tp", {0: 10})
    assert engine.log("tp").count() == 8  # offsets 10..17 visible

    engine.optimize_segments("tp")
    # physically gone, not just filtered: raw dir read has no offset < 10
    raw = spark.read.parquet(engine._topic_dir("tp"))
    assert raw.agg({"offset": "min"}).collect()[0][0] == 10
    assert engine.log("tp").count() == 8
    # appends continue from the pre-truncation watermark
    engine.produce("tp", records_df(spark, [(None, "post")]))
    offs = sorted(r["offset"] for r in engine.log("tp").collect())
    assert offs == list(range(10, 19))


def test_compaction_passes_null_key_rows_through(engine, spark):
    """Unkeyed records must not collapse into one group during compaction
    (SQL groupBy treats NULL keys as equal; the reference rejects null-key
    produces to compacted topics rather than silently discarding data)."""
    engine.create_topic("nk", TopicConfig(partitions=1, cleanup_policy="compact"))
    engine.produce(
        "nk",
        records_df(
            spark,
            [(None, "u1"), ("a", "1"), (None, "u2"), ("a", "2"), (None, "u3")],
            ts="2024-01-01 00:00:00",
        ),
    )
    engine.run_compaction("nk")
    rows = engine.log("nk").collect()
    keyed = [r for r in rows if r["key"] is not None]
    unkeyed = sorted(bytes(r["value"]).decode() for r in rows if r["key"] is None)
    assert len(keyed) == 1 and bytes(keyed[0]["value"]) == b"2"
    assert unkeyed == ["u1", "u2", "u3"]  # all null-key rows survive


def test_produce_crash_before_manifest_commit_preserves_contiguity(spark, tmp_path):
    """Kill the engine between the parquet append and the manifest commit:
    the batch must be invisible after reopen (orphans GC'd), watermarks
    unchanged, and a retried produce gets contiguous offsets — the raft
    append-atomicity analog (storage/disk_log_appender.cc)."""
    root = str(tmp_path / "topics")
    eng = TopicEngine(spark, root)
    eng.create_topic("cr", TopicConfig(partitions=2))
    eng.produce("cr", records_df(spark, [("a", "1"), ("b", "2"), ("c", "3")]))
    hwm = eng.high_watermarks("cr")

    def power_cut(topic):
        raise RuntimeError("power cut")

    eng._commit_manifest = power_cut
    with pytest.raises(RuntimeError):
        eng.produce("cr", records_df(spark, [("d", "4"), ("e", "5")]))

    eng2 = TopicEngine(spark, root)
    assert eng2.high_watermarks("cr") == hwm
    assert eng2.log("cr").count() == 3
    eng2.produce("cr", records_df(spark, [("d", "4"), ("e", "5")]))
    log = eng2.log("cr")
    assert log.count() == 5
    for p, hi in eng2.high_watermarks("cr").items():
        offs = sorted(
            r["offset"] for r in log.where(F.col("partition") == p).collect()
        )
        assert offs == list(range(hi))  # contiguous, no gaps, no dups


def test_manifest_records_per_file_stats(engine, spark):
    """Every committed flat segment carries [min_p, max_p, min_o, max_o,
    rows] in the manifest — the pruning index the fetch path uses."""
    engine.create_topic("ms", TopicConfig(partitions=4))
    engine.produce("ms", records_df(spark, [(f"k{i}", f"v{i}") for i in range(20)]))
    files = engine._files["ms"]
    stats = engine._stats["ms"]
    assert files and all(f in stats for f in files)
    total_rows = sum(stats[f][4] for f in files)
    assert total_rows == 20
    for f in files:
        min_p, max_p, min_o, max_o, rows = stats[f][:5]
        assert 0 <= min_p <= max_p <= 3
        assert 0 <= min_o <= max_o


def _manifest_state(eng, t) -> dict:
    """The state a topic's manifest holds, as one dict."""
    files, stats = eng._files[t], eng._stats.get(t, {})
    arch, astats = eng._archived.get(t, []), eng._archived_stats.get(t, {})
    return {
        "high": eng._high.get(t, {}),
        "files": files,
        "stats": {p: stats[p] for p in files if p in stats},
        "producers": eng._producers.get(t, {}),
        "clean_rows": eng._clean_rows.get(t, 0),
        "archived": arch,
        "archived_stats": {p: astats[p] for p in arch if p in astats},
        "arch_epoch": eng._arch_epoch.get(t, 0),
        "writer_epoch": eng._writer_epoch.get(t, 0),
    }


def test_manifest_text_is_json_dumps_of_state(spark, tmp_path, monkeypatch):
    """After every kind of commit the manifest file is byte for byte
    ``json.dumps`` of the topic's state dict, and a reopened engine reads
    that state back: in-process and distributed produce (with producer
    state), compaction, segment merge, archival, and a stats entry
    replaced under a segment's existing name."""
    import datetime as dt
    import json

    root = str(tmp_path / "m")
    eng = TopicEngine(spark, root)

    def check(t):
        want = _manifest_state(eng, t)
        with open(eng._manifest_path(t)) as f:
            assert f.read() == json.dumps(want)
        again = TopicEngine(spark, root, read_only=True)
        got = _manifest_state(again, t)
        assert {**got, "writer_epoch": 0} == {**want, "writer_epoch": 0}

    eng.create_topic("c", TopicConfig(partitions=2, cleanup_policy="compact"))
    check("c")
    eng.produce("c", [{"key": b"k%d" % (i % 3), "value": b"v%d" % i} for i in range(6)])
    eng.produce("c", [{"partition": 1, "key": b"k0", "value": b"p", "producer_id": 7,
                       "producer_epoch": 0, "base_sequence": 0}])
    check("c")
    monkeypatch.setattr(engine_mod, "_LOCAL_PRODUCE_MAX_BYTES", 0)
    eng.produce("c", records_df(spark, [("k1", "d0"), ("k4", "d1"), (None, "d2")]))
    assert _segment_kinds(eng._files["c"]) == {"local", "part"}
    check("c")
    monkeypatch.undo()
    eng.run_compaction("c")
    check("c")
    for i in range(3):
        eng.produce("c", [{"key": b"n%d" % i, "value": b"x"}])
    eng.optimize_segments("c", target_file_bytes=1 << 30)
    assert len(eng._files["c"]) == 1
    check("c")
    rel = eng._files["c"][0]
    eng._stats["c"][rel] = eng._stats["c"][rel][:5]  # same name, new entry
    eng._commit_manifest("c")
    check("c")

    eng.create_topic("a", TopicConfig(partitions=2, remote_write=True,
                                      local_retention_ms=60_000))
    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    eng.produce("a", [{"key": b"o", "value": b"old", "timestamp": base}])
    eng.produce("a", [{"key": b"n", "value": b"new"}])
    now_ms = int((base + dt.timedelta(hours=2)).timestamp() * 1000)
    assert eng.run_archival("a", now_ms=now_ms)["archived"] == 1
    check("a")
    eng.produce("a", [{"key": b"m", "value": b"more"}])
    check("a")


def test_fetch_prunes_segments_by_offset_stats(engine, spark):
    """A fetch of the tail offsets must scan only the tail segment files
    (manifest-level pruning), and still return exactly the right rows."""
    engine.create_topic("pr", TopicConfig(partitions=1))
    for b in range(4):
        engine.produce(
            "pr", records_df(spark, [(None, f"b{b}-{j}") for j in range(10)])
        )
    n_files = len(engine._files["pr"])
    assert n_files >= 4
    pruned = engine._pruned_files("pr", partition=0, min_offset=35)
    assert len(pruned) < n_files  # older segments pruned without a scan
    out = engine.fetch("pr", partition=0, offset=35).collect()
    assert sorted(r["offset"] for r in out) == list(range(35, 40))


def test_buffered_producer_lingers_and_orders(engine, spark):
    """BufferedProducer: send() runs no job; linger triggers a single
    group append; offsets are contiguous and respect send order per
    partition; the context manager flushes the tail."""
    from redpanda_spark.producer import BufferedProducer

    engine.create_topic("bp", TopicConfig(partitions=2))
    prod = BufferedProducer(engine, "bp", linger_batches=3)
    prod.send(records_df(spark, [("a", "batch0"), ("b", "batch0")]))
    prod.send(records_df(spark, [("a", "batch1")]))
    assert engine.high_watermarks("bp") == {0: 0, 1: 0}  # nothing flushed yet
    prod.send(records_df(spark, [("a", "batch2"), ("b", "batch2")]))  # linger hit
    assert sum(engine.high_watermarks("bp").values()) == 5
    rows = engine.log("bp").collect()
    by_key = {}
    for r in sorted(rows, key=lambda r: (r["partition"], r["offset"])):
        by_key.setdefault(bytes(r["key"]).decode(), []).append(bytes(r["value"]).decode())
    assert by_key["a"] == ["batch0", "batch1", "batch2"]  # send order kept
    assert by_key["b"] == ["batch0", "batch2"]
    for p in (0, 1):
        offs = sorted(r["offset"] for r in rows if r["partition"] == p)
        assert offs == list(range(len(offs)))
    with BufferedProducer(engine, "bp", linger_batches=10) as tail:
        tail.send(records_df(spark, [("c", "tail")]))
    assert sum(engine.high_watermarks("bp").values()) == 6  # exit flushed


def test_rewrite_crash_before_manifest_commit_keeps_old_snapshot(spark, tmp_path):
    """A compaction rewrite that dies before its manifest commit must leave
    the previous snapshot fully intact (atomic segment replace)."""
    root = str(tmp_path / "topics")
    eng = TopicEngine(spark, root)
    eng.create_topic("rc", TopicConfig(partitions=1, cleanup_policy="compact"))
    eng.produce(
        "rc",
        records_df(spark, [("a", "1"), ("a", "2"), ("b", "1")], ts="2024-01-01 00:00:00"),
    )

    def power_cut(topic):
        raise RuntimeError("power cut")

    eng._commit_manifest = power_cut
    with pytest.raises(RuntimeError):
        eng.run_compaction("rc")

    eng2 = TopicEngine(spark, root)
    offs = sorted(r["offset"] for r in eng2.log("rc").collect())
    assert offs == [0, 1, 2]  # old snapshot intact
    eng2.run_compaction("rc")
    rows = {
        bytes(r["key"]).decode(): bytes(r["value"]).decode()
        for r in eng2.log("rc").collect()
    }
    assert rows == {"a": "2", "b": "1"}


def test_compaction_over_missing_segment_raises_and_keeps_the_rest(spark, tmp_path):
    """A manifest-listed segment that is gone from disk is a read error,
    never an empty log: compaction must raise instead of committing the
    survivors away, and reads must fail rather than return 0 rows."""
    root = str(tmp_path / "topics")
    eng = TopicEngine(spark, root)
    eng.create_topic("ms", TopicConfig(partitions=1, cleanup_policy="compact"))
    for i in range(4):
        eng.produce("ms", [{"key": f"k{i}".encode(), "value": b"v"}])
    files = list(eng._files["ms"])
    assert len(files) == 4
    os.remove(os.path.join(root, files[1]))

    with pytest.raises(AnalysisException):
        eng.run_compaction("ms")
    assert eng._files["ms"] == files
    assert eng.high_watermarks("ms") == {0: 4}
    for f in files[:1] + files[2:]:
        assert os.path.exists(os.path.join(root, f))
    with pytest.raises(AnalysisException):
        eng.log("ms").count()
    # the in-process row fetch (no hot tail on a fresh engine) raises too
    with pytest.raises(FileNotFoundError):
        TopicEngine(spark, root, read_only=True).fetch_rows("ms", 0)


@pytest.mark.parametrize("n_records", [3, 0])
def test_reopen_without_manifest_opens_empty_topic(spark, tmp_path, n_records):
    """A cataloged topic whose manifest is missing (the crash window
    between the catalog write and the first manifest commit, or a lost
    manifest) reopens as the empty topic create_topic commits: watermark
    0, stray segments GC'd, and the next produce starts at offset 0
    without duplicating it."""
    root = str(tmp_path / "topics")
    eng = TopicEngine(spark, root)
    eng.create_topic("nm", TopicConfig(partitions=1))
    if n_records:
        eng.produce("nm", [{"value": f"v{i}".encode()} for i in range(n_records)])
    os.remove(os.path.join(root, "_manifest_nm.json"))

    eng2 = TopicEngine(spark, root)
    assert eng2.high_watermarks("nm") == {0: 0}
    assert eng2._files["nm"] == []
    assert not [f for f in os.listdir(eng2._topic_dir("nm")) if f.endswith(".parquet")]
    assert eng2.produce("nm", [{"value": b"new"}]) == {0: 0}
    rows = eng2.log("nm").collect()
    assert [(r["offset"], bytes(r["value"])) for r in rows] == [(0, b"new")]


def _idem_batch(spark, pid, epoch, seqs, partition=0, tag="v"):
    from pyspark.sql import Row

    rows = [
        Row(
            partition=partition,
            key=f"k{s}".encode(),
            value=f"{tag}{s}".encode(),
            producer_id=pid,
            producer_epoch=epoch,
            base_sequence=s,
        )
        for s in seqs
    ]
    return spark.createDataFrame(
        rows,
        "partition int, key binary, value binary, producer_id long,"
        " producer_epoch smallint, base_sequence int",
    )


def test_produce_idempotence_drops_duplicate_batch(spark, tmp_path):
    """rm_stm parity: a retried batch whose sequences were already
    committed appends NOTHING (duplicate-ack path), a partial overlap
    appends only the new suffix."""
    from redpanda_spark.engine import TopicConfig, TopicEngine

    engine = TopicEngine(spark, str(tmp_path))
    engine.create_topic("t", TopicConfig(partitions=1))
    engine.produce("t", _idem_batch(spark, 7, 0, [0, 1, 2]))
    assert engine.high_watermarks("t")[0] == 3
    # full retry: silently dropped
    engine.produce("t", _idem_batch(spark, 7, 0, [0, 1, 2], tag="dup"))
    assert engine.high_watermarks("t")[0] == 3
    assert engine.log("t").count() == 3
    # partial overlap: only seq 3,4 append
    engine.produce("t", _idem_batch(spark, 7, 0, [2, 3, 4]))
    assert engine.high_watermarks("t")[0] == 5
    vals = sorted(bytes(r["value"]).decode() for r in engine.log("t").collect())
    assert vals == ["v0", "v1", "v2", "v3", "v4"]  # no dup payloads


def test_produce_idempotence_rejects_gap_and_stale_epoch(spark, tmp_path):
    from redpanda_spark.engine import ProduceError, TopicConfig, TopicEngine

    engine = TopicEngine(spark, str(tmp_path))
    engine.create_topic("t", TopicConfig(partitions=1))
    engine.produce("t", _idem_batch(spark, 7, 1, [0, 1]))
    with pytest.raises(ProduceError, match="OUT_OF_ORDER"):
        engine.produce("t", _idem_batch(spark, 7, 1, [5, 6]))
    with pytest.raises(ProduceError, match="INVALID_PRODUCER_EPOCH"):
        engine.produce("t", _idem_batch(spark, 7, 0, [2]))
    # higher epoch resets the window (new producer incarnation)
    engine.produce("t", _idem_batch(spark, 7, 2, [0, 1]))
    assert engine.high_watermarks("t")[0] == 4


def test_produce_idempotence_state_survives_reopen(spark, tmp_path):
    from redpanda_spark.engine import TopicConfig, TopicEngine

    e1 = TopicEngine(spark, str(tmp_path))
    e1.create_topic("t", TopicConfig(partitions=1))
    e1.produce("t", _idem_batch(spark, 9, 0, [0, 1]))
    # fresh engine over the same root: the window came from the manifest
    e2 = TopicEngine(spark, str(tmp_path))
    e2.produce("t", _idem_batch(spark, 9, 0, [0, 1], tag="dup"))
    assert e2.high_watermarks("t")[0] == 2
    assert e2.log("t").count() == 2


def test_plain_produce_unaffected_by_gate(spark, tmp_path):
    """Batches without producer columns skip the gate entirely (and two
    identical plain batches both land — at-most-once is opt-in)."""
    from pyspark.sql import Row

    from redpanda_spark.engine import TopicConfig, TopicEngine

    engine = TopicEngine(spark, str(tmp_path))
    engine.create_topic("t", TopicConfig(partitions=1))
    b = spark.createDataFrame(
        [Row(key=b"k", value=b"v")], "key binary, value binary"
    )
    engine.produce("t", b)
    engine.produce("t", b)
    assert engine.log("t").count() == 2


def test_max_message_bytes_enforced(spark, tmp_path):
    """max.message.bytes: oversized records are rejected with
    MESSAGE_TOO_LARGE before anything lands; within-limit batches and
    unlimited topics are unaffected (zero extra produce-path actions
    when unset)."""
    import pytest

    from redpanda_spark.engine import ProduceError, TopicConfig, TopicEngine

    eng = TopicEngine(spark, str(tmp_path / "root"))
    eng.create_topic("cap", TopicConfig(partitions=1, max_message_bytes=16))
    ok = spark.createDataFrame(
        [(b"k", b"small", 0)], "key binary, value binary, partition int"
    )
    eng.produce("cap", ok)
    big = spark.createDataFrame(
        [(b"k", b"x" * 64, 0)], "key binary, value binary, partition int"
    )
    with pytest.raises(ProduceError) as ei:
        eng.produce("cap", big)
    assert ei.value.code == "MESSAGE_TOO_LARGE"
    # nothing from the rejected batch landed
    assert eng.log("cap").count() == 1
    # null key/value don't crash the size check
    nulls = spark.createDataFrame(
        [(None, None, 0)], "key binary, value binary, partition int"
    )
    eng.produce("cap", nulls)
    assert eng.log("cap").count() == 2


def test_dirty_ratio_gates_compaction(spark, tmp_path):
    """min.cleanable.dirty.ratio: a freshly compacted log skips the next
    cleanup's compaction pass; new appends push the ratio back over the
    threshold and compaction runs again."""
    from pyspark.sql import Row

    from redpanda_spark.engine import TopicConfig, TopicEngine

    eng = TopicEngine(spark, str(tmp_path / "root"))
    eng.create_topic(
        "c",
        TopicConfig(
            partitions=1, cleanup_policy="compact", min_cleanable_dirty_ratio=0.5
        ),
    )

    def put(vals):
        eng.produce(
            "c",
            spark.createDataFrame(
                [Row(partition=0, key=k.encode(), value=v.encode()) for k, v in vals],
                "partition int, key binary, value binary",
            ),
        )

    put([("a", "1"), ("a", "2"), ("b", "1")])
    assert eng.dirty_ratio("c") == 1.0  # never compacted
    eng.run_cleanup("c")
    assert eng.log("c").count() == 2  # keep-latest ran
    assert eng.dirty_ratio("c") == 0.0

    put([("a", "3")])  # 1 new row / 3 live = 0.33 < 0.5
    assert 0.0 < eng.dirty_ratio("c") < 0.5
    files_before = list(eng._files["c"])
    eng.run_cleanup("c")
    assert eng._files["c"] == files_before  # compaction skipped

    put([("a", "4"), ("b", "2"), ("b", "3")])  # 4 dirty / 6 live >= 0.5
    assert eng.dirty_ratio("c") >= 0.5
    eng.run_cleanup("c")
    assert eng.log("c").count() == 2
    vals = {
        bytes(r["key"]).decode(): bytes(r["value"]).decode()
        for r in eng.log("c").collect()
    }
    assert vals == {"a": "4", "b": "3"}
    # baseline survives restart (persisted in the manifest)
    eng2 = TopicEngine(spark, str(tmp_path / "root"))
    assert eng2.dirty_ratio("c") == 0.0


def test_time_retention_segment_fast_path(spark, tmp_path):
    """Time-only retention classifies segments from manifest timestamp
    stats: fully-expired files are dropped without a job, untouched files
    are not rewritten (same physical names), boundary files get a
    row-level filter — results identical to the full row filter."""
    import datetime as dt

    from pyspark.sql import Row

    from redpanda_spark.engine import TopicConfig, TopicEngine

    eng = TopicEngine(spark, str(tmp_path / "root"))
    eng.create_topic("t", TopicConfig(partitions=1, retention_ms=3_600_000))
    now = dt.datetime(2024, 6, 1, 12, 0, 0)

    def put(ts_list, tag):
        rows = [
            Row(partition=0, key=None, value=f"{tag}{i}".encode(), timestamp=t)
            for i, t in enumerate(ts_list)
        ]
        eng.produce(
            "t",
            spark.createDataFrame(
                rows, "partition int, key binary, value binary, timestamp timestamp"
            ),
        )

    put([now - dt.timedelta(hours=5), now - dt.timedelta(hours=4)], "old")  # expired file
    put([now - dt.timedelta(hours=2), now - dt.timedelta(minutes=30)], "mix")  # boundary
    put([now - dt.timedelta(minutes=10), now - dt.timedelta(minutes=5)], "new")  # live

    files_before = list(eng._files["t"])
    assert len(files_before) == 3
    now_ms = int(now.replace(tzinfo=dt.timezone.utc).timestamp() * 1000)
    eng.run_retention("t", now_ms=now_ms)

    vals = sorted(bytes(r["value"]).decode() for r in eng.log("t").collect())
    assert vals == ["mix1", "new0", "new1"]
    files_after = eng._files["t"]
    # the live file survived by NAME (not rewritten); expired+boundary gone
    assert files_before[2] in files_after
    assert files_before[0] not in files_after and files_before[1] not in files_after
    # second tick with nothing newly expired: zero changes
    snap = list(files_after)
    eng.run_retention("t", now_ms=now_ms)
    assert eng._files["t"] == snap
    # offsets/fetch still consistent after the manifest surgery
    assert eng.fetch("t", 0, offset=0).count() == 3


def test_expire_producers_evicts_idle_windows(spark, tmp_path):
    import time as _t

    from pyspark.sql import Row

    from redpanda_spark.engine import ProduceError, TopicConfig, TopicEngine

    eng = TopicEngine(spark, str(tmp_path / "root"))
    eng.create_topic("t", TopicConfig(partitions=1))

    def idem(seq, pid=7):
        return spark.createDataFrame(
            [Row(partition=0, key=None, value=b"v", producer_id=pid,
                 producer_epoch=0, base_sequence=seq)],
            "partition int, key binary, value binary, producer_id long,"
            " producer_epoch smallint, base_sequence int",
        )

    eng.produce("t", idem(0))
    eng.produce("t", idem(1))
    assert len(eng._producers["t"]) == 1
    now = int(_t.time() * 1000)
    # fresh window is not evicted
    assert eng.expire_producers("t", max_idle_ms=3_600_000, now_ms=now) == 0
    # a day later it is; state survives via manifest until then
    assert eng.expire_producers("t", max_idle_ms=3_600_000,
                                now_ms=now + 4_000_000) == 1
    assert eng._producers["t"] == {}
    # resumed producer starts a fresh window: stale-looking seq 0 accepted
    eng.produce("t", idem(0))
    assert eng.log("t").count() == 3
    # and the fresh window enforces ordering again
    import pytest as _pytest

    with _pytest.raises(ProduceError):
        eng.produce("t", idem(5))


def test_dirty_ratio_survives_retention_shrink(spark, tmp_path):
    """Regression: retention removing (clean) rows must shrink the clean
    baseline too, or fresh dirty appends hide behind the stale baseline
    and compaction starves (review finding)."""
    import datetime as dt

    from pyspark.sql import Row

    from redpanda_spark.engine import TopicConfig, TopicEngine

    eng = TopicEngine(spark, str(tmp_path / "root"))
    eng.create_topic(
        "c",
        TopicConfig(partitions=1, cleanup_policy="compact,delete",
                    retention_ms=3_600_000, min_cleanable_dirty_ratio=0.5),
    )
    now = dt.datetime(2024, 6, 1, 12, 0, 0)
    now_ms = int(now.replace(tzinfo=dt.timezone.utc).timestamp() * 1000)

    def put(vals, hours_ago):
        rows = [
            Row(partition=0, key=k.encode(), value=v.encode(),
                timestamp=now - dt.timedelta(hours=hours_ago))
            for k, v in vals
        ]
        eng.produce("c", spark.createDataFrame(
            rows, "partition int, key binary, value binary, timestamp timestamp"))

    put([("a", "1"), ("b", "1"), ("c", "1"), ("d", "1")], hours_ago=2)  # will expire
    put([("e", "1"), ("f", "1")], hours_ago=0.5)
    eng.run_compaction("c", now_ms=now_ms)  # baseline = 6 clean rows
    assert eng.dirty_ratio("c") == 0.0
    eng.run_retention("c", now_ms=now_ms)  # 4 old rows drop -> 2 live
    put([("e", "2"), ("f", "2")], hours_ago=0.1)  # 2 dirty / 4 live
    # stale-baseline bug would report 0.0 here and starve compaction
    assert abs(eng.dirty_ratio("c") - 0.5) < 1e-9
    eng.run_cleanup("c", now_ms=now_ms)
    vals = {bytes(r["key"]).decode(): bytes(r["value"]).decode()
            for r in eng.log("c").collect()}
    assert vals == {"e": "2", "f": "2"}


# -- record-list produce (driver-side fast path) + hot-tail fetch ----------


def test_record_produce_zero_spark_jobs(spark, tmp_path):
    """The produce->fetch_poll hot path must not launch ANY Spark job
    (the whole point: broker-grade interactive latency)."""
    eng = TopicEngine(spark, str(tmp_path / "t"))
    eng.create_topic("hot", TopicConfig(partitions=2))
    sc = spark.sparkContext
    sc.setJobGroup("hotpath", "hot path must be job-free")
    try:
        for i in range(5):
            bases = eng.produce(
                "hot", [{"partition": i % 2, "key": b"k", "value": b"v%d" % i}]
            )
            assert bases == {i % 2: i // 2}
            rows = eng.fetch_poll("hot", i % 2, offset=i // 2)
            assert len(rows) == 1 and bytes(rows[0]["value"]) == b"v%d" % i
    finally:
        sc.setJobGroup("", "")
    assert list(sc.statusTracker().getJobIdsForGroup("hotpath")) == []


def test_record_produce_matches_dataframe_produce(spark, tmp_path, monkeypatch):
    """Identical batch via the record-list path and the DataFrame path
    yields identical log contents (routing, offsets, defaults)."""
    # a zero byte bound sends the DataFrame through the distributed path
    monkeypatch.setattr(engine_mod, "_LOCAL_PRODUCE_MAX_BYTES", 0)
    # keyed records only: murmur2 routing is deterministic on both paths;
    # null-key round-robin placement is client-incidental (Kafka's sticky
    # partitioner likewise) so it is not part of the parity contract
    recs = [
        {"key": b"alpha", "value": b"1"},
        {"key": b"charlie", "value": b"2"},
        {"key": b"bravo", "value": None},  # tombstone
    ]
    eng_a = TopicEngine(spark, str(tmp_path / "a"))
    eng_a.create_topic("t", TopicConfig(partitions=4))
    eng_a.produce("t", recs)
    eng_b = TopicEngine(spark, str(tmp_path / "b"))
    eng_b.create_topic("t", TopicConfig(partitions=4))
    eng_b.produce(
        "t",
        spark.createDataFrame(
            [Row(key=r["key"], value=r["value"]) for r in recs],
            "key binary, value binary",
        ),
    )
    cols = ["partition", "offset", "key", "value", "producer_id",
            "producer_epoch", "base_sequence", "is_transactional", "is_control"]
    a = sorted(map(tuple, eng_a.log("t").select(cols).collect()))
    b = sorted(map(tuple, eng_b.log("t").select(cols).collect()))
    assert a == b


_LOG_COLS = ["partition", "offset", "key", "value", "headers", "producer_id",
             "producer_epoch", "base_sequence", "is_transactional", "is_control"]


def _bulk(spark, table):
    """A DataFrame over a materialized cached frame of ``table``: not a
    local relation, and sized exactly, so produce collects it with
    toArrow() when it is under the byte bound."""
    df = spark.createDataFrame(table).persist()
    df.count()
    return df.coalesce(1)


def _segment_kinds(files) -> set[str]:
    """``local`` for segments the in-process path wrote, ``part`` for the
    distributed path's."""
    return {os.path.basename(f).split("-")[0] for f in files}


def test_dataframe_produce_paths_agree(spark, tmp_path, monkeypatch):
    """A DataFrame batch under the byte bound, appended in-process, stores
    what the distributed path (bound forced to 0) stores: string-key and
    explicit-partition routing, headers and CreateTime timestamps,
    producer columns with a retried sequence, and the same ProduceErrors
    for max.message.bytes and schema ids. Null keys only need a partition
    in range."""
    import datetime as dt

    import pyarrow as pa

    from redpanda_spark.engine import ProduceError
    from redpanda_spark.registry.store import SchemaRegistry

    hdr = pa.list_(pa.struct([("key", pa.string()), ("value", pa.binary())]))
    ts = [dt.datetime(2024, 1, 1, h, tzinfo=dt.timezone.utc) for h in range(4)]
    stamped = pa.table({
        "key": pa.array(["alpha", "bravo", "charlie", "delta"]),  # strings
        "value": pa.array([b"a", None, b"c", b"d"]),
        "headers": pa.array(
            [[{"key": "h", "value": b"x"}], None, [], [{"key": "i", "value": None}]],
            hdr,
        ),
        "timestamp": pa.array(ts, pa.timestamp("us", tz="UTC")),
    })
    explicit = pa.table({  # a null partition is key-routed
        "key": pa.array([b"k1", b"k2", b"k3"]),
        "value": pa.array([b"e1", b"e2", b"e3"]),
        "partition": pa.array([3, None, 0], pa.int32()),
    })

    def seqs(first, n):
        return pa.table({
            "key": pa.array([b"p"] * n),
            "value": pa.array([b"s%d" % (first + i) for i in range(n)]),
            "producer_id": pa.array([7] * n, pa.int64()),
            "producer_epoch": pa.array([0] * n, pa.int16()),
            "base_sequence": pa.array(range(first, first + n), pa.int32()),
        })

    # 0-2 appended, 1-2 again is a retry (dropped), 2-4 keeps 3-4
    batches = [stamped, explicit, seqs(0, 3), seqs(1, 2), seqs(2, 3)]
    nulls = pa.table({"key": pa.nulls(6, pa.binary()),
                      "value": pa.array([b"n%d" % i for i in range(6)])})
    too_big = pa.table({"key": pa.array([b"k", b"k"]),
                        "value": pa.array([b"x" * 5, b"x" * 40])})
    reg = SchemaRegistry()
    sid = reg.register("s-value", '{"type": "record", "name": "r", "fields": []}')
    ids = pa.table({"key": pa.nulls(3, pa.binary()), "value": pa.array(
        [SchemaRegistry.wire_encode(sid, b"ok"), b"raw", b"\x00\x00"])})

    runs = []
    for bound in (engine_mod._LOCAL_PRODUCE_MAX_BYTES, 0):
        monkeypatch.setattr(engine_mod, "_LOCAL_PRODUCE_MAX_BYTES", bound)
        eng = TopicEngine(spark, str(tmp_path / f"b{bound}"), registry=reg)
        eng.create_topic("t", TopicConfig(partitions=4))
        eng.create_topic("n", TopicConfig(partitions=4))
        eng.create_topic("cap", TopicConfig(partitions=1, max_message_bytes=16))
        eng.create_topic("sid", TopicConfig(partitions=1, value_schema_subject="s-value"))
        bases = [eng.produce("t", _bulk(spark, b)) for b in batches]
        bases.append(eng.produce("n", _bulk(spark, nulls)))
        errors = []
        for topic, b in (("cap", too_big), ("sid", ids)):
            with pytest.raises(ProduceError) as ei:
                eng.produce(topic, _bulk(spark, b))
            errors.append(str(ei.value))
        rows = sorted(eng.log("t").collect(), key=lambda r: (r["partition"], r["offset"]))
        stamps = {bytes(r["key"]): r["timestamp"] for r in rows
                  if bytes(r["key"]) in (b"alpha", b"bravo", b"charlie", b"delta")}
        null_rows = eng.log("n").collect()
        runs.append((
            bases, errors, [tuple(r[c] for c in _LOG_COLS) for r in rows], stamps,
            sorted(bytes(r["value"]) for r in null_rows),
            _segment_kinds(eng._files["t"] + eng._files["n"]),
        ))
        assert all(0 <= r["partition"] < 4 for r in null_rows)
        assert eng.high_watermarks("t") == {
            p: sum(r["partition"] == p for r in rows) for p in eng.high_watermarks("t")
        }
        assert all(eng.log(t).count() == 0 for t in ("cap", "sid"))
    (*local, kinds_local), (*dist, kinds_dist) = runs
    assert local == dist
    assert kinds_local == {"local"} and kinds_dist == {"part"}
    assert [bytes(r[3]) for r in local[2] if r[5] == 7] == [b"s0", b"s1", b"s2", b"s3", b"s4"]
    assert local[1][0] == (
        "MESSAGE_TOO_LARGE: record of 41 bytes exceeds max.message.bytes=16"
    )
    assert local[1][1].startswith("INVALID_RECORD: 2 record(s) failed")


def test_produce_path_selection(spark, tmp_path, monkeypatch):
    """A LocalRelation batch appends with zero Spark jobs. A batch at the
    byte bound appends in-process; one byte over it, on a URI root, or
    with a size the planner only estimates, the distributed path writes,
    however small the estimate."""
    import pyarrow as pa

    from pyspark.sql import functions as F

    table = pa.table({"key": pa.array([b"a", b"b"]), "value": pa.array([b"1", b"2"])})
    eng = TopicEngine(spark, str(tmp_path / "a"))
    eng.create_topic("t", TopicConfig(partitions=2))
    kinds = []

    def produce(e, batch):
        before = list(e._files["t"])
        e.produce("t", batch)
        kinds.append(_segment_kinds(set(e._files["t"]) - set(before)))

    _no_jobs(spark, "local-relation-produce",
             lambda: produce(eng, spark.createDataFrame(table)))
    bulk = _bulk(spark, table)
    size = max(table.nbytes, engine_mod._cached_plan_bytes(
        bulk._jdf.queryExecution().optimizedPlan()))
    monkeypatch.setattr(engine_mod, "_LOCAL_PRODUCE_MAX_BYTES", size)
    produce(eng, bulk)
    produce(eng, table.to_pylist())
    monkeypatch.setattr(engine_mod, "_LOCAL_PRODUCE_MAX_BYTES", size - 1)
    produce(eng, bulk)
    produce(eng, table.to_pylist())
    produce(eng, spark.createDataFrame(table))
    monkeypatch.setattr(engine_mod, "_LOCAL_PRODUCE_MAX_BYTES", size)
    uri = TopicEngine(spark, "file://" + str(tmp_path / "u"))
    uri.create_topic("t", TopicConfig(partitions=2))
    produce(uri, bulk)
    # 2 x 100 kB of values whose plans the optimizer sizes at a few
    # hundred bytes, a computed column over a cached frame and a range,
    # are never collected to the driver
    wide = "cast(repeat(cast(value as string), 100000) as binary)"
    monkeypatch.setattr(engine_mod, "_LOCAL_PRODUCE_MAX_BYTES", 64 << 10)
    collected = []
    monkeypatch.setattr(TopicEngine, "_collect_arrow", collected.append)
    for under in (
        bulk.select("key", F.expr(wide).alias("value")),
        spark.range(2).select(
            F.col("id").cast("string").cast("binary").alias("key"),
            F.expr("repeat('x', 100000)").cast("binary").alias("value"),
        ),
    ):
        plan = under._jdf.queryExecution().optimizedPlan()
        assert plan.stats().sizeInBytes() < 64 << 10
        assert engine_mod._cached_plan_bytes(plan) is None
        produce(eng, under)
    assert collected == []
    assert kinds == [{"local"}] * 3 + [{"part"}] * 6
    assert sum(eng.high_watermarks("t").values()) == 16


def _tail_fetches_equal_segment_reads(spark, eng, root, topic, offsets, collect=()):
    """fetch_rows at each (partition, offset) is a tail hit and equals the
    segment read of a fresh engine; for the partitions in ``collect``
    also the relational fetch's rows in offset order."""
    fresh = TopicEngine(spark, root, read_only=True)
    for p, o in offsets:
        hits = eng.counters(topic).get("tail_cache_hits", 0)
        got = eng.fetch_rows(topic, p, offset=o)
        assert eng.counters(topic)["tail_cache_hits"] == hits + 1
        assert got == fresh.fetch_rows(topic, p, offset=o)
        assert [r["offset"] for r in got] == list(
            range(o, eng.high_watermarks(topic)[p])
        )
        if p in collect:
            rel = eng.fetch(topic, p, offset=o).collect()
            assert got == sorted(rel, key=lambda r: r["offset"])


def test_hot_tail_cap_binding_produce_keeps_coverage(spark, tmp_path):
    """A batch that binds the topic byte cap leaves every cached partition
    covering [start, high) with a byte count equal to its records, and a
    tail-served fetch_rows at and inside a trimmed tail (start > 0) equals
    the segment read of a fresh engine: after the byte cap of a small
    tail, after the 2,048-row cap, and after the 16 MiB topic cap trims a
    partition's rows of the batch itself."""
    import pyarrow as pa

    from redpanda_spark.engine import _record_bytes

    root = str(tmp_path / "t")
    eng = TopicEngine(spark, root)
    eng._tail_max_bytes = 40_000
    eng.create_topic("c", TopicConfig(partitions=16))
    for n in (800, 1600):
        eng.produce("c", _bulk(spark, pa.table({
            "key": pa.array([b"k%d" % i for i in range(n)]),
            "value": pa.array([bytes(100)] * n),
        })))
        tail, high = eng._tail["c"], eng.high_watermarks("c")
        cached = sum(_record_bytes(r) for _s, lst in tail.values() for r in lst)
        assert cached == sum(eng._tail_bytes["c"].values()) <= eng._tail_max_bytes
        assert cached > eng._tail_max_bytes - 200
        for p, (start, lst) in tail.items():
            assert [r["offset"] for r in lst] == list(range(start, high[p]))
    trimmed = [(p, s) for p, (s, _l) in eng._tail["c"].items() if s > 0]
    assert trimmed
    _tail_fetches_equal_segment_reads(spark, eng, root, "c", [
        (p, s + d) for p, s in trimmed for d in (0, 1)
    ] + [(p, s) for p, (s, _l) in eng._tail["c"].items() if s == 0])

    # the default caps: 2,048 rows per partition, 16 MiB per topic
    eng = TopicEngine(spark, root)
    eng.create_topic("rows", TopicConfig(partitions=2))
    eng.produce("rows", [
        {"partition": i % 2, "key": b"k", "value": b"%d" % i} for i in range(6000)
    ])
    assert {p: s for p, (s, _l) in eng._tail["rows"].items()} == {0: 952, 1: 952}
    _tail_fetches_equal_segment_reads(
        spark, eng, root, "rows",
        [(0, 952), (0, 953), (0, 2000), (0, 2999), (0, 3000), (1, 1500)],
        collect={0},
    )
    eng.create_topic("mib", TopicConfig(partitions=2))
    eng.produce("mib", [{"partition": 0, "key": b"a", "value": b"."}])
    eng.produce("mib", [
        {"partition": i % 2, "key": b"k", "value": bytes([i]) * (1 << 20)}
        for i in range(20)
    ])
    start, lst = eng._tail["mib"][0]
    assert 1 < start < 11 and lst[-1]["offset"] == 10  # trimmed mid-batch
    _tail_fetches_equal_segment_reads(
        spark, eng, root, "mib", [(0, start), (0, start + 1), (0, 10), (1, 0)],
        collect={0},
    )


def test_empty_log_frames_run_no_spark_job(spark, tmp_path):
    eng = TopicEngine(spark, str(tmp_path / "t"))
    eng.create_topic("e", TopicConfig(partitions=2))
    assert _no_jobs(spark, "empty-log", lambda: eng.log("e").collect()) == []
    assert _no_jobs(spark, "empty-fetch", lambda: eng.fetch("e", 0).collect()) == []


def test_empty_and_written_logs_share_one_schema(spark, tmp_path):
    """An empty topic's log has the columns, order and types of a written
    one (the stored segment schema), so a positional union or a row
    compare across the two lines up."""
    eng = TopicEngine(spark, str(tmp_path / "t"))
    eng.create_topic("e", TopicConfig(partitions=2))
    eng.create_topic("w", TopicConfig(partitions=2))
    eng.produce("w", [{"key": b"k", "value": b"v"}])
    empty, written = eng.log("e"), eng.log("w")
    assert empty.columns == written.columns == list(engine_mod._RecordRow)
    assert empty.schema == written.schema == engine_mod._SEGMENT_SCHEMA
    assert [tuple(r) for r in empty.unionAll(written).collect()] == [
        tuple(r) for r in written.collect()
    ]


def test_log_build_runs_no_spark_job_and_count_runs_two(spark, tmp_path):
    """Reads are given the segment schema: building ``log()`` infers
    nothing from the footers (no job), so counting it runs only the
    scan's two jobs; a listed segment missing on disk still raises when
    the read is built."""
    root = str(tmp_path / "t")
    eng = TopicEngine(spark, root)
    eng.create_topic("t", TopicConfig(partitions=2))
    for i in range(3):
        eng.produce("t", [{"key": b"k%d" % i, "value": b"v"}])
    df, jobs = spark_jobs(spark, "log-build", lambda: eng.log("t"))
    assert jobs == []
    n, jobs = spark_jobs(spark, "log-count", lambda: eng.log("t").count())
    assert n == 3 and len(jobs) == 2
    os.remove(os.path.join(root, eng._files["t"][1]))
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        eng.log("t")


def test_log_stream_start_runs_no_spark_job(spark, tmp_path):
    eng = TopicEngine(spark, str(tmp_path / "t"))
    eng.create_topic("s", TopicConfig(partitions=2))
    eng.produce("s", [{"key": b"k", "value": b"v"}])
    stream = _no_jobs(spark, "log-stream-start", lambda: eng.log_stream("s"))
    assert stream.isStreaming and stream.schema == engine_mod._SEGMENT_SCHEMA


def test_read_committed_fetch_reads_only_its_partitions_tx_ranges(
    spark, tmp_path, monkeypatch
):
    """The replayed tx ranges are indexed by (topic, partition): after 50
    decided transactions on one topic, a read_committed row fetch of
    another considers none of them, and on a mixed workload (committed,
    aborted, open and plain batches) its rows equal the relational
    read_committed scan."""
    from redpanda_spark.operators.txcoord import TxCoordinator

    eng = TopicEngine(spark, str(tmp_path / "t"))
    eng.create_topic("x", TopicConfig(partitions=1))
    eng.create_topic("y", TopicConfig(partitions=2))
    tc = TxCoordinator(eng)
    tc.init_producer_id("tx")
    for i in range(50):
        tc.produce("tx", "x", [{"value": b"x%d" % i, "partition": 0}])
        (tc.commit if i % 2 else tc.abort)("tx")

    def recs(tag, n=2):
        return [{"value": b"%s%d" % (tag, i), "partition": i % 2} for i in range(n)]

    eng.produce("y", recs(b"plain"))
    tc.produce("tx", "y", recs(b"kept"))
    tc.commit("tx")
    tc.produce("tx", "y", recs(b"dead"))
    tc.abort("tx")
    eng.produce("y", recs(b"after"))
    tc.produce("tx", "y", recs(b"open", 1))  # partition 0 only: open range
    eng.produce("y", recs(b"late"))

    considered = []
    ranges = eng._tx_ranges_local

    def spy(*args):
        out = ranges(*args)
        considered.append(len(out))
        return out

    monkeypatch.setattr(eng, "_tx_ranges_local", spy)
    eng.fetch_rows("y", 1, isolation="read_committed")
    assert considered == [2]  # the committed and the aborted range on y/1
    eng.create_topic("z", TopicConfig(partitions=1))
    eng.produce("z", [{"value": b"z"}])
    assert [r["value"] for r in eng.fetch_rows("z", 0, isolation="read_committed")] == [b"z"]
    assert considered[-1] == 0
    monkeypatch.undo()
    for p in (0, 1):
        rows = eng.fetch_rows("y", p, isolation="read_committed")
        scan = sorted(
            eng.fetch("y", p, isolation="read_committed").collect(),
            key=lambda r: r["offset"],
        )
        assert rows == scan
    assert {bytes(r["value"]) for r in rows} == {b"plain1", b"kept1", b"after1", b"late1"}


def test_record_produce_validations(spark, tmp_path):
    from redpanda_spark.engine import ProduceError

    eng = TopicEngine(spark, str(tmp_path / "t"))
    eng.create_topic("v", TopicConfig(partitions=1, max_message_bytes=10))
    with pytest.raises(ProduceError, match="MESSAGE_TOO_LARGE"):
        eng.produce("v", [{"key": b"k", "value": b"x" * 100}])
    with pytest.raises(ProduceError, match="INVALID_RECORD"):
        eng.produce("v", [{"key": b"k", "value": b"x", "bogus_field": 1}])
    # LogAppendTime rewrite: stored timestamp is broker time, not 1970
    import datetime as dt

    eng.create_topic(
        "lat", TopicConfig(partitions=1, timestamp_type="LogAppendTime")
    )
    eng.produce(
        "lat",
        [{"partition": 0, "key": b"k", "value": b"v",
          "timestamp": dt.datetime(1970, 1, 2)}],
    )
    [r] = eng.log("lat").collect()
    assert r["timestamp"].year >= 2024


def test_record_produce_idempotence_window(spark, tmp_path):
    """The driver-side path runs the same rm_stm sequence window: a
    retried batch (same producer/epoch/sequence) is dropped silently."""
    eng = TopicEngine(spark, str(tmp_path / "t"))
    eng.create_topic("idem", TopicConfig(partitions=1))
    batch = [
        {"partition": 0, "key": b"k", "value": b"v0", "producer_id": 7,
         "producer_epoch": 0, "base_sequence": 0},
        {"partition": 0, "key": b"k", "value": b"v1", "producer_id": 7,
         "producer_epoch": 0, "base_sequence": 1},
    ]
    eng.produce("idem", batch)
    eng.produce("idem", batch)  # client retry: already committed -> dropped
    assert eng.log("idem").count() == 2
    from redpanda_spark.engine import ProduceError

    with pytest.raises(ProduceError, match="OUT_OF_ORDER_SEQUENCE_NUMBER"):
        eng.produce(
            "idem",
            [{"partition": 0, "key": b"k", "value": b"v9", "producer_id": 7,
              "producer_epoch": 0, "base_sequence": 9}],
        )


def test_hot_tail_invalidated_by_maintenance(spark, tmp_path):
    """Compaction/retention flips the manifest -> the tail cache must not
    serve pre-rewrite rows; fetch_poll falls back to the scan."""
    eng = TopicEngine(spark, str(tmp_path / "t"))
    eng.create_topic("c", TopicConfig(partitions=1, cleanup_policy="compact"))
    eng.produce("c", [{"partition": 0, "key": b"k", "value": b"old"}])
    eng.produce("c", [{"partition": 0, "key": b"k", "value": b"new"}])
    assert len(eng.fetch_poll("c", 0, offset=0, min_records=2)) == 2
    eng.run_compaction("c")
    assert eng._tail.get("c") is None  # invalidated at the manifest flip
    rows = eng.fetch_poll("c", 0, offset=0, max_wait_s=1.0)
    assert [bytes(r["value"]) for r in rows] == [b"new"]


def test_hot_tail_respects_delete_records(spark, tmp_path):
    eng = TopicEngine(spark, str(tmp_path / "t"))
    eng.create_topic("d", TopicConfig(partitions=1))
    for i in range(4):
        eng.produce("d", [{"partition": 0, "key": b"k", "value": b"v%d" % i}])
    eng.delete_records("d", {0: 2})  # prefix truncate to offset 2
    rows = eng.fetch_poll("d", 0, offset=0, min_records=1)
    assert [r["offset"] for r in rows] == [2, 3]


def test_fetch_below_log_start_inside_tail_is_tail_hit(spark, tmp_path):
    """A log start moved into the hot tail by delete_records decides the
    fetch: one from below it reads the tail, with no Spark job, and
    returns the segment read's Rows."""
    root = str(tmp_path / "t")
    eng = TopicEngine(spark, root)
    eng._tail_max_rows = 4
    eng.create_topic("d", TopicConfig(partitions=1))
    for i in range(5):
        eng.produce("d", [{"partition": 0, "key": b"k", "value": b"v%d" % i}])
    assert eng._tail["d"][0][0] == 1
    eng.delete_records("d", {0: 3})
    hits = eng.counters("d").get("tail_cache_hits", 0)
    got = _no_jobs(spark, "below-log-start", lambda: eng.fetch_rows("d", 0, offset=0))
    assert eng.counters("d")["tail_cache_hits"] == hits + 1
    assert eng.counters("d").get("tail_cache_misses", 0) == 0
    fresh = TopicEngine(spark, root, read_only=True)
    assert got == fresh.fetch_rows("d", 0, offset=0)
    assert [r["offset"] for r in got] == [3, 4]


def test_hot_tail_extends_and_trims(spark, tmp_path):
    eng = TopicEngine(spark, str(tmp_path / "t"))
    eng._tail_max_rows = 8
    eng.create_topic("e", TopicConfig(partitions=1))
    for i in range(12):
        eng.produce("e", [{"partition": 0, "key": b"k", "value": b"v%d" % i}])
    start, lst = eng._tail["e"][0]
    assert start == 4 and len(lst) == 8  # trimmed from the old end
    assert [r["offset"] for r in lst] == list(range(4, 12))
    # offsets before the tail fall back to the full scan
    rows = eng.fetch_poll("e", 0, offset=0, min_records=12)
    assert [r["offset"] for r in rows] == list(range(12))


def test_engine_fetch_max_bytes(spark, tmp_path):
    eng = TopicEngine(spark, str(tmp_path / "t"))
    eng.create_topic("b", TopicConfig(partitions=1))
    for i in range(6):
        eng.produce("b", [{"partition": 0, "key": b"k", "value": bytes(100)}])
    # 117 bytes/record (16 + 1 key + 100 value): budget 300 -> 3 records
    got = [r["offset"] for r in eng.fetch("b", 0, max_bytes=300).collect()]
    assert got == [0, 1, 2]
    got = eng.fetch("b", 0, offset=5, max_bytes=1).collect()
    assert len(got) == 1  # oversized first record still served


def _no_jobs(spark, group, fn):
    """fn() under a Spark job group; asserts it started no job."""
    out, jobs = spark_jobs(spark, group, fn)
    assert jobs == []
    return out


def test_row_fetch_sources_equal_row_for_row(spark, tmp_path):
    """A hot-tail hit, a segment read (a freshly opened engine has no
    tail) and fetch().collect() return equal Rows: headers as Rows, a
    null key and a tombstone included."""
    root = str(tmp_path / "t")
    eng = TopicEngine(spark, root)
    eng.create_topic("h", TopicConfig(partitions=1))
    eng.produce("h", [
        {"partition": 0, "key": b"k", "value": b"v",
         "headers": [{"key": "h", "value": b"x"}]},
        {"partition": 0, "key": None, "value": b"no-key",
         "headers": [{"key": "n", "value": None}]},
        {"partition": 0, "key": b"gone", "value": None, "headers": None},
    ])
    want = sorted(eng.fetch("h", 0).collect(), key=lambda r: r["offset"])
    assert [r["offset"] for r in want] == [0, 1, 2]
    tail = eng.fetch_rows("h", 0)
    assert eng.counters("h")["tail_cache_hits"] == 1
    fresh = TopicEngine(spark, root, read_only=True)
    segment = _no_jobs(spark, "row-fetch-segment", lambda: fresh.fetch_rows("h", 0))
    assert fresh.counters("h")["tail_cache_misses"] == 1
    assert tail == want
    assert segment == want
    names = [list(r.__fields__) for r in want]
    assert [list(r.__fields__) for r in tail + segment] == names * 2
    assert want[0]["headers"] == [Row(key="h", value=bytearray(b"x"))]


_FETCH_CASES = [
    "archived", "archived_cold_cache", "log_start", "read_committed",
    "max_bytes_below_first", "max_records", "offset_at_hwm",
]


@pytest.mark.parametrize("case", _FETCH_CASES)
def test_fetch_rows_equals_sorted_fetch_collect(spark, tmp_path, case):
    """fetch_rows on a freshly opened engine (empty hot tail) reads the
    segments in-process with zero Spark jobs and returns exactly the
    relational fetch's rows in offset order, across pyarrow- and
    Spark-written segments of both tiers."""
    import datetime as dt

    from redpanda_spark.operators.txcoord import TxCoordinator

    root = str(tmp_path / "r")
    eng = TopicEngine(spark, root)
    eng.create_topic("t", TopicConfig(
        partitions=2, remote_write=True, local_retention_ms=60_000,
    ))
    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    old = [
        {"key": b"k%d" % i, "value": bytes(40 + i), "timestamp": base,
         "headers": [{"key": "i", "value": b"%d" % i}]}
        for i in range(8)
    ]
    eng.produce("t", old[:4])
    eng.produce("t", old[4:])
    eng.produce("t", spark.createDataFrame(
        [Row(key=b"d%d" % i, value=bytes(30)) for i in range(10)],
        "key binary, value binary",
    ))  # a Spark-written segment
    eng.produce("t", [{"key": None, "value": b"no-key"}, {"key": b"z", "value": None}])
    if case.startswith("archived"):
        now_ms = int((base + dt.timedelta(hours=2)).timestamp() * 1000)
        assert eng.run_archival("t", now_ms=now_ms)["archived"] == 2
    if case == "log_start":
        eng.delete_records("t", {0: 3, 1: 2})
    if case == "read_committed":
        tc = TxCoordinator(eng)
        tc.init_producer_id("a")
        tc.produce("a", "t", [{"partition": 0, "key": b"c", "value": b"committed"}])
        tc.commit("a")
        eng.produce("t", [{"partition": 0, "key": None, "value": None,
                           "is_control": True}])
        tc.produce("a", "t", [{"partition": 0, "key": b"x", "value": b"aborted"}])
        tc.abort("a")
        eng.produce("t", [{"partition": 0, "key": b"p", "value": b"plain"}])
        tc.init_producer_id("b")
        tc.produce("b", "t", [{"partition": 0, "key": b"o", "value": b"open"}])
        eng.produce("t", [{"partition": 0, "key": b"l", "value": b"above-lso"}])
    kw = {
        "archived": {}, "archived_cold_cache": {}, "offset_at_hwm": {},
        "log_start": {"offset": 1},
        "read_committed": {"isolation": "read_committed"},
        "max_bytes_below_first": {"offset": 1, "max_bytes": 10},
        "max_records": {"offset": 1, "max_records": 3},
    }[case]

    fresh = TopicEngine(spark, root, read_only=True)
    if case == "archived_cold_cache":
        fresh.enable_cold_cache(1 << 30, str(tmp_path / "cc"))
    for p in (0, 1):
        if case == "offset_at_hwm":
            kw["offset"] = fresh.high_watermarks("t")[p]
        got = _no_jobs(
            spark, f"fetch-rows-{case}-{p}", lambda: fresh.fetch_rows("t", p, **kw)
        )
        want = sorted(fresh.fetch("t", p, **kw).collect(), key=lambda r: r["offset"])
        assert got == want
        assert [list(r.__fields__) for r in got] == [list(r.__fields__) for r in want]
        if case == "offset_at_hwm":
            assert got == []
        elif case == "max_bytes_below_first":
            assert len(got) == 1
        elif case == "max_records":
            assert len(got) == 3
        else:
            assert len(got) >= 2
    if case == "read_committed":
        rows0 = fresh.fetch_rows("t", 0, isolation="read_committed")
        values = {r["value"] for r in rows0}
        assert {b"committed", b"plain"} <= values
        assert not {b"aborted", b"open", b"above-lso"} & values
        assert not any(r["is_control"] for r in rows0)
    if case == "archived_cold_cache":
        c = fresh.counters("t")
        # fetch_rows filled the cache (misses) and fetch() then hit it
        assert c["cold_cache_misses"] == 2 and c["cold_cache_hits"] >= 2


def test_record_produce_zero_valued_producer_fields(spark, tmp_path):
    """pid 0 / epoch 0 / seq 0 are legitimate values and must be stored
    faithfully (regression: `x or -1` collapsed zeros to -1), and a
    DataFrame-path produce followed by a record-path produce under the
    same (pid 0, epoch 0) must share one sequence window — not raise a
    spurious INVALID_PRODUCER_EPOCH."""
    eng = TopicEngine(spark, str(tmp_path / "t"))
    eng.create_topic("z", TopicConfig(partitions=1))
    eng.produce(
        "z",
        spark.createDataFrame(
            [Row(partition=0, key=b"k", value=b"v0", producer_id=0,
                 producer_epoch=0, base_sequence=0)],
            "partition int, key binary, value binary, producer_id long, "
            "producer_epoch smallint, base_sequence int",
        ),
    )
    eng.produce(
        "z",
        [{"partition": 0, "key": b"k", "value": b"v1", "producer_id": 0,
          "producer_epoch": 0, "base_sequence": 1}],
    )
    rows = sorted(eng.log("z").collect(), key=lambda r: r["offset"])
    assert [(r["producer_id"], r["producer_epoch"], r["base_sequence"])
            for r in rows] == [(0, 0, 0), (0, 0, 1)]
    # retry of seq 1 via the record path is deduped, not appended
    eng.produce(
        "z",
        [{"partition": 0, "key": b"k", "value": b"v1", "producer_id": 0,
          "producer_epoch": 0, "base_sequence": 1}],
    )
    assert eng.log("z").count() == 2


def test_dataframe_produce_without_key_column(spark, tmp_path):
    """A batch with no key column is legal (null key = no routing
    affinity): rows round-robin across partitions and the log stores
    null keys. Regression: the produce pipeline referenced F.col('key')
    unconditionally and threw UNRESOLVED_COLUMN."""
    eng = TopicEngine(spark, str(tmp_path / "t"))
    eng.create_topic("nk", TopicConfig(partitions=4))
    df = spark.createDataFrame(
        [(b"v%d" % i,) for i in range(40)], "value binary"
    )
    eng.produce("nk", df)
    rows = eng.log("nk").collect()
    assert len(rows) == 40
    assert all(r["key"] is None for r in rows)
    # placement is round-robin on the monotonic id — client-incidental
    # (same note as null-keyed rows); only validity is contractual
    assert all(0 <= r["partition"] < 4 for r in rows)
    assert sum(eng.high_watermarks("nk").values()) == 40


def test_mixed_batch_null_partition_keeps_key_affinity(engine, spark):
    """ADVICE r9: on the DataFrame produce path, a mixed batch's
    null-partition rows must route by murmur2 when they carry a key
    (Kafka default-partitioner affinity), round-robin only when key-less;
    explicit partitions stay untouched. repartition(3) defeats the
    local-relation fast path so the distributed branch is the one under
    test."""
    engine.create_topic("mx", TopicConfig(partitions=4))
    rows = [
        Row(partition=2, key=b"explicit", value=b"a"),
        Row(partition=None, key=b"affinity-key", value=b"b"),
        Row(partition=None, key=None, value=b"c"),
    ]
    df = spark.createDataFrame(
        rows, "partition int, key binary, value binary"
    ).repartition(3)
    engine.produce("mx", df)
    got = {bytes(r["value"]): r["partition"] for r in engine.log("mx").collect()}
    assert got[b"a"] == 2
    assert got[b"b"] == murmur2_partition(b"affinity-key", 4)
    assert 0 <= got[b"c"] <= 3
