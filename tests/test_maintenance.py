"""Maintenance decided from the manifest: a cleanup tick with no retention
set rewrites nothing and drops only the segments wholly below the log
start, and driver-sized segment merges run in-process on Arrow with the
same result as the Spark rewrite."""

from __future__ import annotations

import datetime as dt
import io
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from conftest import spark_jobs
from redpanda_spark import engine as engine_mod
from redpanda_spark.engine import TopicConfig, TopicEngine
from redpanda_spark.rest import RestApp

UTC = dt.timezone.utc
BASE = dt.datetime(2024, 1, 1, tzinfo=UTC)


def _batch(b: int, n: int = 10, partitions: int = 2) -> list[dict]:
    """Batch ``b``: ``n`` records over ``partitions`` with explicit
    timestamps, headers and idempotent-producer columns (producer 7, one
    contiguous sequence per partition across batches)."""
    per = n // partitions
    return [
        {
            "partition": i % partitions,
            "key": f"k{i}".encode() if i % 3 else None,
            "value": f"{b}:{i}".encode() if i % 4 else None,
            "timestamp": BASE + dt.timedelta(hours=b, seconds=i),
            "headers": [{"key": "h", "value": f"{b}".encode()}] if i % 2 else None,
            "producer_id": 7,
            "producer_epoch": 0,
            "base_sequence": b * per + i // partitions,
            "is_transactional": False,
            "is_control": False,
        }
        for i in range(n)
    ]


def _rows(eng, topic):
    """Every record column of the log, sorted on (partition, offset)."""
    return sorted(
        (tuple(r) for r in eng.log(topic).collect()), key=lambda r: (r[0], r[-1])
    )


def _file_stats(eng, topic):
    return [eng._stats[topic][f] for f in eng._files[topic]]


def test_no_retention_cleanup_runs_no_job(spark, tmp_path):
    eng = TopicEngine(spark, str(tmp_path / "r"))
    eng.create_topic("t", TopicConfig(partitions=2))
    for b in range(3):
        eng.produce("t", _batch(b))
    files = list(eng._files["t"])
    _, jobs = spark_jobs(spark, "cleanup-noop", lambda: eng.run_cleanup("t"))
    assert jobs == []
    assert eng._files["t"] == files
    assert "maintenance_spark_rewrites" not in eng.counters("t")


def test_cleanup_drops_segments_below_log_start_on_both_tiers(spark, tmp_path):
    root = str(tmp_path / "r")
    eng = TopicEngine(spark, root)
    eng.create_topic(
        "t", TopicConfig(partitions=1, remote_write=True, local_retention_ms=1000)
    )
    for b in range(5):  # one 5-record segment each: offsets 5b..5b+4
        eng.produce("t", _batch(b, n=5, partitions=1))
    now = BASE + dt.timedelta(hours=2)
    assert eng.run_archival("t", now_ms=int(now.timestamp() * 1000))["archived"] == 2
    hot, cold = list(eng._files["t"]), list(eng._archived["t"])
    assert len(hot) == 3 and len(cold) == 2
    # both archived segments (0..9) and the first hot one (10..14) lie
    # wholly below 17; the hot one holding 15..19 is cut mid-way
    eng.delete_records("t", {0: 17})
    rows = _rows(eng, "t")
    fetched = TopicEngine(spark, root, read_only=True).fetch_rows("t", 0, offset=0)
    assert [r["offset"] for r in fetched] == list(range(17, 25))

    _, jobs = spark_jobs(spark, "cleanup-truncated", lambda: eng.run_cleanup("t"))
    assert jobs == []
    assert eng._archived["t"] == [] and eng._files["t"] == hot[1:]
    assert os.listdir(eng._archive_dir("t")) == []
    assert not os.path.exists(os.path.join(root, hot[0]))
    assert all(os.path.exists(os.path.join(root, f)) for f in hot[1:])
    assert _rows(eng, "t") == rows
    assert eng.fetch_rows("t", 0, offset=0) == fetched
    reopened = TopicEngine(spark, root, read_only=True)
    assert reopened.fetch_rows("t", 0, offset=0) == fetched
    assert _rows(reopened, "t") == rows
    # nothing further lies wholly below the start: the next tick is a no-op
    files = list(eng._files["t"])
    eng.run_cleanup("t")
    assert eng._files["t"] == files
    assert "maintenance_spark_rewrites" not in eng.counters("t")


def test_merge_in_process_matches_spark_merge(spark, tmp_path):
    """The same batches on a local root (in-process produce and merge)
    and a file: root (Spark produce and merge) merge to equal rows on
    every record column, equal watermarks and equal file stats."""
    local = TopicEngine(spark, str(tmp_path / "local"))
    uri = TopicEngine(spark, "file://" + str(tmp_path / "uri"))
    for eng in (local, uri):
        eng.create_topic("t", TopicConfig(partitions=2))
        for b in range(4):
            eng.produce("t", _batch(b))
        eng.delete_records("t", {0: 3})
    before = _rows(local, "t")
    assert _rows(uri, "t") == before

    merged, jobs = spark_jobs(spark, "merge-local", lambda: local.optimize_segments("t"))
    assert jobs == []
    assert merged == {"files_before": 4, "files_after": 1}
    assert uri.optimize_segments("t") == merged
    assert local.counters("t").get("maintenance_local_rewrites") == 1
    assert "maintenance_spark_rewrites" not in local.counters("t")
    assert uri.counters("t").get("maintenance_spark_rewrites") == 1

    assert _rows(local, "t") == _rows(uri, "t") == before
    assert local.high_watermarks("t") == uri.high_watermarks("t")
    assert _file_stats(local, "t") == _file_stats(uri, "t")
    # the truncated prefix is gone from disk, the headers are intact
    seg = pq.read_table(os.path.join(local.root, local._files["t"][0]))
    assert min(o for p, o in zip(seg["partition"].to_pylist(), seg["offset"].to_pylist())
               if p == 0) == 3
    assert any(h for h in seg["headers"].to_pylist())
    # a merged topic keeps appending from the same watermarks
    for eng in (local, uri):
        eng.produce("t", _batch(4))
    assert _rows(local, "t") == _rows(uri, "t")


def test_merge_mixed_segments_into_contiguous_files(spark, tmp_path, monkeypatch):
    """Spark-written and pyarrow-written segments merge in-process into
    ``n_target`` files that hold contiguous (partition, offset) runs."""
    root = str(tmp_path / "r")
    eng = TopicEngine(spark, root)
    eng.create_topic("t", TopicConfig(partitions=2))
    bound = engine_mod._LOCAL_PRODUCE_MAX_BYTES
    for b in range(6):
        # odd batches take the distributed produce path: Spark part files
        monkeypatch.setattr(engine_mod, "_LOCAL_PRODUCE_MAX_BYTES", bound if b % 2 == 0 else 0)
        eng.produce("t", _batch(b, n=40))
    monkeypatch.setattr(engine_mod, "_LOCAL_PRODUCE_MAX_BYTES", bound)
    names = [os.path.basename(f) for f in eng._files["t"]]
    assert any(n.startswith("local-") for n in names)
    assert any(n.startswith("part-") for n in names)
    before = _rows(eng, "t")
    total = sum(os.path.getsize(os.path.join(root, f)) for f in eng._files["t"])

    merged, jobs = spark_jobs(
        spark, "merge-mixed",
        lambda: eng.optimize_segments("t", target_file_bytes=total // 3 + 1),
    )
    assert jobs == []
    assert merged == {"files_before": 6, "files_after": 3}
    assert _rows(eng, "t") == before
    runs = []
    for f in eng._files["t"]:
        seg = pq.read_table(os.path.join(root, f))
        keys = list(zip(seg["partition"].to_pylist(), seg["offset"].to_pylist()))
        assert keys == sorted(keys)
        st = eng._stats["t"][f]
        assert st[:5] == [keys[0][0], keys[-1][0], min(o for _, o in keys),
                          max(o for _, o in keys), len(keys)]
        runs += keys
    # the files, in manifest order, are one sorted run of the whole log
    assert runs == [(r[0], r[-1]) for r in before]
    on_disk = {os.path.relpath(f, root) for f in eng._segment_files("t")}
    assert on_disk == set(eng._files["t"])


def test_merge_crash_before_commit_keeps_pre_merge_snapshot(spark, tmp_path, monkeypatch):
    root = str(tmp_path / "r")
    eng = TopicEngine(spark, root)
    eng.create_topic("t", TopicConfig(partitions=2))
    for b in range(3):
        eng.produce("t", _batch(b))
    files, before = list(eng._files["t"]), _rows(eng, "t")

    def crash(topic):
        raise RuntimeError("crash before the manifest commit")

    monkeypatch.setattr(eng, "_commit_manifest", crash)
    with pytest.raises(RuntimeError):
        eng.optimize_segments("t")
    on_disk = {os.path.relpath(f, root) for f in eng._segment_files("t")}
    assert len(on_disk - set(files)) == 1  # the merged segment, unreferenced

    rec = TopicEngine(spark, root)
    assert rec._files["t"] == files
    assert {os.path.relpath(f, root) for f in rec._segment_files("t")} == set(files)
    assert _rows(rec, "t") == before


def test_time_retention_boundary_cut_in_process(spark, tmp_path):
    eng = TopicEngine(spark, str(tmp_path / "r"))
    eng.create_topic("t", TopicConfig(partitions=2, retention_ms=3_600_000))
    for b in range(3):  # batch b spans BASE+b h .. +9 s
        eng.produce("t", _batch(b))
    cutoff = BASE + dt.timedelta(hours=1, seconds=5)
    expect = sorted(
        (tuple(r) for r in eng.log("t").where(F.col("timestamp") >= F.lit(cutoff)).collect()),
        key=lambda r: (r[0], r[-1]),
    )
    assert 0 < len(expect) < 20
    now = BASE + dt.timedelta(hours=2, seconds=5)
    _, jobs = spark_jobs(
        spark, "retention-cut",
        lambda: eng.run_retention("t", now_ms=int(now.timestamp() * 1000)),
    )
    assert jobs == []
    assert _rows(eng, "t") == expect
    assert eng.counters("t").get("maintenance_local_rewrites") == 1


def test_maintenance_counters_on_metrics(spark, tmp_path):
    eng = TopicEngine(spark, str(tmp_path / "r"))
    eng.create_topic("t", TopicConfig(partitions=1))
    for b in range(2):
        eng.produce("t", _batch(b, partitions=1))
    eng.run_cleanup("t")
    eng.optimize_segments("t")
    assert "maintenance_spark_rewrites" not in eng.counters("t")
    eng._require("t").retention_bytes = 1 << 30  # size retention: a Spark rewrite
    eng.run_cleanup("t")
    environ = {
        "REQUEST_METHOD": "GET", "PATH_INFO": "/metrics", "QUERY_STRING": "",
        "CONTENT_LENGTH": "0", "wsgi.input": io.BytesIO(b""),
    }
    out = b"".join(RestApp(eng)(environ, lambda s, h: None)).decode()
    assert 'redpanda_spark_maintenance_local_rewrites_total{topic="t"} 1' in out
    assert 'redpanda_spark_maintenance_spark_rewrites_total{topic="t"} 1' in out


def test_checksum_sidecars_leave_with_their_segments(spark, tmp_path, monkeypatch):
    """Spark-written segments on a local root carry Hadoop ``.crc``
    sidecars: the in-process merge that deletes the segments deletes
    them too, and reopen GC collects a sidecar whose segment is gone
    while the sidecars of live segments stay."""
    root = str(tmp_path / "r")
    d = os.path.join(root, "t")
    eng = TopicEngine(spark, root)
    eng.create_topic("t", TopicConfig(partitions=2))
    bound = engine_mod._LOCAL_PRODUCE_MAX_BYTES

    def distributed_produce(e, b):
        monkeypatch.setattr(engine_mod, "_LOCAL_PRODUCE_MAX_BYTES", 0)
        e.produce("t", _batch(b))
        monkeypatch.setattr(engine_mod, "_LOCAL_PRODUCE_MAX_BYTES", bound)

    def sidecars():
        return sorted(n for n in os.listdir(d) if n.endswith(".crc"))

    def live_sidecars(e):
        return sorted(
            f".{os.path.basename(f)}.crc"
            for f in e._files["t"]
            if os.path.basename(f).startswith("part-")
        )

    for b in range(3):
        distributed_produce(eng, b)
    before = _rows(eng, "t")
    assert sidecars() and sidecars() == live_sidecars(eng)

    _, jobs = spark_jobs(spark, "merge-sidecars", lambda: eng.optimize_segments("t"))
    assert jobs == []
    assert _rows(eng, "t") == before
    assert sidecars() == []

    distributed_produce(eng, 3)
    kept = live_sidecars(eng)
    assert kept and sidecars() == kept
    stray = os.path.join(d, ".part-00000-gone-c000.parquet.crc")
    with open(os.path.join(d, kept[0]), "rb") as src, open(stray, "wb") as dst:
        dst.write(src.read())
    reopened = TopicEngine(spark, root)
    assert sidecars() == kept
    assert _rows(reopened, "t") == _rows(eng, "t")
