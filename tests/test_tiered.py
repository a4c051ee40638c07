"""Tiered storage: archival to the cold tier + tier-spanning reads +
cloud retention.

Reference behaviors mirrored (redpanda.remote.write semantics):
- `cluster/archival/ntp_archiver_service.cc` — segments past
  retention.local.target.ms are uploaded to object storage, then evicted
  locally once the uploaded manifest commits.
- `cloud_storage/remote_partition.cc` — fetch/timequery below the local
  log start route to cloud segments transparently.
- `cluster/archival/archival_policy.cc` — retention.ms/bytes govern the
  TOTAL log (cloud retention); aged cloud segments are dropped from the
  manifest without touching hot data.
"""

from __future__ import annotations

import datetime as dt
import os

import pytest

from redpanda_spark.engine import TopicConfig, TopicEngine

UTC = dt.timezone.utc
BASE = dt.datetime(2024, 1, 1, tzinfo=UTC)


def _ms(t: dt.datetime) -> int:
    return int(t.timestamp() * 1000)


def _build(spark, root, **cfg_kwargs) -> TopicEngine:
    """4 single-segment batches, 1 hour apart, 10 records each over 2
    partitions — batch b, record i carries value b:i."""
    eng = TopicEngine(spark, root)
    eng.create_topic(
        "t",
        TopicConfig(
            partitions=2,
            remote_write=True,
            local_retention_ms=1000,
            **cfg_kwargs,
        ),
    )
    for b in range(4):
        eng.produce(
            "t",
            [
                {
                    "partition": i % 2,
                    "key": f"k{i}".encode(),
                    "value": f"{b}:{i}".encode(),
                    "timestamp": BASE + dt.timedelta(hours=b, seconds=i),
                }
                for i in range(10)
            ],
        )
    return eng


def _rowset(df):
    return sorted(
        (r["partition"], r["offset"], bytes(r["value"])) for r in df.collect()
    )


def test_archival_moves_segments_and_reads_are_identical(spark, tmp_path):
    eng = _build(spark, str(tmp_path / "r"))
    before = _rowset(eng.log("t"))
    # cutoff at BASE+2h: batches 0,1 fully aged past the 1s local target
    res = eng.run_archival("t", now_ms=_ms(BASE + dt.timedelta(hours=2)))
    assert res == {"archived": 2, "remaining_local": 2}
    st = eng.topic_stats("t")
    assert st["segments"] == 2 and st["archived_segments"] == 2
    assert st["archived_rows"] == 20
    # local dir holds only the 2 hot segments; archive dir the 2 cold ones
    local = [f for f in os.listdir(tmp_path / "r" / "t") if f.endswith(".parquet")]
    cold = os.listdir(eng._archive_dir("t"))
    assert len(local) == 2 and len(cold) == 2
    # value-for-value: the full log is unchanged by the tier move
    assert _rowset(eng.log("t")) == before
    # second tick: nothing newly aged
    assert eng.run_archival("t", now_ms=_ms(BASE + dt.timedelta(hours=2)))[
        "archived"
    ] == 0


def test_fetch_spans_tiers_and_prunes_cold_for_hot_offsets(spark, tmp_path):
    eng = _build(spark, str(tmp_path / "r"))
    eng.run_archival("t", now_ms=_ms(BASE + dt.timedelta(hours=2)))
    rows = eng.fetch("t", 0, offset=0).orderBy("offset").collect()
    assert len(rows) == 20
    assert bytes(rows[0]["value"]) == b"0:0"  # archived tier
    assert bytes(rows[-1]["value"]) == b"3:8"  # hot tier
    # a fetch of recent offsets must not open any cold segment
    assert eng._pruned_archived("t", partition=0, min_offset=10) == []
    assert len(eng._pruned_archived("t", partition=0, min_offset=0)) == 2


def test_timequery_and_list_offsets_span_tiers(spark, tmp_path):
    eng = _build(spark, str(tmp_path / "r"))
    eng.run_archival("t", now_ms=_ms(BASE + dt.timedelta(hours=2)))
    # first offset at/after BASE+30min lives in the ARCHIVED tier
    tq = {
        r["partition"]: r["offset"]
        for r in eng.timequery("t", BASE + dt.timedelta(minutes=30)).collect()
    }
    assert tq == {0: 5, 1: 5}
    lo = {
        r["partition"]: (r["earliest_offset"], r["latest_offset"])
        for r in eng.list_offsets("t").collect()
    }
    assert lo == {0: (0, 20), 1: (0, 20)}


def test_state_survives_reopen(spark, tmp_path):
    root = str(tmp_path / "r")
    eng = _build(spark, root)
    eng.run_archival("t", now_ms=_ms(BASE + dt.timedelta(hours=2)))
    before = _rowset(eng.log("t"))
    eng2 = TopicEngine(spark, root)
    assert _rowset(eng2.log("t")) == before
    assert eng2.topic_stats("t")["archived_segments"] == 2


def test_cloud_retention_drops_aged_archived_segments(spark, tmp_path):
    eng = _build(spark, str(tmp_path / "r"), retention_ms=100_000)
    eng.run_archival("t", now_ms=_ms(BASE + dt.timedelta(hours=2)))
    # cutoff lands exactly at BASE+1h: batch-0 segment (cold) fully aged,
    # everything else untouched — metadata-only drop, zero Spark jobs
    eng.run_retention("t", now_ms=_ms(BASE + dt.timedelta(hours=1)) + 100_000)
    assert eng.log("t").count() == 30
    st = eng.topic_stats("t")
    assert st["archived_segments"] == 1 and st["segments"] == 2
    # the dropped segment's bytes are gone from the archive dir
    assert len(os.listdir(eng._archive_dir("t"))) == 1


def test_cloud_retention_rewrites_cold_boundary_segment(spark, tmp_path):
    eng = _build(spark, str(tmp_path / "r"), retention_ms=100_000)
    eng.run_archival("t", now_ms=_ms(BASE + dt.timedelta(hours=2)))
    # cutoff mid-batch-1 (BASE+1h+5s): batch 0 dropped, batch 1 straddles
    # → cold boundary rewrite; survivors are rows with ts >= cutoff
    cutoff = BASE + dt.timedelta(hours=1, seconds=5)
    eng.run_retention("t", now_ms=_ms(cutoff) + 100_000)
    vals = {bytes(r["value"]) for r in eng.log("t").collect()}
    expect = {f"1:{i}".encode() for i in range(5, 10)} | {
        f"{b}:{i}".encode() for b in (2, 3) for i in range(10)
    }
    assert vals == expect
    assert eng.topic_stats("t")["archived_segments"] >= 1


def test_size_retention_evicts_archive_first(spark, tmp_path):
    eng = _build(spark, str(tmp_path / "r"))
    eng.run_archival("t", now_ms=_ms(BASE + dt.timedelta(hours=2)))
    # budget for roughly half the log per partition: newest bytes win, so
    # eviction consumes the archive (oldest) tier first
    cfg = eng._require("t")
    cfg.retention_bytes = 250
    eng.run_retention("t")
    rows = eng.log("t").collect()
    assert 0 < len(rows) < 40
    # every archived (batch 0/1) row that survived is newer than every
    # evicted one per partition — spot-check: batch 3 fully present
    vals = {bytes(r["value"]) for r in rows}
    assert {f"3:{i}".encode() for i in range(10)} <= vals


def test_crash_between_copy_and_commit_gcs_archive_orphans(spark, tmp_path):
    root = str(tmp_path / "r")
    eng = _build(spark, root)
    ad = eng._archive_dir("t")
    os.makedirs(ad, exist_ok=True)
    # a half-uploaded cold segment from a crashed archival tick
    stray = os.path.join(ad, "e000099_00000.parquet")
    with open(stray, "wb") as f:
        f.write(b"not a real segment")
    eng2 = TopicEngine(spark, root)
    assert not os.path.exists(stray)
    assert eng2.log("t").count() == 40


def test_archival_preconditions(spark, tmp_path):
    eng = TopicEngine(spark, str(tmp_path / "r"))
    eng.create_topic("plain", TopicConfig(partitions=1))
    with pytest.raises(ValueError, match="remote_write"):
        eng.run_archival("plain")
    eng.create_topic(
        "nolocal", TopicConfig(partitions=1, remote_write=True)
    )
    with pytest.raises(ValueError, match="local_retention_ms"):
        eng.run_archival("nolocal")
    eng.create_topic(
        "cmp",
        TopicConfig(
            partitions=1,
            remote_write=True,
            local_retention_ms=1000,
            cleanup_policy="compact",
        ),
    )
    with pytest.raises(ValueError, match="delete"):
        eng.run_archival("cmp")


def test_compaction_refuses_tiered_topic(spark, tmp_path):
    eng = _build(spark, str(tmp_path / "r"))
    eng.run_archival("t", now_ms=_ms(BASE + dt.timedelta(hours=2)))
    with pytest.raises(ValueError, match="archived"):
        eng.run_compaction("t")


def test_delete_topic_removes_archive_tier(spark, tmp_path):
    eng = _build(spark, str(tmp_path / "r"))
    eng.run_archival("t", now_ms=_ms(BASE + dt.timedelta(hours=2)))
    ad = eng._archive_dir("t")
    assert os.path.isdir(ad)
    eng.delete_topic("t")
    assert not os.path.exists(ad)


def test_separate_archive_root(spark, tmp_path):
    """The cold tier can live on a different root (the object store)."""
    root = str(tmp_path / "hot")
    cold_root = str(tmp_path / "cold_store")
    eng = TopicEngine(spark, root, archive_root=cold_root)
    eng.create_topic(
        "t",
        TopicConfig(partitions=1, remote_write=True, local_retention_ms=1000),
    )
    for b in range(2):
        eng.produce(
            "t",
            [
                {
                    "value": f"{b}:{i}".encode(),
                    "timestamp": BASE + dt.timedelta(hours=b, seconds=i),
                }
                for i in range(5)
            ],
        )
    assert (
        eng.run_archival("t", now_ms=_ms(BASE + dt.timedelta(hours=1)))[
            "archived"
        ]
        == 1
    )
    assert os.path.isdir(os.path.join(cold_root, "t"))
    reopened = TopicEngine(spark, root, archive_root=cold_root)
    assert reopened.log("t").count() == 10


def test_cli_create_configure_archive(spark, tmp_path, monkeypatch, capsys):
    """rpk-parity flow: create with -c redpanda.remote.write=true
    -c retention.local.target.ms=1000, produce, archive via the CLI."""
    import json as _json

    from redpanda_spark.cli import main

    root = str(tmp_path / "r")
    main(
        [
            "--root", root, "topic", "create", "t", "-p", "1",
            "-c", "redpanda.remote.write=true",
            "-c", "retention.local.target.ms=1000",
        ]
    )
    eng = TopicEngine(spark, root)
    cfg = eng.list_topics()["t"]
    assert cfg.remote_write is True and cfg.local_retention_ms == 1000
    eng.produce("t", [{"value": b"old", "timestamp": BASE}])
    capsys.readouterr()
    main(["--root", root, "topic", "archive", "t"])
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["archived"] == 1 and out["archived_segments"] == 1


def test_optimize_archive_segments_merges_cold_files(spark, tmp_path):
    """Cold-tier small-file compaction: rows/offsets/watermarks unchanged,
    file count drops to the bin-packed target."""
    eng = _build(spark, str(tmp_path / "r"))
    eng.run_archival("t", now_ms=_ms(BASE + dt.timedelta(hours=3)))
    assert eng.topic_stats("t")["archived_segments"] == 3
    before = _rowset(eng.log("t"))
    res = eng.optimize_archive_segments("t")
    assert res["files_before"] == 3 and res["files_after"] < 3
    assert _rowset(eng.log("t")) == before
    st = eng.topic_stats("t")
    assert st["archived_segments"] == res["files_after"]
    # reopen: merged manifest + stats survive, reads intact
    eng2 = TopicEngine(spark, str(tmp_path / "r"))
    assert _rowset(eng2.log("t")) == before
    # pruning index carried: a hot-offset fetch still opens no cold file
    assert eng2._pruned_archived("t", partition=0, min_offset=15) == []


def test_consumer_group_reads_across_archival(spark, tmp_path):
    """A consumer group draining a topic whose older half archives
    mid-consumption: committed-offset resume lands in the COLD tier and
    the member keeps reading seamlessly (remote_partition read routing
    under the consumer-group path)."""
    from redpanda_spark.consumer import Consumer
    from redpanda_spark.operators.coordinator import GroupManager

    eng = _build(spark, str(tmp_path / "r"))
    mgr = GroupManager({"t": 2}, engine=eng)
    c = Consumer(eng, mgr, "g", ["t"])
    c.subscribe()
    # consume a prefix, commit, then archive the old half
    got = []
    for rows in c.poll(max_records_per_partition=5).values():
        got += [bytes(r["value"]) for r in rows]
    c.commit()
    eng.run_archival("t", now_ms=_ms(BASE + dt.timedelta(hours=2)))
    # resume: positions (< archival boundary) now point into the cold tier
    for _ in range(10):
        batches = c.poll(max_records_per_partition=10)
        n = sum(len(v) for v in batches.values())
        if n == 0:
            break
        for rows in batches.values():
            got += [bytes(r["value"]) for r in rows]
    expect = {f"{b}:{i}".encode() for b in range(4) for i in range(10)}
    assert set(got) == expect and len(got) == 40


def test_cold_read_cache(spark, tmp_path):
    """cloud_storage/cache_service analog: first tiered read copies the
    (pruned) cold segments to local disk, the second serves from the
    cache; LRU eviction respects the byte budget; values identical
    throughout."""
    eng = _build(spark, str(tmp_path / "r"))
    eng.run_archival("t", now_ms=_ms(BASE + dt.timedelta(hours=3)))  # 3 cold
    before = _rowset(eng.log("t"))
    eng.enable_cold_cache(max_bytes=64 << 20)
    assert _rowset(eng.log("t")) == before
    cached = list(eng._cold_lru)
    assert len(cached) == 3
    paths = [os.path.join(eng._cold_cache_dir, r) for r in cached]
    mtimes = [os.path.getmtime(p) for p in paths]
    # second read: cache hit — files untouched, same rows
    assert _rowset(eng.log("t")) == before
    assert [os.path.getmtime(p) for p in paths] == mtimes
    # a pruned fetch (hot offsets only) copies nothing new
    eng.fetch("t", 0, offset=15).collect()
    assert len(eng._cold_lru) == 3
    # shrink the budget below one segment: unpinned eviction clears it
    eng.cold_cache_bytes = 1
    eng._evict_cold()
    assert len(eng._cold_lru) == 0
    # reads still correct after eviction (re-copied on demand; the scan's
    # own working set is pinned, so it may transiently exceed the budget)
    assert _rowset(eng.log("t")) == before


def test_cold_cache_adopted_on_restart(spark, tmp_path):
    root = str(tmp_path / "r")
    eng = _build(spark, root)
    eng.run_archival("t", now_ms=_ms(BASE + dt.timedelta(hours=3)))
    eng.enable_cold_cache(max_bytes=64 << 20)
    n0 = eng.log("t").count()
    eng2 = TopicEngine(spark, root)
    eng2.enable_cold_cache(max_bytes=64 << 20)
    # the prior process's cache files were adopted, not re-copied
    assert set(eng2._cold_lru) == set(eng._cold_lru)
    assert eng2.log("t").count() == n0


def test_datalake_export_spans_tiers(spark, tmp_path):
    """Batch datalake export of a tiered topic includes archived rows —
    the sink reads engine.log, which spans tiers (the reference's
    datalake translator consumes the full partition, remote segments
    included)."""
    import json as _json

    from redpanda_spark.sources.datalake import export_topic

    eng = TopicEngine(spark, str(tmp_path / "r"))
    eng.create_topic(
        "t",
        TopicConfig(partitions=1, remote_write=True, local_retention_ms=1000),
    )
    for b in range(2):
        eng.produce(
            "t",
            [
                {
                    "value": _json.dumps({"batch": b, "i": i}).encode(),
                    "timestamp": BASE + dt.timedelta(hours=b, seconds=i),
                }
                for i in range(10)
            ],
        )
    eng.run_archival("t", now_ms=_ms(BASE + dt.timedelta(hours=1)))
    assert eng.topic_stats("t")["archived_segments"] == 1
    out = str(tmp_path / "lake")
    export_topic(
        eng,
        "t",
        out,
        json_schema="batch long, i long",
        wire_framed=False,
    )
    from redpanda_spark.sources.datalake import read_datalake

    lake = read_datalake(spark, out)
    assert lake.count() == 20
    # cold-tier rows (batch 0) made it into the sink
    assert lake.where("batch = 0").count() == 10


def test_remote_read_replica(spark, tmp_path):
    """Remote Read Replica: a SECOND engine (different root) serves the
    topic straight from the source's archive bucket — fetch/timequery
    over whatever the source has uploaded, refresh picks up later
    uploads, every mutation refused."""
    from redpanda_spark.engine import ProduceError

    src_root = str(tmp_path / "source")
    bucket = str(tmp_path / "bucket")  # the shared object store
    src = TopicEngine(spark, src_root, archive_root=bucket)
    src.create_topic(
        "t",
        TopicConfig(partitions=2, remote_write=True, local_retention_ms=1000),
    )
    for b in range(3):
        src.produce(
            "t",
            [
                {
                    "partition": i % 2,
                    "value": f"{b}:{i}".encode(),
                    "timestamp": BASE + dt.timedelta(hours=b, seconds=i),
                }
                for i in range(10)
            ],
        )
    src.run_archival("t", now_ms=_ms(BASE + dt.timedelta(hours=1)))  # batch 0

    replica = TopicEngine(spark, str(tmp_path / "replica"), archive_root=bucket)
    info = replica.attach_read_replica("t")
    assert info["segments"] == 1
    assert replica.high_watermarks("t") == {0: 5, 1: 5}
    vals = {bytes(r["value"]) for r in replica.log("t").collect()}
    assert vals == {f"0:{i}".encode() for i in range(10)}
    # replica sees the source's NEXT upload after refresh
    src.run_archival("t", now_ms=_ms(BASE + dt.timedelta(hours=2)))  # batch 1
    assert replica.refresh_read_replica("t")["added"] == 1
    assert replica.log("t").count() == 20
    assert replica.fetch("t", 0, offset=0).count() == 10
    tq = {
        r["partition"]: r["offset"]
        for r in replica.timequery("t", BASE + dt.timedelta(minutes=30)).collect()
    }
    assert tq == {0: 5, 1: 5}
    # read-only: every mutation path refuses
    with pytest.raises(ProduceError, match="read replica"):
        replica.produce("t", [{"value": b"x"}])
    with pytest.raises(ProduceError, match="read replica"):
        replica.delete_records("t", {0: 1})
    with pytest.raises(ProduceError, match="read replica"):
        replica.run_retention("t")
    with pytest.raises(ValueError, match="not a read replica"):
        src.create_topic("plain", TopicConfig(partitions=1)) or None
        src.refresh_read_replica("plain")
    # replica state survives ITS OWN reopen (manifest persisted)
    re2 = TopicEngine(spark, str(tmp_path / "replica"), archive_root=bucket)
    assert re2.log("t").count() == 20


def test_disaster_recovery_from_archive(spark, tmp_path):
    """Total hot-cluster loss: rebuild the topic from the bucket, then
    keep producing — offsets continue past the recovered watermark and
    reads span recovered (cold) + new (hot) data."""
    bucket = str(tmp_path / "bucket")
    src = TopicEngine(spark, str(tmp_path / "old_cluster"), archive_root=bucket)
    src.create_topic(
        "t",
        TopicConfig(partitions=2, remote_write=True, local_retention_ms=1000),
    )
    for b in range(2):
        src.produce(
            "t",
            [
                {
                    "partition": i % 2,
                    "value": f"{b}:{i}".encode(),
                    "timestamp": BASE + dt.timedelta(hours=b, seconds=i),
                }
                for i in range(10)
            ],
        )
    src.run_archival("t", now_ms=_ms(BASE + dt.timedelta(hours=2)))

    fresh = TopicEngine(spark, str(tmp_path / "new_cluster"), archive_root=bucket)
    info = fresh.recover_topic_from_archive(
        "t",
        config=TopicConfig(
            partitions=2, remote_write=True, local_retention_ms=1000
        ),
    )
    assert info["high_watermarks"] == {0: 10, 1: 10}
    assert fresh.log("t").count() == 20
    # offsets continue without a gap
    bases = fresh.produce(
        "t", [{"partition": 0, "value": b"post-recovery"}]
    )
    assert bases == {0: 10}
    rows = fresh.fetch("t", 0, offset=0).orderBy("offset").collect()
    assert len(rows) == 11 and bytes(rows[-1]["value"]) == b"post-recovery"
    # the recovered topic archives ONWARD with non-colliding epochs
    res = fresh.run_archival("t", now_ms=int(
        (rows[-1]["timestamp"].timestamp() + 120) * 1000
    ))
    assert res["archived"] == 1
    assert fresh.log("t").count() == 21


def _archive_bytes(eng, topic):
    ad = eng._archive_dir(topic)
    return {
        name: open(os.path.join(ad, name), "rb").read()
        for name in os.listdir(ad)
        if name.endswith(".parquet")
    }


def test_disaster_recovery_crash_before_manifest_keeps_archive(
    spark, tmp_path, monkeypatch
):
    """A recovery that dies at its manifest write must leave the bucket
    intact: the archive it read from is the only copy left, so the
    reopen GC may not treat it as orphans, and a retry recovers it."""
    bucket = str(tmp_path / "bucket")
    cfg = TopicConfig(partitions=2, remote_write=True, local_retention_ms=1000)
    src = TopicEngine(spark, str(tmp_path / "old_cluster"), archive_root=bucket)
    src.create_topic("t", cfg)
    for b in range(2):
        src.produce(
            "t",
            [
                {
                    "partition": i % 2,
                    "value": f"{b}:{i}".encode(),
                    "timestamp": BASE + dt.timedelta(hours=b, seconds=i),
                }
                for i in range(10)
            ],
        )
    src.run_archival("t", now_ms=_ms(BASE + dt.timedelta(hours=2)))
    archived = _archive_bytes(src, "t")
    assert len(archived) == 2

    new_root = str(tmp_path / "new_cluster")
    fresh = TopicEngine(spark, new_root, archive_root=bucket)

    def _fail(topic):
        raise OSError("manifest write failed")

    monkeypatch.setattr(fresh, "_write_manifest_locked", _fail)
    with pytest.raises(OSError, match="manifest write failed"):
        fresh.recover_topic_from_archive("t", config=cfg)

    reopened = TopicEngine(spark, new_root, archive_root=bucket)
    assert _archive_bytes(reopened, "t") == archived
    info = reopened.recover_topic_from_archive("t", config=cfg)
    assert info["high_watermarks"] == {0: 10, 1: 10}
    assert reopened.log("t").count() == 20


def test_lost_manifest_keeps_archive_and_archives_past_it(spark, tmp_path):
    """A tiered topic whose manifest is lost reopens empty, but its cold
    segments are not GC'd, and later archival writes new names instead
    of overwriting them."""
    root = str(tmp_path / "r")
    eng = _build(spark, root)
    eng.run_archival("t", now_ms=_ms(BASE + dt.timedelta(hours=2)))
    archived = _archive_bytes(eng, "t")
    assert len(archived) == 2
    os.remove(os.path.join(root, "_manifest_t.json"))

    eng2 = TopicEngine(spark, root)
    assert eng2.high_watermarks("t") == {0: 0, 1: 0}
    assert not [f for f in os.listdir(eng2._topic_dir("t")) if f.endswith(".parquet")]
    assert _archive_bytes(eng2, "t") == archived
    eng2.produce("t", [{"partition": 0, "value": b"new", "timestamp": BASE}])
    res = eng2.run_archival("t", now_ms=_ms(BASE + dt.timedelta(hours=2)))
    assert res["archived"] == 1
    after = _archive_bytes(eng2, "t")
    assert len(after) == 3
    assert {n: after[n] for n in archived} == archived
    assert [bytes(r["value"]) for r in eng2.log("t").collect()] == [b"new"]


def test_tiered_on_uri_roots(spark, tmp_path):
    """Object-store code path: hot root AND archive root as file:// URIs
    route every archival operation (byte copy, listings, manifest
    commits, GC) through the Hadoop FileSystem API — the same branch an
    s3a:// cold tier takes on a real cluster."""
    root = "file://" + str(tmp_path / "hot")
    bucket = "file://" + str(tmp_path / "bucket")
    eng = TopicEngine(spark, root, archive_root=bucket)
    eng.create_topic(
        "t",
        TopicConfig(partitions=2, remote_write=True, local_retention_ms=1000),
    )
    for b in range(3):
        eng.produce(
            "t",
            [
                {
                    "partition": i % 2,
                    "value": f"{b}:{i}".encode(),
                    "timestamp": BASE + dt.timedelta(hours=b, seconds=i),
                }
                for i in range(10)
            ],
        )
    before = _rowset(eng.log("t"))
    res = eng.run_archival("t", now_ms=_ms(BASE + dt.timedelta(hours=2)))
    assert res["archived"] == 2
    assert _rowset(eng.log("t")) == before
    # physical layout landed under the URI bucket
    assert os.path.isdir(str(tmp_path / "bucket" / "t"))
    # (Hadoop's local FS adds .crc sidecars — count segments only)
    segs = [
        f
        for f in os.listdir(str(tmp_path / "bucket" / "t"))
        if f.endswith(".parquet")
    ]
    assert len(segs) == 2
    # cloud retention (segment fast path) over the URI tier
    cfg = eng._require("t")
    cfg.retention_ms = 100_000
    eng.run_retention("t", now_ms=_ms(BASE + dt.timedelta(hours=1)) + 100_000)
    assert eng.log("t").count() == 20
    # reopen through the URI roots
    eng2 = TopicEngine(spark, root, archive_root=bucket)
    assert eng2.log("t").count() == 20
    assert eng2.topic_stats("t")["archived_segments"] == 1


def test_streaming_ingest_with_archival_ticks(spark, tmp_path):
    """Streaming x tiered: a foreachBatch pipeline consumes an upstream
    topic and produces onto a TIERED downstream topic, with an archival
    tick after every micro-batch (the maintenance loop interleaving live
    ingest). The downstream full log equals the upstream input, spanning
    however many segments each tick moved cold."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    up = TopicEngine(spark, str(tmp_path / "up"))
    up.create_topic("src", TopicConfig(partitions=1))
    down = TopicEngine(spark, str(tmp_path / "down"))
    down.create_topic(
        "sink",
        TopicConfig(partitions=1, remote_write=True, local_retention_ms=0),
    )
    for b in range(3):
        up.produce(
            "src",
            spark.createDataFrame(
                [
                    Row(partition=0, key=None, value=f"{b}:{i}".encode())
                    for i in range(5)
                ],
                "partition int, key binary, value binary",
            ),
        )

    def fold(batch_df, batch_id):
        rows = batch_df.select("value").collect()
        if rows:
            down.produce(
                "sink", [{"value": bytes(r["value"])} for r in rows]
            )
            # the maintenance tick: everything aged moves cold
            down.run_archival(
                "sink", now_ms=int(__import__("time").time() * 1000) + 60_000
            )

    q = (
        up.log_stream("src", max_files_per_trigger=1)
        .writeStream.foreachBatch(fold)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    st = down.topic_stats("sink")
    assert st["archived_segments"] >= 2 and st["segments"] == 0
    vals = {bytes(r["value"]) for r in down.log("sink").collect()}
    assert vals == {f"{b}:{i}".encode() for b in range(3) for i in range(5)}
    # consumer-visible watermarks survived the tier moves
    assert down.high_watermarks("sink") == {0: 15}


def test_read_committed_across_tiers(spark, tmp_path):
    """Transactions x tiered: an ABORTED transaction's rows stay hidden
    from read_committed consumers after their segments move to the cold
    tier (the LSO/aborted-range filters run over the tier-spanning
    scan)."""
    from redpanda_spark.operators.txcoord import TxCoordinator

    eng = TopicEngine(spark, str(tmp_path / "r"))
    eng.create_topic(
        "t",
        TopicConfig(partitions=1, remote_write=True, local_retention_ms=0),
    )
    tc = TxCoordinator(eng)
    tc.init_producer_id("tx1")
    tc.produce("tx1", "t", [{"value": b"aborted-1"}, {"value": b"aborted-2"}])
    tc.abort("tx1")
    tc.init_producer_id("tx2")
    tc.produce("tx2", "t", [{"value": b"committed-1"}])
    tc.commit("tx2")
    # move EVERYTHING cold
    import time as _time

    eng.run_archival("t", now_ms=int(_time.time() * 1000) + 60_000)
    assert eng.topic_stats("t")["segments"] == 0
    rc = eng.fetch("t", 0, offset=0, isolation="read_committed").collect()
    vals = {bytes(r["value"]) for r in rc if r["value"] is not None}
    assert b"committed-1" in vals
    assert not any(v.startswith(b"aborted") for v in vals)
    # read_uncommitted still sees the aborted payloads (they exist in the log)
    ru = eng.fetch("t", 0, offset=0).collect()
    uvals = {bytes(r["value"]) for r in ru if r["value"] is not None}
    assert b"aborted-1" in uvals


def test_consumer_group_over_read_replica(spark, tmp_path):
    """The read-replica use case end to end: a consumer group on the
    REPLICA cluster drains whatever the source has uploaded, commits
    offsets in the replica's own root, and picks up refreshed uploads."""
    from redpanda_spark.consumer import Consumer
    from redpanda_spark.operators.coordinator import GroupManager

    bucket = str(tmp_path / "bucket")
    src = TopicEngine(spark, str(tmp_path / "src"), archive_root=bucket)
    src.create_topic(
        "t",
        TopicConfig(partitions=2, remote_write=True, local_retention_ms=1000),
    )
    for b in range(2):
        src.produce(
            "t",
            [
                {
                    "partition": i % 2,
                    "value": f"{b}:{i}".encode(),
                    "timestamp": BASE + dt.timedelta(hours=b, seconds=i),
                }
                for i in range(10)
            ],
        )
    src.run_archival("t", now_ms=_ms(BASE + dt.timedelta(hours=1)))

    rep = TopicEngine(spark, str(tmp_path / "rep"), archive_root=bucket)
    rep.attach_read_replica("t")
    mgr = GroupManager({"t": 2}, engine=rep)
    c = Consumer(rep, mgr, "g", ["t"])
    c.subscribe()
    got = []
    for rows in c.poll().values():
        got += [bytes(r["value"]) for r in rows]
    assert set(got) == {f"0:{i}".encode() for i in range(10)}
    c.commit()
    # source uploads more; replica refreshes; the group resumes from its
    # committed positions and reads only the NEW rows
    src.run_archival("t", now_ms=_ms(BASE + dt.timedelta(hours=2)))
    rep.refresh_read_replica("t")
    more = []
    for rows in c.poll().values():
        more += [bytes(r["value"]) for r in rows]
    assert set(more) == {f"1:{i}".encode() for i in range(10)}


def test_replica_reopen_and_drop_never_touch_source_bucket(spark, tmp_path):
    """r9 regression (ADVICE high/medium): the replica's archive_root is
    the SOURCE cluster's bucket. (a) Reopening the replica engine after
    the source archived NEW segments (not yet in the replica manifest)
    must NOT GC them as orphans — they are the source's live data.
    (b) Dropping the replica topic must drop local metadata only, never
    the bucket's archive dir."""
    src_root = str(tmp_path / "source")
    bucket = str(tmp_path / "bucket")
    src = TopicEngine(spark, src_root, archive_root=bucket)
    src.create_topic(
        "t",
        TopicConfig(partitions=1, remote_write=True, local_retention_ms=1000),
    )
    for b in range(2):
        src.produce(
            "t",
            [
                {
                    "partition": 0,
                    "value": f"{b}:{i}".encode(),
                    "timestamp": BASE + dt.timedelta(hours=b, seconds=i),
                }
                for i in range(5)
            ],
        )
    src.run_archival("t", now_ms=_ms(BASE + dt.timedelta(hours=1)))  # batch 0
    rep_root = str(tmp_path / "replica")
    rep = TopicEngine(spark, rep_root, archive_root=bucket)
    rep.attach_read_replica("t")
    assert rep.log("t").count() == 5
    # source uploads MORE after the replica's last refresh...
    src.run_archival("t", now_ms=_ms(BASE + dt.timedelta(hours=2)))  # batch 1
    n_bucket = len(src._afsio.list_segments(src._archive_dir("t")))
    assert n_bucket == 2
    # ...then the replica engine reopens: the unrefreshed segment must
    # survive the open-time orphan GC
    rep2 = TopicEngine(spark, rep_root, archive_root=bucket)
    assert len(src._afsio.list_segments(src._archive_dir("t"))) == n_bucket
    assert rep2.refresh_read_replica("t")["added"] == 1
    assert rep2.log("t").count() == 10
    # the source still serves all of it
    assert src.log("t").count() == 10
    # dropping the replica topic leaves the bucket untouched
    rep2.delete_topic("t")
    assert len(src._afsio.list_segments(src._archive_dir("t"))) == n_bucket
    assert src.log("t").count() == 10
    # a re-attach after the drop works off the intact bucket
    rep3 = TopicEngine(spark, str(tmp_path / "replica2"), archive_root=bucket)
    rep3.attach_read_replica("t")
    assert rep3.log("t").count() == 10


def test_cmd_maintain_sweeps_past_read_replicas(spark, tmp_path, capsys):
    """r9 regression (self-review): the nightly sweep must not abort when
    the topic list contains a read replica (cleanup on a replica raises
    ProduceError, which the archival-only ValueError guard never caught);
    topics sorting AFTER the replica must still be maintained, and the
    replica must be reported as skipped, its bucket untouched."""
    import json as _json

    from redpanda_spark.cli import main

    src_root = str(tmp_path / "source")
    bucket = str(tmp_path / "bucket")
    src = TopicEngine(spark, src_root, archive_root=bucket)
    src.create_topic(
        "a_src",
        TopicConfig(partitions=1, remote_write=True, local_retention_ms=1000),
    )
    src.produce(
        "a_src",
        [{"partition": 0, "value": b"x", "timestamp": BASE}],
    )
    src.run_archival("a_src", now_ms=_ms(BASE + dt.timedelta(hours=1)))
    n_bucket = len(src._afsio.list_segments(src._archive_dir("a_src")))

    rep_root = str(tmp_path / "replica")
    rep = TopicEngine(spark, rep_root, archive_root=bucket)
    rep.attach_read_replica("a_src")
    # a normal topic that sorts AFTER the replica in the sweep order
    rep.create_topic("z_local", TopicConfig(partitions=1))
    rep.produce("z_local", [{"partition": 0, "value": b"y", "timestamp": BASE}])
    capsys.readouterr()
    assert (
        main(["--root", rep_root, "--archive-root", bucket,
              "maintenance", "run"]) == 0
    )
    lines = [
        _json.loads(ln) for ln in capsys.readouterr().out.strip().splitlines()
    ]
    by_topic = {d["topic"]: d for d in lines if "topic" in d}
    assert by_topic["a_src"] == {"topic": "a_src", "skipped": "read replica"}
    assert by_topic["z_local"]["rows"]["after"] == 1  # swept past the replica
    # the replica sweep never touched the source bucket
    assert len(src._afsio.list_segments(src._archive_dir("a_src"))) == n_bucket


def test_cmd_maintain_cold_merge_failure_keeps_archival_result(
    spark, tmp_path, capsys, monkeypatch
):
    """r9 regression (self-review): when archival succeeds but the
    follow-on cold merge raises, the report must keep the real archival
    result (segments DID move) and mark only cold_merge as skipped."""
    import json as _json

    from redpanda_spark import cli as _cli
    from redpanda_spark.cli import main

    root = str(tmp_path / "r")
    eng = TopicEngine(spark, root)
    eng.create_topic(
        "t",
        TopicConfig(partitions=1, remote_write=True, local_retention_ms=1000),
    )
    eng.produce("t", [{"partition": 0, "value": b"x", "timestamp": BASE}])

    real_engine = _cli._engine

    def patched_engine(args):
        e = real_engine(args)

        def boom(topic):
            raise ValueError("injected cold-merge failure")

        e.optimize_archive_segments = boom
        return e

    monkeypatch.setattr(_cli, "_engine", patched_engine)
    capsys.readouterr()
    assert main(["--root", root, "maintenance", "run", "-t", "t"]) == 0
    rec = _json.loads(capsys.readouterr().out.strip().splitlines()[0])
    assert rec["archival"]["archived"] == 1  # not clobbered by the failure
    assert rec["cold_merge"] == {"skipped": "injected cold-merge failure"}
    assert rec["archived_segments"] == 1


def test_crash_after_retention_spill_reclaimed_on_reopen(spark, tmp_path, monkeypatch):
    """r9 regression: the tiered size-retention fallback spills surviving
    rows to '<topic>.retain.tmp' before the tier swaps. A crash after the
    spill but before the rewrites must (a) leave the committed snapshot
    fully intact and (b) have the orphaned spill dir reclaimed by the
    reopen-time GC — same recovery contract as '.rewrite.tmp'."""
    root = str(tmp_path / "r")
    eng = _build(spark, root)
    eng.run_archival("t", now_ms=_ms(BASE + dt.timedelta(hours=2)))
    before = {bytes(r["value"]) for r in eng.log("t").collect()}
    cfg = eng._require("t")
    cfg.retention_bytes = 250

    spill_dir = eng._topic_dir("t") + ".retain.tmp"
    real_rewrite = eng._rewrite

    def crash(topic, df, n_files=None):
        raise RuntimeError("injected crash after spill, before tier swap")

    monkeypatch.setattr(eng, "_rewrite", crash)
    try:
        eng.run_retention("t")
    except RuntimeError:
        pass
    monkeypatch.setattr(eng, "_rewrite", real_rewrite)
    # spill cleaned by the in-process finally; recreate the crash residue
    # a hard process death would leave, then reopen
    os.makedirs(spill_dir, exist_ok=True)
    with open(os.path.join(spill_dir, "part-0.parquet"), "wb") as f:
        f.write(b"residue")
    eng2 = TopicEngine(spark, root)
    assert not os.path.exists(spill_dir)  # reopen GC reclaimed it
    # the committed snapshot never moved: full log intact
    assert {bytes(r["value"]) for r in eng2.log("t").collect()} == before
    # and retention still completes cleanly afterwards
    eng2._require("t").retention_bytes = 250
    eng2.run_retention("t")
    assert 0 < eng2.log("t").count() < 40
