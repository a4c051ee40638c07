"""Randomized produce/consume verifier — the kgo-verifier analog.

The reference validates its broker with verifier services that produce
records whose payloads embed their own identity and checksum, then
consume everything back asserting offset/content invariants
(`tests/rptest/services/kgo_verifier_services.py`; the Go workers track
valid_reads / invalid_reads and per-partition ordering). This module is
that discipline re-expressed Spark-first: every check is a DataFrame
aggregation over the log — distributed, no data ever collected to the
driver, only violation COUNTS — so the same verifier runs unchanged over
a 100 TB topic.

Payload wire format (self-describing, like kgo-verifier's):

    value = seq (8B big-endian) || crc32(key || seq_bytes) (4B BE) || filler

Invariants checked (verify_log_invariants):
  contiguity   per partition: offsets are a dense [start, hwm) range —
               no gaps, no duplicates (the reference's contiguous-offset
               guarantee, `storage/disk_log_appender.cc`)
  hwm          stored high watermarks equal max(offset)+1 per partition
               (>= once maintenance may have removed the log tail —
               e.g. compaction dropping an aborted-tx row at max offset;
               watermarks never move backwards)
  ordering     within a partition, produce order (embedded seq) is
               monotone in offset — append never reorders
  routing      each keyed record lives on murmur2(key) % n_parts — the
               byte-compat Kafka partitioner actually routed it
  integrity    embedded crc32 matches a JVM-side recompute over
               (key || seq) — payload corruption is detected in place

After-maintenance checks:
  verify_compaction   keep-latest validity — for every surviving key the
                      value is the max-offset pre-compaction value, and
                      no key vanished that had a live (non-tombstone) tail
  verify_truncation   every surviving offset >= the requested log start

run_workload drives a seeded random interleave of produce / compact /
retention / truncate / segment-merge ops and verifies after every step —
the randomized e2e loop of SURVEY.md §5 item 6.
"""

from __future__ import annotations

import random
import struct
import zlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def encode_value(key: bytes, seq: int, filler: int = 16) -> bytes:
    """Self-describing record payload: seq + crc over (key||seq) + filler."""
    seq_b = struct.pack(">q", seq)
    crc = zlib.crc32(key + seq_b) & 0xFFFFFFFF
    return seq_b + struct.pack(">I", crc) + b"\x5a" * filler


def _embedded_seq():
    # 8-byte big-endian signed seq at value[0:8]; conv() parses the hex
    return F.conv(F.hex(F.substring("value", 1, 8)), 16, 10).cast("long")


def _embedded_crc():
    return F.conv(F.hex(F.substring("value", 9, 4)), 16, 10).cast("long")


def verify_log_invariants(
    engine, topic: str, expected_rows: int | None = None, dense: bool = True
) -> dict:
    """All-JVM invariant sweep over one topic's log. Returns violation
    counts (all zero == pass) plus totals. One cached scan, five
    aggregation jobs.

    ``dense=False`` drops the no-gaps / starts-at-log-start checks:
    compaction and prefix truncation leave offset holes BY DESIGN, so
    after the first maintenance op only duplicates, hwm agreement,
    ordering, routing and integrity remain invariant."""
    from redpanda_spark.functions.hashes import murmur2_partition_udf

    n_parts = engine.list_topics()[topic].partitions
    log = engine.log(topic).persist()
    try:
        starts = engine._log_starts(topic)

        # contiguity + hwm per partition
        per_part = (
            log.groupBy("partition")
            .agg(
                F.count("*").alias("n"),
                F.countDistinct("offset").alias("n_distinct"),
                F.min("offset").alias("min_o"),
                F.max("offset").alias("max_o"),
            )
            .collect()
        )
        hwm = engine.high_watermarks(topic)
        gaps = dups = hwm_bad = 0
        total = 0
        for r in per_part:
            total += r["n"]
            if r["n_distinct"] != r["n"]:
                dups += 1
            if dense and r["max_o"] - r["min_o"] + 1 != r["n_distinct"]:
                gaps += 1
            if dense and r["min_o"] != starts.get(r["partition"], 0):
                gaps += 1
            h = hwm.get(r["partition"], 0)
            # strict equality only while the log is dense: compaction may
            # legally remove the tail record (an aborted-tx row is dropped
            # even at max offset), after which the stored HWM stays AHEAD
            # of max(offset)+1 — watermarks never move backwards
            if (h != r["max_o"] + 1) if dense else (h < r["max_o"] + 1):
                hwm_bad += 1

        # ordering: embedded seq monotone in offset within a partition.
        # Window shuffles once on partition — verifier jobs may.
        from pyspark.sql.window import Window

        w = Window.partitionBy("partition").orderBy("offset")
        disorder = (
            log.withColumn("_seq", _embedded_seq())
            .withColumn("_prev", F.lag("_seq").over(w))
            .where(F.col("_prev").isNotNull() & (F.col("_seq") <= F.col("_prev")))
            .count()
        )

        # routing: keyed records live on murmur2(key) % n_parts
        misrouted = (
            log.where(F.col("key").isNotNull())
            .where(murmur2_partition_udf(n_parts)(F.col("key")) != F.col("partition"))
            .count()
        )

        # integrity: stored crc == crc32(key || seq_bytes), all JVM-side
        corrupt = (
            log.where(F.col("value").isNotNull())
            .where(
                F.crc32(F.concat(F.coalesce(F.col("key"), F.lit(b"")), F.substring("value", 1, 8)))
                != _embedded_crc()
            )
            .count()
        )

        out = {
            "rows": total,
            "partitions_with_gaps": gaps,
            "partitions_with_dups": dups,
            "hwm_mismatches": hwm_bad,
            "disordered": disorder,
            "misrouted": misrouted,
            "corrupt": corrupt,
        }
        if expected_rows is not None:
            out["missing"] = expected_rows - total
        out["ok"] = (
            gaps == dups == hwm_bad == disorder == misrouted == corrupt == 0
            and out.get("missing", 0) == 0
        )
        return out
    finally:
        log.unpersist()


def verify_compaction(before: DataFrame, after: DataFrame) -> dict:
    """Keep-latest validity: after compaction, every surviving (partition,
    key) carries the value of its max-offset pre-compaction record, and
    every key whose latest pre-compaction record was live (non-tombstone)
    still exists. ``before`` must be the log snapshot taken BEFORE
    run_compaction. Join is on (partition, key) — the same shuffle shape
    compaction itself uses."""
    latest = (
        before.where(F.col("key").isNotNull())
        .groupBy("partition", "key")
        .agg(F.max_by(F.struct("offset", "value"), "offset").alias("s"))
        .select(
            "partition",
            "key",
            F.col("s.offset").alias("exp_offset"),
            F.col("s.value").alias("exp_value"),
        )
    )
    surv = after.where(F.col("key").isNotNull()).select(
        "partition", "key", "offset", "value"
    )
    j = latest.join(surv, ["partition", "key"], "left").persist()
    try:
        # a key may legitimately disappear only if its latest value was a
        # tombstone (grace elapsed); anything else missing is a violation
        missing_live = j.where(
            F.col("offset").isNull() & F.col("exp_value").isNotNull()
        ).count()
        wrong_value = j.where(
            F.col("offset").isNotNull()
            & (
                (F.col("offset") != F.col("exp_offset"))
                | ~(
                    F.col("value").eqNullSafe(F.col("exp_value"))
                )
            )
        ).count()
        extra = (
            surv.groupBy("partition", "key").count().where(F.col("count") > 1).count()
        )
        return {
            "missing_live_keys": missing_live,
            "wrong_survivor": wrong_value,
            "dup_keys": extra,
            "ok": missing_live == wrong_value == extra == 0,
        }
    finally:
        j.unpersist()


def verify_truncation(engine, topic: str) -> dict:
    """Every surviving offset respects the requested log starts."""
    starts = engine._log_starts(topic)
    if not starts:
        return {"below_start": 0, "ok": True}
    pairs = ", ".join(f"{p}, {o}L" for p, o in sorted(starts.items()))
    below = (
        engine.log(topic)
        .where(
            F.col("offset")
            < F.coalesce(F.expr(f"try_element_at(map({pairs}), partition)"), F.lit(0))
        )
        .count()
    )
    return {"below_start": below, "ok": below == 0}


def run_workload(
    spark: SparkSession,
    root: str,
    seed: int = 0,
    n_ops: int = 12,
    rows_per_batch: int = 400,
    partitions: int = 8,
    key_space: int = 120,
) -> list[dict]:
    """Seeded random produce/maintenance interleave with verification
    after every step — the kgo-verifier + chaos loop in one driver.

    Returns the per-step verification reports (every report["ok"] must be
    True). Uses a small key space so compaction actually collapses rows.
    """
    from redpanda_spark.engine import TopicConfig, TopicEngine

    rng = random.Random(seed)
    engine = TopicEngine(spark, root)
    topic = f"verify_{seed}"
    engine.create_topic(
        topic,
        TopicConfig(partitions=partitions, cleanup_policy="compact"),
    )
    reports: list[dict] = []
    seq = 0
    idem_seq = 0  # idempotent producer's sequence counter (pid 42)
    dense = True  # flips False at the first op that legally makes holes

    def _produce() -> dict:
        nonlocal seq
        rows = []
        for _ in range(rows_per_batch):
            key = f"k{rng.randrange(key_space)}".encode()
            rows.append((key, encode_value(key, seq)))
            seq += 1
        batch = spark.createDataFrame(rows, "key binary, value binary")
        engine.produce(topic, batch)
        return {"op": "produce"} | verify_log_invariants(engine, topic, dense=dense)

    def _compact() -> dict:
        nonlocal dense
        # persist (memory+disk) pins the pre-compaction snapshot: the
        # rewrite deletes the files this frame was planned over.
        # Aborted-tx rows are excluded from the expectation the same way
        # compaction's tx_reducer drops them first — an aborted write
        # must never be expected to win keep-latest.
        before = engine.log(topic)
        ranges = engine.tx_ranges().where(F.col("topic") == topic)
        aborted = ranges.where(F.col("outcome") == "aborted").select(
            F.col("partition").alias("a_partition"),
            F.col("producer_id").alias("a_pid"),
            "first_offset",
            "last_offset",
        )
        cond = (
            (F.col("partition") == F.col("a_partition"))
            & (F.col("producer_id") == F.col("a_pid"))
            & F.col("offset").between(
                F.col("first_offset"), F.col("last_offset")
            )
            & F.col("is_transactional")
        )
        before = before.join(F.broadcast(aborted), cond, "left_anti").persist()
        before.count()
        engine.run_compaction(topic)
        dense = False
        out = {"op": "compact"} | verify_compaction(before, engine.log(topic))
        before.unpersist()
        inv = verify_log_invariants(engine, topic, dense=False)
        out["invariants_ok"] = inv["ok"]
        out["ok"] = out["ok"] and inv["ok"]
        return out

    def _truncate() -> dict:
        nonlocal dense
        hwm = engine.high_watermarks(topic)
        if not hwm:
            return {"op": "truncate", "ok": True}
        p = rng.choice(sorted(hwm))
        engine.delete_records(topic, {p: rng.randrange(max(hwm[p], 1))})
        dense = False
        return {"op": "truncate"} | verify_truncation(engine, topic)

    def _merge() -> dict:
        # rows/offsets/watermarks must be untouched by the rewrite
        engine.optimize_segments(topic, target_file_bytes=1 << 20)
        return {"op": "merge"} | verify_log_invariants(engine, topic, dense=dense)

    def _produce_records() -> dict:
        """Record-list produce (the zero-job driver-side path): the SAME
        invariants must hold as for the DataFrame path, plus the hot-tail
        cache must match the durable log byte-for-byte."""
        nonlocal seq
        recs = []
        for _ in range(40):
            key = f"k{rng.randrange(key_space)}".encode()
            recs.append({"key": key, "value": encode_value(key, seq)})
            seq += 1
        engine.produce(topic, recs)
        out = {"op": "produce_records"} | verify_log_invariants(
            engine, topic, dense=dense
        )
        tail = verify_tail_consistency(engine, topic)
        out["tail_ok"] = tail["ok"]
        out["ok"] = out["ok"] and tail["ok"]
        return out

    def _produce_idem_with_retry() -> dict:
        """Idempotent produce + a client retry of the SAME batch: the
        broker's sequence window must drop the duplicate (rows advance by
        exactly the batch size), and all invariants still hold."""
        nonlocal idem_seq, seq
        n = 30
        rows = []
        for i in range(n):
            # explicit partition routing (Kafka allows it) with NULL keys:
            # the murmur2-routing invariant applies to keyed records only,
            # and real idempotent producers track sequences PER PARTITION —
            # one partition keeps the window gap-free. Payload seq rides
            # the GLOBAL produce-order counter (ordering invariant);
            # base_sequence rides the producer's own window.
            rows.append((0, None, encode_value(b"", seq), 42, 0, idem_seq + i))
            seq += 1
        batch = spark.createDataFrame(
            rows,
            "partition int, key binary, value binary, producer_id long,"
            " producer_epoch smallint, base_sequence int",
        )
        before = engine.log(topic).count()
        engine.produce(topic, batch)
        engine.produce(topic, batch)  # duplicate-ack retry: must no-op
        idem_seq += n
        after = engine.log(topic).count()
        out = {"op": "produce_idem", "rows_added": after - before}
        inv = verify_log_invariants(engine, topic, dense=dense)
        out["ok"] = (after - before == n) and inv["ok"]
        return out | {k: v for k, v in inv.items() if k != "ok"}

    def _tx_interleave() -> dict:
        """Transactional produce via the record-list (hot-tail) path with
        a random outcome, then pin the read_committed tail answer against
        the relational read_committed scan (verify_tail_consistency runs
        BOTH isolation twins) — the rc-visibility analog of the
        byte-for-byte tail invariant, under whatever compaction/
        truncation state the workload has built up."""
        nonlocal seq
        from redpanda_spark.operators.txcoord import TxCoordinator

        tc = TxCoordinator(engine)
        txid = f"wl_{seed}"
        if tc._txs.get(txid) is None:
            tc.init_producer_id(txid)
        recs = []
        for _ in range(20):
            key = f"k{rng.randrange(key_space)}".encode()
            recs.append({"key": key, "value": encode_value(key, seq)})
            seq += 1
        tc.produce(txid, topic, recs)
        outcome = rng.choice(["commit", "abort"])
        (tc.commit if outcome == "commit" else tc.abort)(txid)
        out = {"op": f"tx_{outcome}"} | verify_log_invariants(
            engine, topic, dense=dense
        )
        tail = verify_tail_consistency(engine, topic)
        out["tail_ok"] = tail["ok"]
        out["ok"] = out["ok"] and tail["ok"]
        return out

    ops = [_produce, _produce, _produce_records, _compact, _truncate,
           _merge, _produce_idem_with_retry, _tx_interleave]
    reports.append(_produce())  # always start with data
    for _ in range(n_ops - 1):
        reports.append(rng.choice(ops)())
    return reports


def verify_tail_consistency(engine, topic: str) -> dict:
    """Hot-tail cache ≡ durable log over the covered range: a
    ``fetch_rows`` the hot tail serves (the zero-job read path) must
    equal the relational scan row for row, at both isolation levels —
    read_committed applies the LSO bound, aborted filter and control drop
    in-process. The read-path twin of the contiguity invariant."""
    checked = mismatches = 0
    for p, (start, _recs) in sorted((engine._tail.get(topic) or {}).items()):
        checked += 1
        for isolation in ("read_uncommitted", "read_committed"):
            hits = engine.counters(topic).get("tail_cache_hits", 0)
            got = engine.fetch_rows(topic, p, offset=start, isolation=isolation)
            served = engine.counters(topic).get("tail_cache_hits", 0) > hits
            want = engine.fetch(
                topic, p, offset=start, isolation=isolation
            ).collect()
            want.sort(key=lambda r: r["offset"])
            if not served or got != want:
                mismatches += 1
    return {
        "tail_partitions_checked": checked,
        "tail_mismatches": mismatches,
        "ok": mismatches == 0,
    }


def verify_tier_move(before: DataFrame, after: DataFrame) -> dict:
    """Archival is a MOVEMENT, not a mutation: the full log must be
    byte-for-byte identical across the tier flip (the reference's
    upload+evict leaves the partition's reader view unchanged,
    `cloud_storage/remote_partition.cc`)."""

    def rowset(df):
        return sorted(
            (
                r["partition"],
                r["offset"],
                bytes(r["key"]) if r["key"] is not None else None,
                bytes(r["value"]) if r["value"] is not None else None,
            )
            for r in df.select("partition", "offset", "key", "value").collect()
        )

    b, a = rowset(before), rowset(after)
    return {"rows": len(a), "ok": b == a}


def run_workload_tiered(
    spark: SparkSession,
    root: str,
    seed: int = 0,
    n_ops: int = 12,
    rows_per_batch: int = 300,
    partitions: int = 4,
    key_space: int = 80,
) -> list[dict]:
    """The chaos loop for a TIERED (delete-policy) topic: random
    produce (both paths) / truncate / segment-merge / ARCHIVAL / cloud
    retention interleave, with the full invariant suite after every step
    — value thread, contiguity, watermarks — evaluated over the
    TIER-SPANNING read path, plus the byte-for-byte tier-move invariant
    and the hot-tail twins. Compaction is excluded by the same rule the
    engine enforces (archival is delete-policy only)."""
    from redpanda_spark.engine import TopicConfig, TopicEngine

    rng = random.Random(seed)
    engine = TopicEngine(spark, root)
    topic = f"tiered_{seed}"
    engine.create_topic(
        topic,
        TopicConfig(
            partitions=partitions,
            remote_write=True,
            local_retention_ms=0,
            retention_ms=3_600_000,
        ),
    )
    reports: list[dict] = []
    seq = 0
    dense = True
    # produce timestamps march forward from a fixed epoch so archival and
    # retention cutoffs are deterministic per seed
    import datetime as _dt

    t0 = _dt.datetime(2024, 1, 1, tzinfo=_dt.timezone.utc)
    clock_s = 0

    def _now_dt():
        return t0 + _dt.timedelta(seconds=clock_s)

    def _produce() -> dict:
        nonlocal seq, clock_s
        rows = []
        for _ in range(rows_per_batch):
            key = f"k{rng.randrange(key_space)}".encode()
            rows.append(
                {
                    "key": key,
                    "value": encode_value(key, seq),
                    "timestamp": _now_dt(),
                }
            )
            seq += 1
            clock_s += 1
        engine.produce(topic, rows)
        out = {"op": "produce"} | verify_log_invariants(
            engine, topic, dense=dense
        )
        tail = verify_tail_consistency(engine, topic)
        out["tail_ok"] = tail["ok"]
        out["ok"] = out["ok"] and tail["ok"]
        return out

    def _truncate() -> dict:
        nonlocal dense
        hwm = engine.high_watermarks(topic)
        if not hwm:
            return {"op": "truncate", "ok": True}
        p = rng.choice(sorted(hwm))
        engine.delete_records(topic, {p: rng.randrange(max(hwm[p], 1))})
        dense = False
        return {"op": "truncate"} | verify_truncation(engine, topic)

    def _merge() -> dict:
        engine.optimize_segments(topic, target_file_bytes=1 << 20)
        return {"op": "merge"} | verify_log_invariants(
            engine, topic, dense=dense
        )

    def _archive() -> dict:
        before = engine.log(topic).persist()
        before.count()
        res = engine.run_archival(
            topic, now_ms=int(_now_dt().timestamp() * 1000) + 1000
        )
        out = {"op": "archive", "moved": res["archived"]} | verify_tier_move(
            before, engine.log(topic)
        )
        before.unpersist()
        inv = verify_log_invariants(engine, topic, dense=dense)
        out["invariants_ok"] = inv["ok"]
        out["ok"] = out["ok"] and inv["ok"]
        return out

    def _cloud_retention() -> dict:
        nonlocal dense
        # cutoff a random distance into the produced clock range: the
        # expectation is the plain ts >= cutoff filter over the full log
        if clock_s < 10:
            return {"op": "retention", "ok": True}
        cut_s = rng.randrange(clock_s // 4 + 1)
        cutoff = t0 + _dt.timedelta(seconds=cut_s)
        cutoff_ms = int(cutoff.timestamp() * 1000)
        expect = (
            engine.log(topic)
            .where(F.col("timestamp") >= F.lit(cutoff))
            .persist()
        )
        expect.count()
        cfg = engine._require(topic)
        engine.run_retention(
            topic, now_ms=cutoff_ms + cfg.retention_ms
        )
        out = {"op": "retention", "cut_s": cut_s} | verify_tier_move(
            expect, engine.log(topic)
        )
        expect.unpersist()
        dense = False
        inv = verify_log_invariants(engine, topic, dense=dense)
        out["invariants_ok"] = inv["ok"]
        out["ok"] = out["ok"] and inv["ok"]
        return out

    ops = [_produce, _produce, _archive, _truncate, _merge, _cloud_retention]
    reports.append(_produce())
    for _ in range(n_ops - 1):
        reports.append(rng.choice(ops)())
    return reports
