"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.

Headline set = the operators that dominate a 100 TB deployment: keep-latest
compaction, offset/time scans, read_committed visibility, the heavy
analytics joins, and the training-data ops (dedup, ANN, text stats).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from redpanda_spark.plans.queries import QUERIES
from redpanda_spark.session import get_spark


def _load_context() -> dict:
    """Box-state snapshot (r11 verdict: the record must self-identify a
    loaded-box run — without this, a 20% regression and background load
    are indistinguishable in the trend)."""
    ctx: dict = {}
    try:
        ctx["loadavg"] = [round(x, 2) for x in os.getloadavg()]
    except OSError:  # pragma: no cover - non-POSIX
        ctx["loadavg"] = None
    try:
        with open("/proc/meminfo") as f:
            mem = {
                line.split(":")[0]: int(line.split()[1])
                for line in f
                if ":" in line and line.split()[1].isdigit()
            }
        ctx["mem_available_gb"] = round(mem.get("MemAvailable", 0) / 1e6, 1)
    except OSError:  # pragma: no cover
        ctx["mem_available_gb"] = None
    ctx["cpus"] = os.cpu_count()
    try:
        with open("/proc/stat") as f:
            vals = list(map(int, f.readline().split()[1:9]))
        ctx["cpu_jiffies"] = dict(
            zip(
                ["user", "nice", "system", "idle", "iowait", "irq",
                 "softirq", "steal"],
                vals,
            )
        )
    except OSError:  # pragma: no cover
        ctx["cpu_jiffies"] = None
    return ctx


def _cpu_mix(before: dict, after: dict) -> dict | None:
    """CPU composition ACROSS the run (delta of cumulative jiffies):
    steal% > 0 here means a noisy VM neighbor ate cycles DURING the
    bench — the r12 adjudication found the same code swinging 17.3 to
    21.2 s across back-to-back quiet-box runs, which loadavg alone
    cannot explain; this is the counter that names the thief."""
    a, b = before.get("cpu_jiffies"), after.get("cpu_jiffies")
    if not a or not b:
        return None
    d = {k: b[k] - a[k] for k in a}
    total = sum(d.values()) or 1
    return {k: round(100.0 * v / total, 2) for k, v in d.items()}


def _warm_python_runtime(spark):
    """Spin up the Python/Arrow UDF machinery (worker pool + numpy import +
    Arrow codec JIT) so UDF-bearing queries measure the operator, not the
    interpreter bootstrap."""

    @pandas_udf("array<bigint>")
    def _warm_udf(s: pd.Series) -> pd.Series:
        return pd.Series([[len(x)] for x in s])

    spark.range(100000).repartition(32).select(
        _warm_udf(F.col("id").cast("string"))
    ).count()

BENCH_QUERIES = [
    "log_fetch",
    "log_list_offsets",
    "log_timequery",
    "log_compact",
    "log_idempotent_dedup",
    "group_offset_fetch",
    "tx_read_committed",
    "tpch_q1",
    "tpch_q3",
    "tpch_q5ish",
    "events_daily",
    "doc_token_stats",
    "doc_lang_id",
    "dedup_exact",
    "dedup_minhash",
    "dedup_ngram",
    "decontaminate",
    "ann_topk",
    "curation_pipeline",
    "transform_fanout",
    "emb_quantize",
    "datalake_translate",
    "datalake_translate_avro",
    "mm_audio_metadata",
    "tpch_q9ish",
    "tpch_q21ish",
    "pipeline_redact",
    "pipeline_pack",
]

# Round-5 additions, timed separately so the headline wall stays
# comparable with prior rounds' BENCH files.
BENCH_QUERIES_EXTENDED = [
    "stream_stream_join",
    "dedup_semantic",
    "events_enrich",
    "events_asof",
    "events_interval",
    "doc_span_dedup",
    "pipeline_sample",
    "doc_quality_classifier",
    "dedup_cluster",
    "bpe_pair_counts",
    "pipeline_shuffle",
    "events_approx_users",
    "events_quantiles",
    "doc_perplexity",
    "events_funnel",
    "corpus_report",
    "dedup_incremental",
    "mm_image_dedup",
    # round 6
    "doc_perplexity_serve",
    "log_fetch_bytes",
    "doc_chunk",
    "mixture_plan",
    "pipeline_upsample",
    "events_window_topk",
    "iceberg_export_counts",
    "ann_pq",
    "doc_gopher_rules",
    "ann_ivfpq",
    "events_rollup",
    "doc_lang_eval",
    # round 7
    "doc_bm25",
    "events_retention",
    "dedup_rate_by_source",
    "doc_ngram_topk",
    "events_anomaly",
    "log_segments",
    "ann_nsw",
    "ann_nsw_incremental",
    "ann_nsw_delete",
    "ann_nsw_filtered",
    "events_skew_join",
    "events_bucketed_join",
    "doc_hybrid_search",
    "decontaminate_semantic",
    "emb_kmeans",
    "pipeline_dsir",
    "events_sketch_merge",
    "iceberg_delete_read",
    "iceberg_upsert_read",
    "events_zorder",
    # round 8
    "log_fetch_tiered",
    "log_tiered_timequery",
    "log_tiered_retention",
    "emb_covariance",
    "doc_tfidf_terms",
    "events_histogram",
    "pipeline_curriculum",
    "log_replica_fetch",
    "iceberg_eq_delete_read",
    "group_bulk_assignment",
    "acl_authorize",
]


def bench_omb(spark) -> dict:
    """OMB CommonWorkload analog (BASELINE.md): keyed 1-KiB messages over
    100 partitions, committed (durable parquet) produce, consume from
    earliest. Reports nominal-payload MB/s like OMB does.

    Reference gate: sustained 75k msg/s x 1 KiB (~73 MiB/s) produce on a
    3-broker cluster (tests/rptest/perf/openmessaging_perf_test.py:31-66).
    """
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from redpanda_spark.engine import TopicConfig, TopicEngine

    # 400k x 1 KiB in 2 micro-batches: the sustained operating point for a
    # micro-batch engine (per-batch fixed cost amortized); BASELINE.md notes
    # throughput, not per-message latency, is the comparison target.
    n_msgs = int(os.environ.get("SPARK_GRAFT_OMB_MSGS", "400000"))
    n_batches = int(os.environ.get("SPARK_GRAFT_OMB_BATCHES", "2"))
    msg_bytes = 1024
    root = tempfile.mkdtemp(prefix="omb_")
    try:
        engine = TopicEngine(spark, root)
        # compression=none on ALL bench workload topics: the reference's
        # OMB/perf suites drive Kafka clients at their defaults
        # (compression.type=none — no override anywhere in rptest's OMB
        # configs or small_batches_test), and the 1 KiB digest payloads
        # are incompressible, so a snappy encode here would be work the
        # reference workload never does (measured ~0.25 s per 50k-row
        # append on this box).
        engine.create_topic("omb", TopicConfig(partitions=100, compression="none"))
        per_batch = n_msgs // n_batches
        # 1 KiB pseudo-random payload: 16 x 64-hex-char row-unique digests.
        # Batches are materialized (cached + counted) BEFORE the timer: OMB
        # measures the broker, not the load generator — the timed section is
        # routing + offset assignment + committed write, i.e. the engine.
        payload = F.concat(
            *[F.sha2(F.concat(F.col("id").cast("string"), F.lit(f"-{i}")), 256) for i in range(16)]
        ).cast("binary")
        batches = []
        for b in range(n_batches):
            batch = (
                spark.range(b * per_batch, (b + 1) * per_batch)
                .select(
                    F.col("id").cast("string").cast("binary").alias("key"),
                    payload.alias("value"),
                )
                .persist()
            )
            batch.count()
            batches.append(batch)
        # OMB workloads run a warmup phase before measurement; ours spins up
        # the Arrow/Python UDF workers + shuffle machinery on a scratch topic.
        engine.create_topic("omb_warm", TopicConfig(partitions=100, compression="none"))
        engine.produce("omb_warm", batches[0].limit(20000))
        t0 = time.time()
        for batch in batches:
            engine.produce("omb", batch)
        produce_s = time.time() - t0
        for batch in batches:
            batch.unpersist()
        t0 = time.time()
        consumed = engine.log("omb").agg(
            F.count("*").alias("n"), F.sum(F.length("value")).alias("nbytes")
        ).collect()[0]
        consume_s = time.time() - t0
        assert consumed["n"] == per_batch * n_batches, consumed
        mb = per_batch * n_batches * msg_bytes / 1e6
        return {
            "workload": "omb_common_1KiB_100part",
            "msgs": per_batch * n_batches,
            "msg_bytes": msg_bytes,
            "produce_s": round(produce_s, 3),
            "consume_s": round(consume_s, 3),
            "produce_mb_s": round(mb / produce_s, 1),
            "consume_mb_s": round(mb / consume_s, 1),
            "produce_msg_s": round(per_batch * n_batches / produce_s),
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)


def bench_omb_small_batches(spark) -> dict:
    """Small-batches workload analog (BASELINE.md: 30,000 msg/s gate,
    `tests/rptest/perf/small_batches_test.py:26`): many small sends. The
    reference gate drives librdkafka clients whose sends PIPELINE
    (batching/linger) into few wire produce requests, so the measured loop
    here is the client analog: BufferedProducer.send per 5k-row batch with
    linger_batches=5 (4 group commits for 20 sends). The per-call
    synchronous produce fixed cost is reported separately as
    ``sync_batch_s`` so the number the pipelining hides stays visible.
    The consume side doubles as a backlog-drain read."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from redpanda_spark.engine import TopicConfig, TopicEngine
    from redpanda_spark.producer import BufferedProducer

    n_msgs = int(os.environ.get("SPARK_GRAFT_OMB_SMALL_MSGS", "100000"))
    n_batches = int(os.environ.get("SPARK_GRAFT_OMB_SMALL_BATCHES", "20"))
    linger = int(os.environ.get("SPARK_GRAFT_OMB_SMALL_LINGER", "10"))
    msg_bytes = 1024
    root = tempfile.mkdtemp(prefix="ombs_")
    try:
        engine = TopicEngine(spark, root)
        engine.create_topic("omb_s", TopicConfig(partitions=100, compression="none"))
        per_batch = n_msgs // n_batches
        payload = F.concat(
            *[F.sha2(F.concat(F.col("id").cast("string"), F.lit(f"-{i}")), 256) for i in range(16)]
        ).cast("binary")
        batches = []
        for b in range(n_batches):
            batch = (
                spark.range(b * per_batch, (b + 1) * per_batch)
                .select(
                    F.col("id").cast("string").cast("binary").alias("key"),
                    payload.alias("value"),
                )
                .persist()
            )
            batch.count()
            batches.append(batch)
        producer = BufferedProducer(engine, "omb_s", linger_batches=linger)
        t0 = time.time()
        for batch in batches:
            producer.send(batch)
        producer.flush()
        produce_s = time.time() - t0
        # synchronous single-batch produce: the unamortized fixed cost
        t0 = time.time()
        engine.produce("omb_s", batches[0])
        sync_batch_s = time.time() - t0
        for batch in batches:
            batch.unpersist()
        t0 = time.time()
        consumed = engine.log("omb_s").agg(F.count("*").alias("n")).collect()[0]
        consume_s = time.time() - t0
        total = per_batch * n_batches
        assert consumed["n"] == total + per_batch, consumed
        return {
            "workload": "omb_small_batches",
            "msgs": total,
            "n_batches": n_batches,
            "linger_batches": linger,
            "msg_bytes": msg_bytes,
            "produce_s": round(produce_s, 3),
            "produce_msg_s": round(total / produce_s),
            "sync_batch_s": round(sync_batch_s, 3),
            "sync_produce_msg_s": round(per_batch / sync_batch_s),
            "drain_mb_s": round((total + per_batch) * msg_bytes / 1e6 / consume_s, 1),
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)


def bench_e2e_latency(spark, n: int = 25) -> dict:
    """Produce -> fetch-visible latency (OMB e2e-latency analog).

    The produce side is the engine's record-list API (the producer-client
    shape: driver-side routing/offsets/validation + pyarrow segment write
    + atomic manifest commit, zero Spark jobs); the consume side is
    ``fetch_poll``, which serves the committed rows from the hot-tail
    cache (the reference's batch cache). The durable-but-cold DataFrame
    scan path is timed alongside as ``scan_p50_ms`` so the Spark-job
    fixed cost stays visible."""
    import shutil
    import tempfile

    from redpanda_spark.engine import TopicConfig, TopicEngine

    root = tempfile.mkdtemp(prefix="omblat_")
    try:
        engine = TopicEngine(spark, root)
        engine.create_topic("lat", TopicConfig(partitions=1, compression="none"))
        lats, scan_lats, rc_lats = [], [], []
        for i in range(n):
            t0 = time.time()
            engine.produce("lat", [{"partition": 0, "key": b"k", "value": b"v%d" % i}])
            got = engine.fetch_poll("lat", 0, offset=i)
            lats.append((time.time() - t0) * 1000)
            assert len(got) == 1 and got[0]["offset"] == i
            # read_committed consumers ride the tail too (LSO bound +
            # aborted filter applied in-process from the tx-ranges mirror)
            t0 = time.time()
            got = engine.fetch_poll("lat", 0, offset=i, isolation="read_committed")
            rc_lats.append((time.time() - t0) * 1000)
            assert len(got) == 1 and got[0]["offset"] == i
            t0 = time.time()
            got = engine.fetch("lat", 0, offset=i).collect()
            scan_lats.append((time.time() - t0) * 1000)
            assert len(got) == 1
        lats.sort()
        scan_lats.sort()
        rc_lats.sort()
        return {
            "workload": "e2e_visible_latency",
            "samples": n,
            "p50_ms": round(lats[len(lats) // 2], 1),
            "min_ms": round(lats[0], 1),
            "max_ms": round(lats[-1], 1),
            "rc_p50_ms": round(rc_lats[len(rc_lats) // 2], 3),
            "scan_p50_ms": round(scan_lats[len(scan_lats) // 2], 1),
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)


def bench_drain(spark, target_mb: int = 1024) -> dict:
    """Backlog-drain read at >=1 GB (TS-read gate, BASELINE.md 40 MB/s
    draining a backlog whose reads hit S3 past a 16 MB local retention).

    Since round 8 this is the REAL tiered path, not an analog: the
    backlog is produced, run_archival moves every aged segment to the
    cold tier (reported as upload MB/s — the TS-write side), and the
    drain then scans the ARCHIVE tier through the tier-spanning read
    path. On this box both tiers are local disk; on a cluster the
    archive root is the object-store URI and the same code path applies."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from redpanda_spark.engine import TopicConfig, TopicEngine

    msg_bytes = 1024
    n_msgs = target_mb * 1000  # 1 KiB nominal payload per record
    n_batches = 4
    root = tempfile.mkdtemp(prefix="ombd_")
    try:
        engine = TopicEngine(spark, root)
        engine.create_topic(
            "drain",
            TopicConfig(partitions=100, remote_write=True, local_retention_ms=0,
                        compression="none"),
        )
        per_batch = n_msgs // n_batches
        payload = F.concat(
            *[F.sha2(F.concat(F.col("id").cast("string"), F.lit(f"-{i}")), 256) for i in range(16)]
        ).cast("binary")
        for b in range(n_batches):
            engine.produce(
                "drain",
                spark.range(b * per_batch, (b + 1) * per_batch).select(
                    F.col("id").cast("string").cast("binary").alias("key"),
                    payload.alias("value"),
                ),
            )
        mb = per_batch * n_batches * msg_bytes / 1e6
        t0 = time.time()
        arch = engine.run_archival(
            "drain", now_ms=int(time.time() * 1000) + 60_000
        )
        upload_s = time.time() - t0
        st = engine.topic_stats("drain")
        assert st["segments"] == 0 and st["archived_segments"] > 0, st
        t0 = time.time()
        consumed = engine.log("drain").agg(
            F.count("*").alias("n"), F.sum(F.length("value")).alias("nbytes")
        ).collect()[0]
        consume_s = time.time() - t0
        assert consumed["n"] == per_batch * n_batches, consumed
        return {
            "workload": "tiered_backlog_drain",
            "msgs": per_batch * n_batches,
            "backlog_mb": round(mb),
            "archived_segments": arch["archived"],
            "upload_s": round(upload_s, 3),
            "upload_mb_s": round(mb / upload_s, 1),
            "drain_s": round(consume_s, 3),
            "drain_mb_s": round(mb / consume_s, 1),
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)


# sf1 scale-validation subset: the queries whose cost is data-volume-bound
# (scans, shuffles, the dedup ladder, ANN) — fixed-cost control-plane
# queries are excluded since 10x data doesn't move them.
SF1_QUERIES = [
    "tpch_q1",
    "tpch_q3",
    "tpch_q9ish",
    "log_fetch",
    "log_compact",
    "dedup_exact",
    "dedup_minhash",
    "dedup_cluster",
    "dedup_incremental",
    "doc_token_stats",
    "ann_topk",
    "curation_pipeline",
    "events_daily",
    "decontaminate",
    # round 7
    "doc_bm25",
    "doc_ngram_topk",
    "events_retention",
    "ann_nsw",
    "events_skew_join",
    # round 8
    "log_fetch_tiered",
    "emb_covariance",
    "doc_tfidf_terms",
]


# sf10 probe (r9 verdict item 5): one decade beyond sf1 — the 10 most
# expensive sf1 queries plus the scale-behavior probes (AQE skew split,
# NSW shard growth, the input-sized shuffle fan-out). Runs ONLY when the
# fixtures already exist on disk (generation is ~100x sf0.1 and belongs
# to `python tools/make_sf1.py .fixtures/sf10 --copies=100`, not to the
# per-round bench budget).
SF10_QUERIES = [
    "tpch_q1",
    "tpch_q3",
    "tpch_q9ish",
    "dedup_minhash",
    "dedup_cluster",
    "dedup_incremental",
    "doc_bm25",
    "doc_ngram_topk",
    "decontaminate",
    "doc_tfidf_terms",
    "events_skew_join",
    "ann_nsw",
    "pipeline_shuffle",
]


def bench_sf10(spark) -> dict | None:
    if os.environ.get("SPARK_GRAFT_SF10", "1") == "0":
        return None
    here = os.path.dirname(os.path.abspath(__file__))
    sf10_dir = os.environ.get(
        "SPARK_GRAFT_SF10_DIR", os.path.join(here, ".fixtures", "sf10")
    )
    if not os.path.exists(os.path.join(sf10_dir, "lineitem.parquet")):
        print("# sf10 fixtures absent — skipping sf10 block", file=sys.stderr)
        return None
    timings: dict[str, float] = {}
    cold_build: dict[str, float] = {}
    # same cold-store split as bench_sf1: ann_nsw's first pass builds the
    # fingerprint-keyed persisted NSW index (~7s at sf10) — recorded
    # separately so the serve trend isn't polluted by a one-time build
    store_building = {"ann_nsw"}
    for name in SF10_QUERIES:
        if name not in QUERIES:
            continue
        if name in store_building:
            t0 = time.time()
            QUERIES[name](spark, sf10_dir).count()
            cold_build[name] = round(time.time() - t0, 3)
            spark.catalog.clearCache()
        t0 = time.time()
        n = QUERIES[name](spark, sf10_dir).count()
        dt = round(time.time() - t0, 3)
        timings[name] = dt
        build = (
            f" (cold store build+serve {cold_build[name]}s)"
            if name in cold_build
            else ""
        )
        print(f"# sf10 {name}: {n} rows in {dt}s{build}", file=sys.stderr)
        spark.catalog.clearCache()
    return {
        "sf": 10.0,
        "suite_wall_s": round(sum(timings.values()), 3),
        "queries": timings,
        "cold_build_s": cold_build,
    }


# sf100 probe: TWO measured decades beyond sf1 (600M lineitem rows /
# 5M documents, ~20 GB on disk). Opt-in (SPARK_GRAFT_SF100=1) because a
# pass is several minutes — it belongs to explicit scale validation, not
# the per-round bench budget. Fixtures: tools/make_sf1.py <dir> --copies=1000.
SF100_QUERIES = [
    "tpch_q1",
    "tpch_q3",
    "doc_bm25",
    "doc_ngram_topk",
    "dedup_minhash",
    "decontaminate",
    "events_skew_join",
    "pipeline_shuffle",
]


def bench_sf100(spark) -> dict | None:
    if os.environ.get("SPARK_GRAFT_SF100", "0") != "1":
        return None
    here = os.path.dirname(os.path.abspath(__file__))
    sf100_dir = os.environ.get(
        "SPARK_GRAFT_SF100_DIR", os.path.join(here, ".fixtures", "sf100")
    )
    if not os.path.exists(os.path.join(sf100_dir, "lineitem.parquet")):
        print("# sf100 fixtures absent — skipping sf100 block", file=sys.stderr)
        return None
    timings: dict[str, float] = {}
    # shuffle width sized to the block's data, exactly as a deployment
    # would: the session's 32 (right for sf0.1) makes the 100x joins and
    # aggregations build per-partition state 100x too big (measured: the
    # decontaminate pair aggregation OOMs a 24g heap at width 32, passes
    # at 256); restored after the block so the trend stays comparable
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "256")
    try:
        for name in SF100_QUERIES:
            if name not in QUERIES:
                continue
            t0 = time.time()
            n = QUERIES[name](spark, sf100_dir).count()
            dt = round(time.time() - t0, 3)
            timings[name] = dt
            print(f"# sf100 {name}: {n} rows in {dt}s", file=sys.stderr)
            spark.catalog.clearCache()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return {
        "sf": 100.0,
        "suite_wall_s": round(sum(timings.values()), 3),
        "queries": timings,
    }


def bench_sf1(spark) -> dict | None:
    """One timed pass at sf1 (10x the gate SF), generating the fixtures on
    first use (tools/make_sf1.py — deterministic 10x scale-up of sf0.1).
    Scale claims stop being extrapolations: any query whose wall grows
    super-linearly in SF shows up here as >10x its sf0.1 number."""
    if os.environ.get("SPARK_GRAFT_SF1", "1") == "0":
        return None
    here = os.path.dirname(os.path.abspath(__file__))
    sf1_dir = os.environ.get(
        "SPARK_GRAFT_SF1_DIR", os.path.join(here, ".fixtures", "sf1")
    )
    if not os.path.exists(os.path.join(sf1_dir, "lineitem.parquet")):
        try:
            sys.path.insert(0, os.path.join(here, "tools"))
            from make_sf1 import make_sf1

            make_sf1(sf1_dir)
        except Exception as e:  # missing source data / read-only fs
            print(f"# sf1 fixtures unavailable: {e}", file=sys.stderr)
            return None
    timings: dict[str, float] = {}
    cold_build: dict[str, float] = {}
    # queries that build a per-box store fixture (archived cold tier) on
    # first use: one untimed warm pass is recorded separately so the
    # serve-path number isn't dominated by the one-time store build and a
    # cache rebuild doesn't read as a serve regression in the trend line
    store_building = {
        "log_fetch_tiered",
        "log_tiered_timequery",
        "log_tiered_retention",
        # ann_nsw's first pass on a fresh box builds the persisted
        # fingerprint-keyed NSW index (~5s at sf1) — same split as sf10,
        # else a cache rebuild reads as a 5x serve regression in the trend
        "ann_nsw",
    }
    for name in SF1_QUERIES:
        if name not in QUERIES:
            continue
        if name in store_building:
            t0 = time.time()
            QUERIES[name](spark, sf1_dir).count()
            cold_build[name] = round(time.time() - t0, 3)
            spark.catalog.clearCache()
        t0 = time.time()
        n = QUERIES[name](spark, sf1_dir).count()
        dt = round(time.time() - t0, 3)
        timings[name] = dt
        build = (
            f" (cold store build+serve {cold_build[name]}s)"
            if name in cold_build
            else ""
        )
        print(f"# sf1 {name}: {n} rows in {dt}s{build}", file=sys.stderr)
        spark.catalog.clearCache()
    return {
        "sf": 1.0,
        "suite_wall_s": round(sum(timings.values()), 3),
        "queries": timings,
        "cold_build_s": cold_build,
    }


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    spark = get_spark("redpanda-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM + file listing so per-query numbers measure the plans
    QUERIES["log_list_offsets"](spark, sf_dir).count()
    _warm_python_runtime(spark)

    load_before = _load_context()
    print(f"# load context before: {load_before}", file=sys.stderr)

    # Best-of-3 per query (r11 verdict #5): run-to-run noise on a shared
    # box is ±25%; the minimum is the standard microbenchmark estimator
    # of the true cost, and keeping EVERY pass in the detail record lets
    # a reader separate a real regression (all passes slow) from box
    # drift (spread widens).
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    timings: dict[str, float] = {}
    query_runs: dict[str, list[float]] = {}
    for _ in range(runs):
        for name in BENCH_QUERIES:
            t0 = time.time()
            n = QUERIES[name](spark, sf_dir).count()
            dt = round(time.time() - t0, 3)
            query_runs.setdefault(name, []).append(dt)
            if name not in timings or dt < timings[name]:
                timings[name] = dt
            print(f"# {name}: {n} rows in {dt}s", file=sys.stderr)
            # Queries that persist intermediates (LSH band frames) must not
            # bleed cache/GC pressure into the next query's measurement.
            spark.catalog.clearCache()
    total = sum(timings.values())

    # extended suite stays best-of-2: it's 2.5× the headline wall and not
    # the round-over-round comparison target (headline is)
    ext_runs = int(os.environ.get("SPARK_GRAFT_BENCH_EXT_RUNS", "2"))
    extended: dict[str, float] = {}
    for _ in range(ext_runs):
        for name in BENCH_QUERIES_EXTENDED:
            if name not in QUERIES:
                continue
            t0 = time.time()
            n = QUERIES[name](spark, sf_dir).count()
            dt = round(time.time() - t0, 3)
            if name not in extended or dt < extended[name]:
                extended[name] = dt
            print(f"# {name}: {n} rows in {dt}s", file=sys.stderr)
            spark.catalog.clearCache()

    # best-of-N like the query loop: shared-host noise swings produce
    # throughput ±2×; the max is the better estimator of engine capacity.
    # EVERY pass is persisted in the output so a tainted round is visible
    # as such instead of silently recording one bad sample.
    omb_passes = [bench_omb(spark) for _ in range(max(runs, 2))]
    omb = max(omb_passes, key=lambda o: o["produce_mb_s"])
    print(f"# omb (best of {len(omb_passes)}): {omb}", file=sys.stderr)
    # best-of like the other workloads (first pass carries cold-JIT cost);
    # every pass is persisted so a noisy round stays visible as such.
    # 3 passes, not 2: measured isolated-curve plateau is 35-38k msg/s
    # from pass 3 on (JIT+allocator warm-up) — best-of-2 reports the
    # warm-up slope (~27-32k), not engine capacity; each pass is ~3 s.
    omb_small_passes = [bench_omb_small_batches(spark) for _ in range(max(runs, 3))]
    omb_small = max(omb_small_passes, key=lambda o: o["produce_msg_s"])
    print(f"# omb_small (best of {len(omb_small_passes)}): {omb_small}", file=sys.stderr)
    drain = bench_drain(spark)
    e2e = bench_e2e_latency(spark)
    print(f"# e2e latency: {e2e}", file=sys.stderr)
    print(f"# drain: {drain}", file=sys.stderr)

    # each scale block is best-effort: an OOM-wedged JVM in one block
    # must not lose the whole detail record gathered before it
    def _block(fn):
        try:
            return fn(spark)
        except Exception as e:  # noqa: BLE001 — record, don't die
            print(f"# {fn.__name__} failed: {type(e).__name__}", file=sys.stderr)
            return {"error": f"{type(e).__name__}: {str(e)[:200]}"}

    sf1 = _block(bench_sf1)
    sf10 = _block(bench_sf10)
    sf100 = _block(bench_sf100)

    load_after = _load_context()
    print(f"# load context after: {load_after}", file=sys.stderr)

    detail = {
        "metric": "bench_detail",
        "queries": timings,
        "query_runs": query_runs,
        "load_context": {
            "before": load_before,
            "after": load_after,
            "cpu_mix_pct": _cpu_mix(load_before, load_after),
        },
        "queries_extended": extended,
        "omb_passes": omb_passes,
        "omb_small_passes": omb_small_passes,
        "omb": omb,
        "omb_small": omb_small,
        "drain_1gb": drain,
        "e2e_latency": e2e,
        "sf1": sf1,
        "sf10": sf10,
        "sf100": sf100,
        "trend": _trend(total, omb),
    }
    # full per-pass record: an EARLIER stdout line + a file, so the driver's
    # fixed-size tail capture of stdout only ever has to hold the compact
    # headline line below (r5 post-mortem: one giant line overflowed the
    # 2000-char tail and recorded "parsed": null)
    print(json.dumps(detail))
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "bench_detail.json"), "w") as f:
        json.dump(detail, f, indent=1)

    compact = {
        "metric": "headline_suite_wall_seconds",
        "value": round(total, 3),
        "unit": "sec",
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "queries": {k: round(v, 2) for k, v in timings.items()},
        "bench_runs": runs,
        "load": {
            "before": [
                (load_before.get("loadavg") or [None])[0],
                load_before.get("mem_available_gb"),
            ],
            "after": [
                (load_after.get("loadavg") or [None])[0],
                load_after.get("mem_available_gb"),
            ],
            "steal_pct": ((_cpu_mix(load_before, load_after) or {}).get(
                "steal"
            )),
        },
        "extended_wall_s": round(sum(extended.values()), 2),
        "gates": {
            "produce_mb_s": omb["produce_mb_s"],
            "produce_msg_s": omb["produce_msg_s"],
            "consume_mb_s": omb["consume_mb_s"],
            "small_batches_msg_s": omb_small["produce_msg_s"],
            "drain_mb_s": drain["drain_mb_s"],
            "e2e_p50_ms": e2e["p50_ms"],
            "e2e_rc_p50_ms": e2e["rc_p50_ms"],
        },
        "sf1": {
            "suite_wall_s": sf1.get("suite_wall_s"),
            "queries": {k: round(v, 1) for k, v in sf1.get("queries", {}).items()},
        }
        if sf1
        else None,
        "sf10": {
            "suite_wall_s": sf10.get("suite_wall_s"),
            "queries": {k: round(v, 1) for k, v in sf10.get("queries", {}).items()},
        }
        if sf10
        else None,
        "trend": {
            r: [v.get("suite_wall_s"), v.get("produce_mb_s")]
            for r, v in _trend(total, omb)["prior_rounds"].items()
        },
    }
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1800:  # stay under the driver's 2000-char tail capture
        # drop sf10 per-query detail first (fully recorded in
        # bench_detail.json), the headline query map only as a last resort
        if compact.get("sf10"):
            compact["sf10"] = {"suite_wall_s": compact["sf10"]["suite_wall_s"]}
            line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1800:
        compact.pop("queries", None)
        line = json.dumps(compact, separators=(",", ":"))
    print(line)
    spark.stop()


def _trend(total: float, omb: dict) -> dict:
    """Comparison block vs prior rounds' recorded BENCH files, so every
    BENCH_r{N}.json is self-describing about round-over-round movement."""
    here = os.path.dirname(os.path.abspath(__file__))
    prior = {}
    for n in range(1, 30):
        p = os.path.join(here, f"BENCH_r{n:02d}.json")
        if not os.path.exists(p):
            continue
        try:
            with open(p) as f:
                rec = json.load(f)
            parsed = rec.get("parsed", rec)
            # the compact record carries the OMB figures under "gates";
            # r01-r04 recorded them under "omb"
            gates = parsed.get("gates") or parsed.get("omb") or {}
            prior[f"r{n:02d}"] = {
                "suite_wall_s": parsed.get("value"),
                "produce_mb_s": gates.get("produce_mb_s"),
            }
        except Exception:
            continue
    return {
        "prior_rounds": prior,
        "this_round": {
            "suite_wall_s": round(total, 3),
            "produce_mb_s": omb.get("produce_mb_s"),
        },
    }


if __name__ == "__main__":
    main()
