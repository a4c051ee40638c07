"""log_bulk: closed loop, one client, repeated cycles on fresh topics.

A cycle runs four phases on one ``remote_write`` topic:

- produce: OMB-shaped keyed 1 KiB messages sent through
  ``BufferedProducer`` (the DataFrame produce path, murmur2 routing UDF);
- catch-up: a consumer group resumes with a fixed lag per partition and
  polls with Kafka's default 1 MiB ``max_partition_fetch_bytes`` until it
  is caught up, then commits; every fetch misses the hot tail, because
  DataFrame produce does not fill it;
- maintenance: one tick of the per-topic body of ``cli.cmd_maintain``:
  ``run_cleanup`` + ``optimize_segments`` + ``run_archival``;
- drain: a full scan of the archived topic through ``engine.log``.

``ops_per_s`` is messages moved (produced + caught up + drained) per second
of cycle time; the latencies are those of the catch-up polls.
"""

from __future__ import annotations

import tempfile
import time

import numpy as np

from perfbench.harness import Measured, median, percentile, run_workload, session_cpu_s

PARTITIONS = 2
MSG_BYTES = 1024
KEY_SPACE = 10_000
BATCHES = 4
BATCH_MSGS = 5_000
LINGER_BATCHES = 2
LAG = 1_500  # per partition: about 1.5 MiB, so two polls at 1 MiB
FETCH_BYTES = 1 << 20
SMOKE = {"BATCH_MSGS": 100, "LAG": 50}


def make_batches(spark, seed: int, n_batches: int, batch_msgs: int):
    """Seeded keyed 1 KiB messages as cached DataFrames, plus the total
    key bytes they carry."""
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    frames, key_bytes = [], 0
    for _ in range(n_batches):
        keys = [b"key-%d" % k for k in rng.integers(0, KEY_SPACE, batch_msgs)]
        body = rng.bytes(batch_msgs * MSG_BYTES)
        values = [body[i * MSG_BYTES:(i + 1) * MSG_BYTES] for i in range(batch_msgs)]
        key_bytes += sum(len(k) for k in keys)
        table = pa.table({"key": pa.array(keys, pa.binary()),
                          "value": pa.array(values, pa.binary())})
        df = spark.createDataFrame(table).persist()
        df.count()
        frames.append(df)
    return frames, key_bytes


def _topic(engine, name: str) -> None:
    from redpanda_spark.engine import TopicConfig

    engine.create_topic(name, TopicConfig(
        partitions=PARTITIONS, compression="none", remote_write=True,
        local_retention_ms=1,
    ))


def _warm_up(spark) -> None:
    """One small untimed cycle, so the first timed one finds every phase's
    code paths compiled and the Python workers started."""
    from redpanda_spark.engine import TopicEngine

    from perfbench.harness import Tracer

    engine = TopicEngine(spark, tempfile.mkdtemp(prefix="warm-"))
    frames, key_bytes = make_batches(spark, 0, 2, 500)
    _cycle(Cycle(engine, Tracer(spark, False), "warm", 1000, 300), frames, key_bytes, False)
    for df in frames:
        df.unpersist()


class Cycle:
    def __init__(self, engine, tracer, name: str, n_msgs: int, lag: int):
        self.engine, self.tracer, self.topic = engine, tracer, name
        self.n_msgs, self.lag = n_msgs, lag
        self.t: dict[str, float] = {}
        self.failures: list[str] = []
        self.failed = 0

    def produce(self, frames) -> None:
        from redpanda_spark.producer import BufferedProducer

        _topic(self.engine, self.topic)
        producer = BufferedProducer(self.engine, self.topic, linger_batches=LINGER_BATCHES)
        t0 = time.perf_counter()
        for df in frames:
            with self.tracer.span("producer.send", spark=True):
                producer.send(df)
        with self.tracer.span("producer.flush", spark=True):
            producer.flush()
        self.t["produce"] = time.perf_counter() - t0

    def catch_up(self) -> dict[int, list]:
        from redpanda_spark.consumer import Consumer
        from redpanda_spark.operators.coordinator import GroupManager

        hw = self.engine.high_watermarks(self.topic)
        self.start = {p: max(0, hw.get(p, 0) - self.lag) for p in range(PARTITIONS)}
        group = f"catchup-{self.topic}"
        self.engine.offset_commit_batch(
            group, {(self.topic, p): off for p, off in self.start.items()}
        )
        c0 = self.engine.counters(self.topic)
        consumer = Consumer(self.engine, GroupManager({self.topic: PARTITIONS}), group, [self.topic])
        polled: dict[int, list] = {p: [] for p in range(PARTITIONS)}
        t0 = time.perf_counter()
        with self.tracer.span("coordinator.join_sync"):
            consumer.subscribe()
        self.poll_s = []
        while any(consumer.position(self.topic, p) < hw.get(p, 0) for p in range(PARTITIONS)):
            with self.tracer.span("consumer.poll", spark=True) as span:
                got = consumer.poll(max_partition_fetch_bytes=FETCH_BYTES)
            self.poll_s.append(span["dur"])
            for (_, p), rows in got.items():
                polled[p] += [(r["offset"], len(r["value"])) for r in rows]
        with self.tracer.span("consumer.commit", spark=True):
            consumer.commit()
        self.t["catchup"] = time.perf_counter() - t0
        c1 = self.engine.counters(self.topic)
        self.tail = {k: c1.get(k, 0) - c0.get(k, 0) for k in ("tail_cache_hits", "tail_cache_misses")}
        self.hw = hw
        return polled

    def maintain(self) -> None:
        t0 = time.perf_counter()
        with self.tracer.span("engine.run_cleanup", spark=True):
            self.engine.run_cleanup(self.topic)
        with self.tracer.span("engine.optimize_segments", spark=True):
            self.merged = self.engine.optimize_segments(self.topic)
        with self.tracer.span("engine.run_archival", spark=True):
            self.archival = self.engine.run_archival(self.topic)
        self.t["maintain"] = time.perf_counter() - t0

    def drain(self):
        from pyspark.sql import functions as F

        with self.tracer.span("engine.log_scan", spark=True) as span:
            row = self.engine.log(self.topic).agg(
                F.count("*").alias("n"),
                F.sum(F.length("value")).alias("value_bytes"),
                F.sum(F.length("key")).alias("key_bytes"),
            ).collect()[0]
        self.t["drain"] = span["dur"]
        return row

    def check(self, polled, drained, key_bytes: int) -> None:
        """Catch-up and drain counts, byte sums and per-partition offset
        contiguity equal what was produced."""
        from pyspark.sql import functions as F

        for p in range(PARTITIONS):
            want = list(range(self.start[p], self.hw.get(p, 0)))
            got = polled[p]
            if [o for o, _ in got] != want or sum(b for _, b in got) != len(want) * MSG_BYTES:
                self.fail(len(want), f"{self.topic}/{p}: catch-up returned {len(got)} "
                                     f"records, want offsets {want[:1]}..{want[-1:]}")
        if sum(self.hw.values()) != self.n_msgs:
            self.fail(self.n_msgs, f"{self.topic}: high watermarks sum to {sum(self.hw.values())}")
        if (drained["n"], drained["value_bytes"], drained["key_bytes"]) != (
            self.n_msgs, self.n_msgs * MSG_BYTES, key_bytes
        ):
            self.fail(self.n_msgs, f"{self.topic}: drained {tuple(drained)}")
        per_part = self.engine.log(self.topic).groupBy("partition").agg(
            F.count("*").alias("n"), F.min("offset").alias("lo"), F.max("offset").alias("hi")
        ).collect()
        for r in per_part:
            if r["lo"] != 0 or r["hi"] != r["n"] - 1 or self.hw.get(r["partition"]) != r["n"]:
                self.fail(r["n"], f"{self.topic}/{r['partition']}: offsets not contiguous")

    def fail(self, n: int, msg: str) -> None:
        self.failed += n
        self.failures.append(msg)

    def moved(self) -> int:
        return 2 * self.n_msgs + sum(
            self.hw.get(p, 0) - self.start[p] for p in range(PARTITIONS)
        )


def _cycle(c: Cycle, frames, key_bytes: int, check: bool) -> None:
    cpu0 = session_cpu_s()
    c.produce(frames)
    polled = c.catch_up()
    c.maintain()
    drained = c.drain()
    c.cpu_s = session_cpu_s() - cpu0
    if check:
        c.check(polled, drained, key_bytes)


def measure(spark, args, tracer, check: bool = True) -> Measured:
    from redpanda_spark.engine import TopicEngine

    batch_msgs = SMOKE["BATCH_MSGS"] if args.smoke else BATCH_MSGS
    lag = SMOKE["LAG"] if args.smoke else LAG
    frames, key_bytes = make_batches(spark, args.seed, BATCHES, batch_msgs)
    engine = TopicEngine(spark, tempfile.mkdtemp(prefix="bulk-"))
    tracer.wrap(engine, "fetch_rows", "engine.fetch_rows")
    cycles: list[Cycle] = []
    t_end = time.perf_counter() + args.seconds
    while not cycles or time.perf_counter() < t_end:
        c = Cycle(engine, tracer, f"bulk-{len(cycles)}", BATCHES * batch_msgs, lag)
        _cycle(c, frames, key_bytes, check)
        cycles.append(c)
    for df in frames:
        df.unpersist()

    def per_cycle(f):
        return median([f(c) for c in cycles])

    mb = MSG_BYTES / 1e6
    poll_ms = [d * 1e3 for c in cycles for d in c.poll_s]
    layer = {
        "produce_mb_s": per_cycle(lambda c: c.n_msgs * mb / c.t["produce"]),
        "catchup_mb_s": per_cycle(lambda c: (sum(c.hw.values()) - sum(c.start.values())) * mb / c.t["catchup"]),
        "maintain_s": per_cycle(lambda c: c.t["maintain"]),
        "drain_mb_s": per_cycle(lambda c: c.n_msgs * mb / c.t["drain"]),
        # the segments produce wrote are the ones maintenance then merges
        "engine.produce_df_segments": per_cycle(lambda c: c.merged["files_before"]),
        "engine.optimize_files_before": per_cycle(lambda c: c.merged["files_before"]),
        "engine.optimize_files_after": per_cycle(lambda c: c.merged["files_after"]),
        "engine.archived_segments": per_cycle(lambda c: c.archival.get("archived", 0)),
        "engine.tail_hit_ratio": sum(c.tail["tail_cache_hits"] for c in cycles) / max(
            1, sum(c.tail["tail_cache_hits"] + c.tail["tail_cache_misses"] for c in cycles)),
    }
    if tracer.enabled:
        n = len(cycles)

        def per(name, key="dur"):
            return sum(s[key] for s in tracer.named(name)) / n

        # a send that reaches linger_batches flushes inside the call
        produce = tracer.named("producer.send") + tracer.named("producer.flush")
        enqueue = [s for s in tracer.named("producer.send") if s["jobs"] == 0]
        flushes = [s for s in produce if s["jobs"] > 0]
        layer.update({
            "producer.send_p50_ms": percentile([s["dur"] * 1e3 for s in enqueue], 50),
            "producer.flush_s": sum(s["dur"] for s in flushes) / n,
            "engine.produce_df_jobs": sum(s["jobs"] for s in produce) / n,
            "engine.produce_df_tasks": sum(s["tasks"] for s in produce) / n,
            "functions.murmur2_python_s": sum(s["python_s"] for s in produce) / n,
            "coordinator.join_sync_ms": median([s["dur"] * 1e3 for s in tracer.named("coordinator.join_sync")]),
            "consumer.poll_p50_s": percentile([s["dur"] for s in tracer.named("consumer.poll")], 50),
            "consumer.poll_jobs": per("consumer.poll", "jobs"),
            "consumer.fetch_miss_ms": percentile([s["dur"] * 1e3 for s in tracer.named("engine.fetch_rows")], 50),
            "consumer.commit_s": per("consumer.commit"),
            "engine.run_cleanup_s": per("engine.run_cleanup"),
            "engine.optimize_segments_s": per("engine.optimize_segments"),
            "engine.run_archival_s": per("engine.run_archival"),
            "engine.log_scan_s": per("engine.log_scan"),
            "engine.log_scan_tasks": per("engine.log_scan", "tasks"),
        })
    return Measured(
        end_to_end={
            "latency_p50_ms": percentile(poll_ms, 50),
            "latency_p95_ms": percentile(poll_ms, 95),
            "ops_per_s": per_cycle(lambda c: c.moved() / sum(c.t.values())),
            "cpu_ms_per_op": per_cycle(lambda c: 1e3 * c.cpu_s / c.moved()),
        },
        per_layer=layer,
        attempted=sum(c.moved() for c in cycles),
        failed=sum(c.failed for c in cycles),
        failures=[f for c in cycles for f in c.failures],
        context={
            "sf_dir": None,
            "samples": {"cycles": len(cycles), "polls": len(poll_ms)},
            "cycles": [{"topic": c.topic, **{k: round(v, 4) for k, v in c.t.items()}} for c in cycles],
        },
    )


def run(args):
    return run_workload(args, _warm_up, measure)
