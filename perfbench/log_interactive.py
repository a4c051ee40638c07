"""log_interactive: open loop, one single-threaded client.

Each request is a record-list ``engine.produce`` of 10 x 1 KiB records
whose keys are zipf-distributed over a fixed key space; after each request
the one consumer-group member polls and heartbeats. Rate steps run on a
fresh 16-partition topic each. Requests are timed from their due time, so
a stall also delays the requests queued behind it. Nothing commits offsets
or runs maintenance inside the timed window.

``ops_per_s`` is the client's capacity: requests served per second the
client was busy (produce, poll and heartbeat, not the sleeps between
requests), over every step.
"""

from __future__ import annotations

import os
import struct
import tempfile
import time

import numpy as np

from perfbench.harness import (
    Measured, Tracer, median, percentile, run_workload, session_cpu_s, slope,
)

PARTITIONS = 16
RECORDS_PER_REQUEST = 10
RECORD_BYTES = 1024
KEY_SPACE = 1000
ZIPF_S = 1.1
# req/s -> share of the open-loop time. The steps roughly double up to
# past the single client's capacity (about 200 req/s on a 4-core box), so
# the loop is busy rather than asleep and the top step shows saturation.
RATES = {20: 1, 40: 1, 80: 4, 160: 2, 320: 1}
REF_RATE = 80
VISIBLE_LIMIT_MS = 50.0  # Redpanda's untuned-CI e2e average bound
_HEADER = struct.Struct(">iii")  # (phase, request, record) at the head of each value


class Inputs:
    """Seeded request payloads: the program only ever sees these."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        w = 1.0 / np.arange(1, KEY_SPACE + 1) ** ZIPF_S
        self.key_p = w / w.sum()

    def requests(self, phase: int, n: int) -> list[list[dict]]:
        keys = self.rng.choice(KEY_SPACE, size=(n, RECORDS_PER_REQUEST), p=self.key_p)
        body = self.rng.bytes(n * RECORDS_PER_REQUEST * (RECORD_BYTES - _HEADER.size))
        size = RECORD_BYTES - _HEADER.size
        out = []
        for i in range(n):
            recs = []
            for j in range(RECORDS_PER_REQUEST):
                k = i * RECORDS_PER_REQUEST + j
                recs.append({
                    "key": b"key-%d" % keys[i, j],
                    "value": _HEADER.pack(phase, i, j) + body[k * size:(k + 1) * size],
                })
            out.append(recs)
        return out


class Phase:
    """One fresh topic, its consumer, and what the client observed."""

    def __init__(self, engine, tracer, phase: int, seek: bool = True):
        from redpanda_spark.consumer import Consumer
        from redpanda_spark.engine import TopicConfig
        from redpanda_spark.operators.coordinator import GroupManager

        self.engine, self.tracer, self.phase = engine, tracer, phase
        self.topic = f"interactive-{phase}"
        engine.create_topic(self.topic, TopicConfig(partitions=PARTITIONS, compression="none"))
        # one record on every partition first, so no poll in the timed
        # window reads a partition the hot tail has never seen
        engine.produce(self.topic, [
            {"partition": p, "key": b"warm", "value": _HEADER.pack(phase, -1, p)}
            for p in range(PARTITIONS)
        ])
        self.expected = {(-1, p) for p in range(PARTITIONS)}
        # a throwaway group: memory-only coordinator, nothing commits
        mgr = GroupManager({self.topic: PARTITIONS})
        self.consumer = Consumer(engine, mgr, f"group-{phase}", [self.topic])
        with tracer.span("coordinator.join_sync", request=phase):
            self.consumer.subscribe()
        self.polled: dict[int, list[int]] = {}  # partition -> offsets in poll order
        self.seen: dict[tuple[int, int], int] = {}  # (request, record) -> times polled
        self.pending: dict[int, int] = {}  # request -> records not yet polled
        self.visible_s: dict[int, float] = {}  # request -> time its last record was polled
        self.ack_s: dict[int, float] = {}
        # start at offset 0 without the committed-offset lookup, which is
        # a Spark job per consumer start (the warm-up still pays one)
        if seek:
            for p in range(PARTITIONS):
                self.consumer.seek_to_beginning(self.topic, p)
        self.poll()

    def send(self, i: int, records: list[dict]) -> None:
        with self.tracer.span("engine.produce_local", request=(self.phase, i)):
            self.engine.produce(self.topic, records)
        self.ack_s[i] = time.perf_counter()
        self.pending[i] = len(records)
        self.expected.update((i, j) for j in range(len(records)))

    def poll(self, request=None) -> None:
        with self.tracer.span("consumer.poll", request=request):
            got = self.consumer.poll()
        now = time.perf_counter()
        for (_, p), rows in got.items():
            self.polled.setdefault(p, []).extend(r["offset"] for r in rows)
            for r in rows:
                _, i, j = _HEADER.unpack_from(bytes(r["value"]))
                self.seen[(i, j)] = self.seen.get((i, j), 0) + 1
                if i in self.pending:
                    self.pending[i] -= 1
                    if self.pending[i] == 0:
                        del self.pending[i]
                        self.visible_s[i] = now
        with self.tracer.span("coordinator.heartbeat", request=request):
            self.consumer.heartbeat()

    def drain(self, deadline_s: float = 30.0) -> None:
        """Untimed: poll until every sent record was seen (or give up)."""
        t_end = time.perf_counter() + deadline_s
        while self.pending and time.perf_counter() < t_end:
            self.poll()

    def check(self) -> tuple[int, list[str]]:
        """Every produced record polled exactly once, offsets in order and
        contiguous from 0 on every partition. Returns (records wrong,
        messages)."""
        bad = []
        missing = self.expected - set(self.seen)
        dup = [k for k, n in self.seen.items() if n != 1 or k not in self.expected]
        if missing:
            bad.append(f"{self.topic}: {len(missing)} records never polled")
        if dup:
            bad.append(f"{self.topic}: {len(dup)} records polled more than once or unknown")
        hw = self.engine.high_watermarks(self.topic)
        n_order = 0
        for p in range(PARTITIONS):
            offs = self.polled.get(p, [])
            if offs != list(range(hw.get(p, 0))):
                n_order += 1
                bad.append(f"{self.topic}/{p}: polled offsets not 0..{hw.get(p, 0) - 1} in order")
        return len(missing) + len(dup) + n_order, bad


def _open_loop(phase: Phase, rate: int, requests) -> dict:
    interval = 1.0 / rate
    late, busy = [], 0.0
    t0 = time.perf_counter() + 0.01
    due = [t0 + i * interval for i in range(len(requests))]
    for i, recs in enumerate(requests):
        now = time.perf_counter()
        if now < due[i]:
            time.sleep(due[i] - now)
        t_send = time.perf_counter()
        late.append(t_send - due[i])
        phase.send(i, recs)
        phase.poll(request=(phase.phase, i))
        busy += time.perf_counter() - t_send
    phase.drain()
    ack_ms = [(phase.ack_s[i] - due[i]) * 1e3 for i in range(len(requests))]
    vis_ms = [
        (phase.visible_s[i] - due[i]) * 1e3
        for i in range(len(requests)) if i in phase.visible_s
    ]
    tail = late[-max(1, len(late) // 10):]
    return {
        "rate": rate, "n": len(requests), "ack_ms": ack_ms, "visible_ms": vis_ms,
        "busy_s": busy,
        "late_ms": [x * 1e3 for x in late],
        # the backlog grows when the generator ends the step behind schedule
        "backlog_grows": median(tail) > interval,
    }


def _warm_up(spark) -> None:
    from redpanda_spark.engine import TopicEngine

    engine = TopicEngine(spark, tempfile.mkdtemp(prefix="warm-"))
    phase = Phase(engine, Tracer(spark, False), 99, seek=False)
    for i, recs in enumerate(Inputs(0).requests(99, 8)):
        phase.send(i, recs)
        phase.poll()


def measure(spark, args, tracer, check: bool = True) -> Measured:
    from redpanda_spark.engine import TopicEngine

    engine = TopicEngine(spark, tempfile.mkdtemp(prefix="interactive-"))
    tracer.wrap(engine, "fetch_rows", "engine.fetch_rows")
    inputs = Inputs(args.seed)
    total_w = sum(RATES.values())

    steps, phases = [], []
    for k, (rate, w) in enumerate(RATES.items()):
        n = max(2, round(rate * args.seconds * w / total_w))
        reqs = inputs.requests(k, n)
        phase = Phase(engine, tracer, k)
        c0, cpu0 = engine.counters(phase.topic), session_cpu_s()
        steps.append(_open_loop(phase, rate, reqs))
        c1, steps[-1]["cpu_s"] = engine.counters(phase.topic), session_cpu_s() - cpu0
        for c in ("tail_cache_hits", "tail_cache_misses"):
            steps[-1][c] = c1.get(c, 0) - c0.get(c, 0)
        phases.append(phase)

    # outside the timed windows: correctness, segment count, manifest size
    failed, failures = 0, []
    for phase in phases if check else ():
        n, msgs = phase.check()
        failed += n
        failures += msgs
    visible_ms = [x for s in steps for x in s["visible_ms"]]
    ref_i = list(RATES).index(REF_RATE)
    ref, ref_phase = steps[ref_i], phases[ref_i]
    manifest = os.path.join(engine.root, f"_manifest_{ref_phase.topic}.json")
    sustained = [
        s["rate"] for s in steps
        if not s["backlog_grows"] and percentile(s["visible_ms"], 99) <= VISIBLE_LIMIT_MS
    ]
    layer = {
        "produce_ack_p50_ms": percentile(ref["ack_ms"], 50),
        "produce_ack_p99_ms": percentile(ref["ack_ms"], 99),
        "visible_p50_ms": percentile(ref["visible_ms"], 50),
        "visible_p99_ms": percentile(ref["visible_ms"], 99),
        "sustained_rps": float(max(sustained, default=0)),
        "bench.gen_late_p99_ms": percentile(ref["late_ms"], 99),
        "engine.segments_end": engine.topic_stats(ref_phase.topic)["segments"],
        "engine.manifest_kb_end": os.path.getsize(manifest) / 1024.0 if os.path.exists(manifest) else 0.0,
        "engine.tail_hit_ratio": ref["tail_cache_hits"] / max(
            1, ref["tail_cache_hits"] + ref["tail_cache_misses"]),
    }
    if tracer.enabled:
        def in_ref(name):
            return [s for s in tracer.spans if s["name"] == name
                    and _ref_request(tracer, s) == ref_phase.phase]

        prod = in_ref("engine.produce_local")
        fetch_ms = [s["dur"] * 1e3 for s in in_ref("engine.fetch_rows")]
        layer.update({
            "engine.produce_local_p50_ms": percentile([s["dur"] * 1e3 for s in prod], 50),
            "engine.produce_local_p99_ms": percentile([s["dur"] * 1e3 for s in prod], 99),
            # each produce adds one segment, so request i sees i + 1 segments
            "engine.produce_local_us_per_segment": slope(
                [s["request"][1] for s in prod], [s["dur"] * 1e6 for s in prod]
            ),
            "engine.fetch_tail_p50_ms": percentile(fetch_ms, 50),
            "engine.fetch_tail_p99_ms": percentile(fetch_ms, 99),
            "coordinator.heartbeat_p50_ms": percentile(
                [s["dur"] * 1e3 for s in in_ref("coordinator.heartbeat")], 50),
            "coordinator.join_sync_ms": median(
                [s["dur"] * 1e3 for s in tracer.named("coordinator.join_sync")]),
        })
    return Measured(
        end_to_end={
            "latency_p50_ms": percentile(visible_ms, 50),
            "latency_p95_ms": percentile(visible_ms, 95),
            "ops_per_s": sum(s["n"] for s in steps) / sum(s["busy_s"] for s in steps),
            "cpu_ms_per_op": 1e3 * sum(s["cpu_s"] for s in steps) / sum(s["n"] for s in steps),
        },
        per_layer=layer,
        attempted=sum(len(p.expected) for p in phases),
        failed=failed, failures=failures,
        context={
            "sf_dir": None,
            "samples": {"requests": len(visible_ms), "ref_requests": ref["n"]},
            "steps": [
                {"rate": s["rate"], "n": s["n"], "backlog_grows": s["backlog_grows"],
                 "visible_p99_ms": percentile(s["visible_ms"], 99),
                 "late_p99_ms": percentile(s["late_ms"], 99)}
                for s in steps
            ],
        },
    )


def _ref_request(tracer, span):
    """The phase of the request a span (or its nearest ancestor) served."""
    while span is not None:
        if isinstance(span["request"], tuple):
            return span["request"][0]
        span = tracer.spans[span["parent"]] if span["parent"] is not None else None
    return None


def run(args):
    return run_workload(args, _warm_up, measure)
