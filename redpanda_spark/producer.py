"""Client-side produce batching — the KafkaProducer linger.ms / batch.size
analog.

The reference's small-batches throughput gate
(`tests/rptest/perf/small_batches_test.py`) drives the broker with
librdkafka clients whose sends are PIPELINED: many small application-level
sends coalesce into few wire-level produce requests, and acks resolve
asynchronously. A synchronous engine.produce() per 5k-row batch is a
stricter discipline than any Kafka client actually follows. This module
restores the client semantics over TopicEngine: ``send`` enqueues a batch
without running a Spark job; the accumulated group is routed,
offset-assigned, written and manifest-committed as ONE append when
``flush`` runs (or when ``linger_batches`` sends have accumulated). A
group of materialized cached frames that hold at most the engine's byte
bound (``engine._LOCAL_PRODUCE_MAX_BYTES``) is collected with one
``toArrow()`` job and appended in-process, filling the hot tail; a bigger
group, or one over uncached plans, takes the distributed produce
pipeline.

Record order: offsets respect send order per topic partition — the union
concatenates batches in send order, and both produce paths assign offsets
in that concatenation order (the Arrow collect's row order in-process,
monotonically_increasing_id over the unioned frame when distributed).

Delivery semantics match Kafka's async producer: durability at flush()
(acks resolve when the group's manifest commit lands), not at send().
flush() returns the {partition: base_offset} of the flushed group as a
whole; per-send base offsets are not individually reported (a send
callback analog would need per-(send, partition) counts — out of scope).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame

from redpanda_spark.engine import TopicEngine


class BufferedProducer:
    def __init__(self, engine: TopicEngine, topic: str, linger_batches: int = 32):
        if linger_batches < 1:
            raise ValueError("linger_batches must be >= 1")
        self.engine = engine
        self.topic = topic
        self.linger_batches = linger_batches
        self._buffer: list[DataFrame] = []
        # cumulative per-partition base offsets of the last flush
        self.last_flush_bases: dict[int, int] = {}

    def send(self, batch: DataFrame) -> None:
        """Enqueue a batch (no Spark job). Triggers a flush once
        ``linger_batches`` sends have accumulated."""
        self._buffer.append(batch)
        if len(self._buffer) >= self.linger_batches:
            self.flush()

    def flush(self) -> dict[int, int]:
        """Commit everything buffered as one atomic append; returns the
        group's {partition: base_offset} ({} if nothing buffered)."""
        if not self._buffer:
            return {}
        group = reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), self._buffer
        )
        # the union stacks every sent frame's partitions (N sends x M
        # partitions of scheduling overhead); coalesce narrows the map
        # side back to the session's parallelism before the one append
        par = self.engine.spark.sparkContext.defaultParallelism
        group = group.coalesce(par)
        self._buffer = []
        self.last_flush_bases = self.engine.produce(self.topic, group)
        return self.last_flush_bases

    def __enter__(self) -> "BufferedProducer":
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        if exc_type is None:
            self.flush()
