"""Per-record data transforms — the reference's Wasm transform engine
(SURVEY.md §2.5) re-expressed as Structured Streaming.

Reference architecture: transform_processor with read → transform → write
fibers, at-least-once, offsets committed in batches
(`src/v/transform/transform_processor.h:78`, `transform/commit_batcher.cc`);
user surface `OnRecordWritten(fn(event, writer))` — a per-record flatMap
emitting 0..n records to 1..n output topics
(`src/transform-sdk/go/transform/sdk.go:21-29`).

Spark mapping: `readStream` on the topic directory → `mapInPandas` flatMap
(Arrow-batched; the user fn is per-record but executes over columnar
batches) → `foreachBatch` routing each output topic through
``TopicEngine.produce`` (which assigns offsets atomically). Checkpointing
is Spark's — the commit-batcher dissolves into the streaming checkpoint.

At 100 TB the same topology is partition-parallel: the input stream is
hive-partitioned, the flatMap is narrow (no shuffle), and each sink append
is a per-partition file write.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from redpanda_spark.engine import TopicEngine

# A transform takes one record dict and yields (output_topic, record dict).
# Record dicts carry: key bytes|None, value bytes|None, headers, timestamp.
TransformFn = Callable[[dict], Iterable[tuple[str, dict]]]

_OUT_SCHEMA = (
    "out_topic string, key binary, value binary, timestamp timestamp,"
    " error string"
)


def _flatmap_batches(fn: TransformFn, dlq_topic: str | None = None):
    """``dlq_topic`` set: a record whose transform RAISES routes to the
    dead-letter topic unchanged (key/value/timestamp preserved, the
    exception text in ``error``) instead of failing the whole job — the
    Kafka-Connect errors.tolerance=all + DLQ policy; one poison record
    no longer stalls the stream (the reference's Wasm processor instead
    retries-forever on a throwing transform, stalling that partition:
    transform_processor.cc retry loop). Unset: raise, fail the batch —
    at-least-once redelivery, the reference's default."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "out_topic": [], "key": [], "value": [], "timestamp": [],
                "error": [],
            }

            def emit(topic, key, value, ts, err):
                out["out_topic"].append(topic)
                out["key"].append(key)
                out["value"].append(value)
                out["timestamp"].append(ts)
                out["error"].append(err)

            # column-wise record build: ~3-5x faster than
            # pdf.to_dict("records"), which routes every cell through
            # pandas' per-row Series machinery (guide §4.2 — keep the
            # per-record surface, cheapen the batch->record hop)
            rec_cols = list(pdf.columns)
            for vals in zip(*(pdf[c].tolist() for c in rec_cols)):
                rec = dict(zip(rec_cols, vals))
                try:
                    for out_topic, new in fn(rec):
                        emit(
                            out_topic,
                            new.get("key"),
                            new.get("value"),
                            new.get("timestamp", rec.get("timestamp")),
                            None,
                        )
                except Exception as e:  # noqa: BLE001 — poison-pill policy
                    if dlq_topic is None:
                        raise
                    emit(
                        dlq_topic,
                        rec.get("key"),
                        rec.get("value"),
                        rec.get("timestamp"),
                        f"{type(e).__name__}: {e}",
                    )
            yield pd.DataFrame(out)

    return gen


@dataclass
class TransformProcessor:
    """Deploy-style handle: input topic → user flatMap → output topics."""

    engine: TopicEngine
    input_topic: str
    fn: TransformFn
    output_topics: list[str]
    name: str = "transform"
    checkpoint_dir: str | None = None
    max_files_per_trigger: int = 64
    dlq_topic: str | None = None
    _query: object = field(default=None, repr=False)

    def _apply(self, df: DataFrame) -> DataFrame:
        cols = [c for c in ("key", "value", "timestamp", "partition", "offset") if c in df.columns]
        return df.select(*cols).mapInPandas(
            _flatmap_batches(self.fn, self.dlq_topic), _OUT_SCHEMA
        )

    def run_once_batch(self) -> dict[str, dict[int, int]]:
        """Batch-mode execution over the current topic contents (the
        deploy-from-start path); returns produce bases per output topic."""
        out = self._apply(self.engine.log(self.input_topic))
        return self._route(out)

    def _sinks(self) -> list[str]:
        return self.output_topics + (
            [self.dlq_topic]
            if self.dlq_topic and self.dlq_topic not in self.output_topics
            else []
        )

    @staticmethod
    def _to_records(sub: DataFrame) -> DataFrame:
        """Drop routing columns; DLQ rows carry the exception text as a
        ``dlq.error`` record header (the Kafka-Connect DLQ convention)."""
        with_headers = sub.withColumn(
            "headers",
            F.when(
                F.col("error").isNotNull(),
                F.array(
                    F.struct(
                        F.lit("dlq.error").alias("key"),
                        F.encode(F.col("error"), "utf-8").alias("value"),
                    )
                ),
            ),
        )
        return with_headers.drop("out_topic", "error")

    def _route(self, out: DataFrame) -> dict[str, dict[int, int]]:
        sinks = self._sinks()
        # persist: the emptiness probe plus one produce per sink would
        # otherwise re-execute the user fn over the full input once per
        # sink (side-effecting fns would re-fire; compute multiplies)
        out = out.persist()
        try:
            stray = (
                out.where(
                    F.col("out_topic").isNull()
                    | ~F.col("out_topic").isin(sinks)
                )
                .select("out_topic")
                .first()
            )
            if stray is not None:
                # the reference SDK fails a transform writing to an
                # undeclared output topic — never silently drops records
                raise ValueError(
                    f"transform routed records to undeclared topic "
                    f"{stray['out_topic']!r} (declared sinks: {sinks})"
                )
            results: dict[str, dict[int, int]] = {}
            for t in sinks:
                sub = out.where(F.col("out_topic") == t)
                if sub.isEmpty():
                    continue
                results[t] = self.engine.produce(t, self._to_records(sub))
            return results
        finally:
            out.unpersist()

    def start_stream(self, trigger_available_now: bool = True):
        """Continuous execution via Structured Streaming file source."""
        src = self.engine.log_stream(self.input_topic, self.max_files_per_trigger)
        out = self._apply(src)

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            # same routing as batch mode: persisted once, undeclared
            # topics fail the query instead of silently dropping records
            self._route(batch_df)

        writer = out.writeStream.foreachBatch(sink).queryName(self.name)
        if self.checkpoint_dir:
            writer = writer.option("checkpointLocation", self.checkpoint_dir)
        if trigger_available_now:
            writer = writer.trigger(availableNow=True)
        self._query = writer.start()
        return self._query


# -- ready-made transforms (mirror the reference's e2e test transforms,
#    tests/rptest/tests/data_transforms_test.py: identity / filter /
#    transcode / multi-output) -------------------------------------------


def identity_transform(output_topic: str) -> TransformFn:
    def fn(rec: dict):
        yield output_topic, rec

    return fn


def filter_transform(output_topic: str, predicate: Callable[[dict], bool]) -> TransformFn:
    def fn(rec: dict):
        if predicate(rec):
            yield output_topic, rec

    return fn


def uppercase_value_transform(output_topic: str) -> TransformFn:
    def fn(rec: dict):
        v = rec.get("value")
        yield output_topic, {**rec, "value": v.upper() if v is not None else None}

    return fn


def fanout_by_key_transform(route: Callable[[dict], str]) -> TransformFn:
    """Multi-output: route each record to a topic chosen by the user fn."""

    def fn(rec: dict):
        yield route(rec), rec

    return fn
