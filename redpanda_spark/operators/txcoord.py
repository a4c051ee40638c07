"""Transaction coordinator — begin/commit/abort scope over topic writes.

Reference: coordinator `src/v/cluster/tm_stm.cc` (892 LoC), partition-side
`src/v/cluster/rm_stm.h:144-151` (begin/commit/abort_tx), epoch fencing,
and the introspection RPCs DescribeProducers (61) / DescribeTransactions
(65) / ListTransactions (66) (`src/v/kafka/server/handlers/
describe_producers.cc`, `describe_transactions.cc`, `list_transactions.cc`).

Spark design: transactional produce stages records like any append, but the
records carry (producer_id, producer_epoch, is_transactional=true); the
coordinator tracks per-transactional-id state driver-side (tiny — one row
per open transaction, exactly like tm_stm's replicated map). A partition's
first transactional write records its range as open, and commit/abort
records the outcome under the same key: both are "tx" records of the
engine's internal `__consumer_offsets` topic (engine.append_tx_ranges),
one zero-job in-process commit each on a local root. Readers at
read_committed drop the aborted ranges and stop at the first open one
(operators/transactions.py::read_committed, engine._visibility) — so data
files are never rewritten on abort, matching the reference where aborted
batches stay in the log and are filtered at fetch time (`fetch.cc:116-187`)
and tx ranges are partition state rebuilt from the log (`rm_stm.h:130`).

Group offsets inside a transaction (TxnOffsetCommit, 28) are staged in the
coordinator and only forwarded to the engine's consumer-offset path when
the transaction commits — offsets-in-txn atomicity without special-casing
the offsets table.

State machine per transactional id (tm_stm tx_status analog):
    Empty → Ongoing → PrepareCommit/PrepareAbort → Complete(Committed|
    Aborted) → (next begin) Ongoing ...
Epoch fencing: init_producer_id on an existing transactional id bumps the
epoch and aborts any ongoing transaction of the previous incarnation.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TX_RANGE_SCHEMA = (
    "topic string, partition int, producer_id bigint, "
    "first_offset bigint, last_offset bigint, outcome string"
)
_TX_RANGE_COLUMNS = (
    "topic", "partition", "producer_id", "first_offset", "last_offset", "outcome"
)


def tx_ranges_frame(spark, rows: list[dict]) -> DataFrame:
    """Tx-range rows as an Arrow LocalRelation: collecting or joining it
    runs no Spark job, where a list-built createDataFrame is an RDD scan."""
    import pyarrow as pa

    table = pa.Table.from_pydict(
        {c: [r[c] for r in rows] for c in _TX_RANGE_COLUMNS}
    )
    return spark.createDataFrame(table, schema=TX_RANGE_SCHEMA)


class TxError(Exception):
    def __init__(self, code: str):
        super().__init__(code)
        self.code = code


@dataclass
class TxState:
    producer_id: int
    producer_epoch: int
    status: str = "Empty"  # Empty|Ongoing|Committed|Aborted
    # partition scope: {topic: {partition: (first_offset, last_offset)}}
    partitions: dict = field(default_factory=dict)
    # staged group offsets: {(group, topic, partition): offset}
    staged_offsets: dict = field(default_factory=dict)
    # transaction.timeout.ms + when the current transaction went Ongoing
    timeout_ms: int = 60_000
    started_at_ms: int | None = None


class TxCoordinator:
    """tm_stm analog over a TopicEngine. One instance per engine root."""

    def __init__(self, engine):
        self.engine = engine
        self.spark = engine.spark
        self._txs: dict[str, TxState] = {}
        self._next_pid = 1000
        # persistence rides the engine's filesystem abstraction so the
        # coordinator state lives NEXT TO the data it fences on URI /
        # object-store roots too (raw os IO would read nothing at load
        # and crash at save on a file:/s3a: root)
        self._fsio = engine._fsio
        self._path = os.path.join(engine.root, "_tx_coordinator.json")
        self._load()

    # -- persistence (tm_stm's raft-replicated map → json snapshot) -------

    def _load(self):
        if self._fsio.exists(self._path):
            d = json.loads(self._fsio.read_text(self._path))
            self._next_pid = d["next_pid"]
            for tid, s in d["txs"].items():
                st = TxState(s["producer_id"], s["producer_epoch"], s["status"])
                st.timeout_ms = s.get("timeout_ms", 60_000)
                st.started_at_ms = s.get("started_at_ms")
                st.partitions = {
                    t: {int(p): tuple(v) for p, v in parts.items()}
                    for t, parts in s["partitions"].items()
                }
                st.staged_offsets = {
                    tuple(json.loads(k)): v for k, v in s["staged_offsets"].items()
                }
                self._txs[tid] = st

    def _save(self):
        d = {
            "next_pid": self._next_pid,
            "txs": {
                tid: {
                    "producer_id": s.producer_id,
                    "producer_epoch": s.producer_epoch,
                    "status": s.status,
                    "timeout_ms": s.timeout_ms,
                    "started_at_ms": s.started_at_ms,
                    "partitions": s.partitions,
                    "staged_offsets": {
                        json.dumps(list(k)): v for k, v in s.staged_offsets.items()
                    },
                }
                for tid, s in self._txs.items()
            },
        }
        # tmp + rename locally, same contract through Hadoop on URI roots
        self._fsio.write_text_atomic(self._path, json.dumps(d))

    # -- InitProducerId (22) ---------------------------------------------

    def init_producer_id(
        self, transactional_id: str, transaction_timeout_ms: int = 60_000
    ) -> tuple[int, int]:
        """Allocate/bump the producer identity; fences the previous epoch
        (aborting its ongoing transaction, tm_stm re-init semantics).
        `transaction_timeout_ms` is the client's transaction.timeout.ms —
        the coordinator aborts Ongoing transactions that outlive it
        (expire_transactions)."""
        st = self._txs.get(transactional_id)
        if st is None:
            st = TxState(producer_id=self._next_pid, producer_epoch=0)
            self._next_pid += 1
            self._txs[transactional_id] = st
        else:
            if st.status == "Ongoing":
                self._end(transactional_id, commit=False)
                st = self._txs[transactional_id]
            st.producer_epoch += 1
        st.timeout_ms = int(transaction_timeout_ms)
        self._save()
        return st.producer_id, st.producer_epoch

    @staticmethod
    def _check_epoch(st: TxState, producer_epoch: int | None) -> None:
        """Zombie fencing: a caller presenting an epoch older than the
        current incarnation's is a fenced producer (tm_stm answers
        INVALID_PRODUCER_EPOCH). Callers that omit the epoch (legacy
        single-incarnation drivers) skip the check."""
        if producer_epoch is not None and producer_epoch != st.producer_epoch:
            raise TxError("INVALID_PRODUCER_EPOCH")

    def expire_transactions(self, now_ms: int | None = None) -> list[str]:
        """Abort every Ongoing transaction older than its
        transaction.timeout.ms — tm_stm's periodic expiry (the reference's
        coordinator aborts hung producers so their open ranges stop
        holding back the LSO and read_committed consumers). Returns the
        aborted transactional ids; each abort is recorded as the range's
        "tx" record of the internal topic exactly like a client abort, so
        fetch-side filtering needs no new machinery."""
        import time as _time

        now = now_ms if now_ms is not None else int(_time.time() * 1000)
        expired = [
            tid
            for tid, s in self._txs.items()
            if s.status == "Ongoing"
            and s.started_at_ms is not None
            and now - s.started_at_ms > s.timeout_ms
        ]
        for tid in expired:
            self._end(tid, commit=False)
            # bump the epoch so the timed-out incarnation is FENCED on
            # its next request instead of silently starting (and maybe
            # half-committing) a fresh transaction — Kafka's abort-on-
            # expiry bumps the epoch for exactly this reason
            self._txs[tid].producer_epoch += 1
        if expired:
            self._save()
        return expired

    # -- transactional produce (AddPartitionsToTxn 24 + Produce) ---------

    def produce(
        self,
        transactional_id: str,
        topic: str,
        batch,
        producer_epoch: int | None = None,
    ) -> dict[int, int]:
        """Append a batch under the transaction's scope. The partition set
        joins the transaction implicitly (AddPartitionsToTxn), and the
        written offset ranges are recorded for the eventual marker.

        ``batch`` may be a DataFrame (distributed pipeline) or a list of
        record dicts/Rows — the latter rides the engine's zero-job
        driver-side produce path, so interactive transactional producers
        get the same hot-path latency as plain ones."""
        st = self._require(transactional_id)
        self._check_epoch(st, producer_epoch)
        if isinstance(batch, (list, tuple)):
            recs = [
                dict(r.asDict()) if hasattr(r, "asDict") else dict(r)
                for r in batch
            ]
            for r in recs:
                r["producer_id"] = st.producer_id
                r["producer_epoch"] = st.producer_epoch
                r["is_transactional"] = True
            bases = self.engine.produce(topic, recs)
        else:
            df = (
                batch.withColumn("producer_id", F.lit(st.producer_id).cast("bigint"))
                .withColumn("producer_epoch", F.lit(st.producer_epoch).cast("smallint"))
                .withColumn("is_transactional", F.lit(True))
            )
            bases = self.engine.produce(topic, df)
        highs = self.engine.high_watermarks(topic)
        self.record_produced(transactional_id, topic, bases, highs)
        return bases

    def record_produced(
        self, transactional_id: str, topic: str, bases: dict, highs: dict
    ) -> None:
        """Pure bookkeeping half of a transactional produce (split out so
        the FSM is property-testable without Spark): transition to Ongoing,
        extend the partition scope, and record new partitions as OPEN —
        the LSO gate (last_stable_offset) holds read_committed readers
        below the open range until EndTxn supersedes it
        (fetch.cc:341-399 read-bound semantics)."""
        st = self._require(transactional_id)
        if st.status != "Ongoing":
            st.status = "Ongoing"
            st.partitions = {}
            st.staged_offsets = {}
            import time as _time

            st.started_at_ms = int(_time.time() * 1000)
        scope = st.partitions.setdefault(topic, {})
        new_open = []
        for p, base in bases.items():
            last = highs[p] - 1
            if p in scope:
                scope[p] = (scope[p][0], last)
            else:
                scope[p] = (base, last)
                new_open.append((p, base))
        if new_open:
            self.engine.append_tx_ranges(
                tx_ranges_frame(
                    self.spark,
                    [
                        dict(
                            topic=topic,
                            partition=p,
                            producer_id=st.producer_id,
                            first_offset=base,
                            last_offset=2**62,
                            outcome="open",
                        )
                        for p, base in new_open
                    ],
                )
            )
        self._save()

    # -- TxnOffsetCommit (28) / AddOffsetsToTxn (25) ---------------------

    def txn_offset_commit(
        self,
        transactional_id: str,
        group_id: str,
        topic: str,
        partition: int,
        offset: int,
        producer_epoch: int | None = None,
    ) -> None:
        st = self._require(transactional_id)
        self._check_epoch(st, producer_epoch)
        if st.status not in ("Ongoing", "Empty", "Committed", "Aborted"):
            raise TxError("INVALID_TXN_STATE")
        if st.status != "Ongoing":
            # offsets-only (consume-only) transactions are legal: Kafka's
            # AddOffsetsToTxn starts the transaction exactly like
            # AddPartitionsToTxn — requiring a prior produce would force
            # dummy data writes
            import time as _time

            st.status = "Ongoing"
            st.partitions = {}
            st.staged_offsets = {}
            st.started_at_ms = int(_time.time() * 1000)
        st.staged_offsets[(group_id, topic, partition)] = offset
        self._save()

    # -- EndTxn (26) ------------------------------------------------------

    def commit(
        self, transactional_id: str, producer_epoch: int | None = None
    ) -> None:
        self._end(transactional_id, commit=True, producer_epoch=producer_epoch)

    def abort(
        self, transactional_id: str, producer_epoch: int | None = None
    ) -> None:
        self._end(transactional_id, commit=False, producer_epoch=producer_epoch)

    def _end(
        self,
        transactional_id: str,
        commit: bool,
        producer_epoch: int | None = None,
    ) -> None:
        st = self._require(transactional_id)
        self._check_epoch(st, producer_epoch)
        if st.status != "Ongoing":
            if st.status in ("Committed", "Aborted"):
                return  # idempotent EndTxn
            raise TxError("INVALID_TXN_STATE")
        outcome = "committed" if commit else "aborted"
        rows = [
            dict(
                topic=t,
                partition=p,
                producer_id=st.producer_id,
                first_offset=rng[0],
                last_offset=rng[1],
                outcome=outcome,
            )
            for t, parts in st.partitions.items()
            for p, rng in parts.items()
        ]
        if rows:
            self.engine.append_tx_ranges(tx_ranges_frame(self.spark, rows))
        if commit:
            by_group: dict[str, dict] = {}
            for (group, topic, part), off in st.staged_offsets.items():
                by_group.setdefault(group, {})[(topic, part)] = off
            for group, offs in by_group.items():
                # one append per group (the OffsetCommit-request shape) —
                # a per-partition loop was one Spark job each and widened
                # the partial-forwarding crash window
                self.engine.offset_commit_batch(group, offs)
        st.status = "Committed" if commit else "Aborted"
        st.staged_offsets = {}
        self._save()

    # -- introspection (61/65/66) ----------------------------------------

    def list_transactions(self) -> list[dict]:
        return [
            {
                "transactional_id": tid,
                "producer_id": s.producer_id,
                "producer_epoch": s.producer_epoch,
                "state": s.status,
            }
            for tid, s in sorted(self._txs.items())
        ]

    def describe_transaction(self, transactional_id: str) -> dict:
        s = self._require(transactional_id)
        return {
            "transactional_id": transactional_id,
            "producer_id": s.producer_id,
            "producer_epoch": s.producer_epoch,
            "state": s.status,
            "partitions": {
                t: sorted(parts) for t, parts in s.partitions.items()
            },
        }

    def _require(self, transactional_id: str) -> TxState:
        st = self._txs.get(transactional_id)
        if st is None:
            raise TxError("UNKNOWN_TRANSACTIONAL_ID")
        return st


def describe_producers(log: DataFrame) -> DataFrame:
    """DescribeProducers (61): per (partition, producer) last sequence +
    offset — a groupBy over the log, shuffling only producer keys."""
    return (
        log.where(F.col("producer_id") >= 0)
        .groupBy("partition", "producer_id", "producer_epoch")
        .agg(
            F.max("base_sequence").alias("last_sequence"),
            F.max("offset").alias("last_offset"),
            F.count("*").alias("n_records"),
        )
    )
