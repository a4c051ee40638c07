"""Transaction coordinator — begin/commit/abort scope over topic writes.

Reference: coordinator `src/v/cluster/tm_stm.cc` (892 LoC), partition-side
`src/v/cluster/rm_stm.h:144-151` (begin/commit/abort_tx), epoch fencing,
and the introspection RPCs DescribeProducers (61) / DescribeTransactions
(65) / ListTransactions (66) (`src/v/kafka/server/handlers/
describe_producers.cc`, `describe_transactions.cc`, `list_transactions.cc`).

Spark design: transactional produce stages records like any append, but the
records carry (producer_id, producer_epoch, is_transactional=true). All
coordinator state lives in the engine's internal `__consumer_offsets`
topic, as tm_stm keeps its map in its own log:
- a "txn" record per transactional id holds its producer id and epoch,
  status, partition scope, staged group offsets and timeout;
- a "tx" record per (topic, partition, producer, first offset) holds a
  range's outcome: open, committed or aborted.
Every coordinator call commits one list of records through one
``engine._group_append`` (atomic, fenced, no Spark job on a local root),
so a crash lands on the state before the call or after it, and every
coordinator on the root reads the same state (``engine._group_map``).

A transactional produce first commits the Ongoing state and the open
ranges of the partitions it joins, at their high watermarks
(AddPartitionsToTxn, 24), and only then the data: rows never exist
without their range. A record list joins the partitions it is routed to
(``engine.route_records``), a DataFrame the whole topic; EndTxn drops the
ranges no record reached. EndTxn (26) commits the range outcomes, the
staged offsets (TxnOffsetCommit, 28) and the new state together, so a
transaction's rows and its input offsets become visible at once (KIP-98).
Readers at read_committed drop the aborted ranges and stop at the first
open one (engine._visibility); data files are never rewritten on abort,
as aborted batches stay in the reference's log (`fetch.cc:116-187`).

Producer ids come from the root's one allocator (_ProducerIdAllocator, the
`cluster/id_allocator_stm.cc` analog), which AdminClient shares.

State machine per transactional id (tm_stm tx_status analog):
    Empty → Ongoing → Committed|Aborted → (next begin) Ongoing ...
Epoch fencing: init_producer_id on an existing transactional id bumps the
epoch and aborts any ongoing transaction of the previous incarnation.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from redpanda_spark.operators.groups import offset_value, tx_range_record

TX_RANGE_SCHEMA = (
    "topic string, partition int, producer_id bigint, "
    "first_offset bigint, last_offset bigint, outcome string"
)


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

    def to_value(self) -> dict:
        """The value of the id's "txn" record: the fields, with the two
        tuple-keyed maps as lists."""
        return {
            **vars(self),
            "partitions": [
                [t, p, *rng]
                for t, parts in self.partitions.items()
                for p, rng in parts.items()
            ],
            "staged_offsets": [[*k, o] for k, o in self.staged_offsets.items()],
        }

    @classmethod
    def from_value(cls, v: dict) -> TxState:
        partitions: dict = {}
        for t, p, first, last in v["partitions"]:
            partitions.setdefault(t, {})[p] = (first, last)
        staged = {(g, t, p): o for g, t, p, o in v["staged_offsets"]}
        return cls(**{**v, "partitions": partitions, "staged_offsets": staged})

    def begin(self) -> None:
        self.status = "Ongoing"
        self.partitions = {}
        self.staged_offsets = {}
        self.started_at_ms = int(time.time() * 1000)


class _ProducerIdAllocator:
    """Monotonic producer-id allocation (cluster/id_allocator_stm.cc), the
    root's one source of producer ids, plain and transactional. Persisted
    in ``_producer_ids.json`` so ids survive restarts."""

    def __init__(self, root: str, fsio):
        self.root = root
        self.path = os.path.join(root, "_producer_ids.json")
        self.fsio = fsio

    def allocate(self) -> int:
        # reload + bump + save under the root write lock: every process on
        # the root shares the file, and a reissued pid breaks idempotence
        # and epoch fencing (the reference serializes this through raft)
        with self.fsio.write_lock(self.root):
            pid = (
                json.loads(self.fsio.read_text(self.path))["next_id"]
                if self.fsio.exists(self.path)
                else 0
            )
            # tmp + rename: a crash never loses the counter
            self.fsio.write_text_atomic(self.path, json.dumps({"next_id": pid + 1}))
            return pid


class TxCoordinator:
    """tm_stm analog over a TopicEngine. Holds no state of its own: any
    number of instances may serve one root."""

    def __init__(self, engine):
        self.engine = engine
        self._pids = _ProducerIdAllocator(engine.root, engine._fsio)

    @property
    def _txs(self) -> dict[str, TxState]:
        """Every transactional id's state, from its "txn" record."""
        return {
            k[1]: TxState.from_value(v)
            for k, v in self.engine._group_map().items()
            if k[0] == "txn"
        }

    def _commit(self, transactional_id: str, st: TxState, records=()) -> None:
        """``records`` and the id's new state as ONE commit."""
        self.engine._group_append(
            [*records, (("txn", transactional_id), st.to_value())]
        )

    # -- InitProducerId (22) ---------------------------------------------

    def init_producer_id(
        self, transactional_id: str, transaction_timeout_ms: int = 60_000
    ) -> tuple[int, int]:
        """Allocate/bump the producer identity; fences the previous epoch
        (aborting its ongoing transaction, tm_stm re-init semantics).
        `transaction_timeout_ms` is the client's transaction.timeout.ms —
        the coordinator aborts Ongoing transactions that outlive it
        (expire_transactions)."""
        st = self._state(transactional_id)
        records = []
        if st is None:
            st = TxState(producer_id=self._pids.allocate(), producer_epoch=0)
        else:
            if st.status == "Ongoing":
                records = self._end_records(st, commit=False)
            st.producer_epoch += 1
        st.timeout_ms = int(transaction_timeout_ms)
        self._commit(transactional_id, st, records)
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
        aborted transactional ids; all the aborts are one commit."""
        now = now_ms if now_ms is not None else int(time.time() * 1000)
        expired, records = [], []
        for tid, st in self._txs.items():
            if (
                st.status == "Ongoing"
                and st.started_at_ms is not None
                and now - st.started_at_ms > st.timeout_ms
            ):
                records += self._end_records(st, commit=False)
                # Kafka's abort-on-expiry epoch bump: the timed-out
                # incarnation is FENCED, not silently starting a new one
                st.producer_epoch += 1
                records.append((("txn", tid), st.to_value()))
                expired.append(tid)
        self.engine._group_append(records)
        return expired

    # -- transactional produce (AddPartitionsToTxn 24 + Produce) ---------

    def produce(
        self,
        transactional_id: str,
        topic: str,
        batch,
        producer_epoch: int | None = None,
    ) -> dict[int, int]:
        """Append a batch under the transaction's scope: the partitions it
        reaches first join the transaction at their high watermarks
        (AddPartitionsToTxn, one commit, skipped when all are in the
        scope already), then the data is produced.

        ``batch`` may be a DataFrame (distributed pipeline) or a list of
        record dicts/Rows — the latter rides the engine's zero-job
        driver-side produce path, so interactive transactional producers
        get the same hot-path latency as plain ones. A record list is
        routed here, each record pinned to its partition; a DataFrame is
        routed inside the produce, so the whole topic joins."""
        st = self._require(transactional_id)
        self._check_epoch(st, producer_epoch)
        if isinstance(batch, (list, tuple)):
            batch = [
                dict(r.asDict()) if hasattr(r, "asDict") else dict(r)
                for r in batch
            ]
            for r, p in zip(batch, self.engine.route_records(topic, batch)):
                r["partition"] = p
                r["producer_id"] = st.producer_id
                r["producer_epoch"] = st.producer_epoch
                r["is_transactional"] = True
            joins = {r["partition"] for r in batch}
        else:
            batch = (
                batch.withColumn("producer_id", F.lit(st.producer_id).cast("bigint"))
                .withColumn("producer_epoch", F.lit(st.producer_epoch).cast("smallint"))
                .withColumn("is_transactional", F.lit(True))
            )
            joins = set(range(self.engine._require(topic).partitions))
        if st.status != "Ongoing" or not joins <= set(st.partitions.get(topic, {})):
            highs = self.engine.high_watermarks(topic)
            at = {p: highs.get(p, 0) for p in joins}
            self.record_produced(transactional_id, topic, at, at)
        return self.engine.produce(topic, batch)

    def record_produced(
        self, transactional_id: str, topic: str, bases: dict, highs: dict
    ) -> None:
        """The bookkeeping half of a transactional produce (split out so
        the FSM is property-testable without Spark), as one commit:
        transition to Ongoing, extend the partition scope to ``highs``,
        and record each partition new to it as an OPEN range from its
        ``bases`` offset — the LSO gate (last_stable_offset) holds
        read_committed readers below the open range until EndTxn
        supersedes it (fetch.cc:341-399 read-bound semantics)."""
        st = self._require(transactional_id)
        if st.status != "Ongoing":
            st.begin()
        scope = st.partitions.setdefault(topic, {})
        records = []
        for p, base in bases.items():
            last = highs[p] - 1
            if p in scope:
                scope[p] = (scope[p][0], last)
            else:
                scope[p] = (base, last)
                records.append(
                    tx_range_record(topic, p, st.producer_id, base, 2**62, "open")
                )
        self._commit(transactional_id, st, records)

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
        if st.status != "Ongoing":
            # offsets-only (consume-only) transactions are legal: Kafka's
            # AddOffsetsToTxn starts the transaction exactly like
            # AddPartitionsToTxn — requiring a prior produce would force
            # dummy data writes
            st.begin()
        st.staged_offsets[(group_id, topic, partition)] = offset
        self._commit(transactional_id, st)

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
        self._commit(transactional_id, st, self._end_records(st, commit))

    def _end_records(self, st: TxState, commit: bool) -> list[tuple]:
        """EndTxn's records, moving ``st`` to Committed or Aborted: each
        range's outcome, up to its partition's high watermark (a range no
        record reached is dropped), and on commit the staged offsets."""
        outcome = "committed" if commit else "aborted"
        records = []
        for t, parts in st.partitions.items():
            try:
                highs = self.engine.high_watermarks(t)
            except KeyError:  # deleted mid-transaction: ranges purged with it
                highs = {}
            for p, (first, last) in parts.items():
                last = max(last, highs.get(p, 0) - 1)
                records.append(
                    tx_range_record(
                        t, p, st.producer_id, first, last,
                        outcome if last >= first else None,
                    )
                )
        if commit:
            records += [
                (("offset", *k), offset_value(o))
                for k, o in st.staged_offsets.items()
            ]
        st.status = "Committed" if commit else "Aborted"
        st.staged_offsets = {}
        return records

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

    def _state(self, transactional_id: str) -> TxState | None:
        v = self.engine._group_map().get(("txn", transactional_id))
        return None if v is None else TxState.from_value(v)

    def _require(self, transactional_id: str) -> TxState:
        st = self._state(transactional_id)
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
