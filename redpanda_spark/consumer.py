"""Consumer client facade — the KafkaConsumer lifecycle over the engine.

The repo has every consumer primitive as a separate surface (group FSM
in operators/coordinator.py, committed offsets + fetch on the engine);
this ties them into the loop every Kafka client runs — and every
reference e2e test drives (`tests/rptest/tests/consumer_group_test.py`):

    subscribe -> JoinGroup/SyncGroup (assignment) -> poll (fetch from
    committed or auto.offset.reset position) -> commit -> heartbeat /
    rejoin on rebalance -> close

Poll returns records for THIS member's assigned partitions only,
starting from the group's committed offset per partition (or the reset
policy's position when nothing is committed: "earliest" = log start,
"latest" = high watermark). ``commit()`` records the consumed positions
as one record batch in the engine's internal compacted
``__consumer_offsets`` topic, so progress survives the member, the
group, and the process.

Driver-side control loop; start positions and polls run in-process (the
replayed group map, ``engine.fetch_rows``). At cluster scale one of these
runs per external consumer — the engine serves any number concurrently
because fetches are reads and commits are appends.
"""

from __future__ import annotations

from redpanda_spark.operators.coordinator import GroupManager


class Consumer:
    def __init__(
        self,
        engine,
        manager: GroupManager,
        group_id: str,
        topics: list[str],
        auto_offset_reset: str = "earliest",
        group_instance_id: str | None = None,
        assignor: str = "range",
    ):
        if auto_offset_reset not in ("earliest", "latest"):
            raise ValueError("auto_offset_reset must be earliest|latest")
        self.engine = engine
        self.manager = manager
        self.group_id = group_id
        # KafkaConsumer.subscribe(pattern=...) analog: a "~"-prefixed entry
        # is a regex resolved against the live topic catalog at every
        # subscribe/rejoin, so topics created later join the subscription
        # on the next rebalance (metadata-refresh semantics).
        self._topic_spec = list(topics)
        self.topics = self._resolve_topics()
        self.auto_offset_reset = auto_offset_reset
        self.group_instance_id = group_instance_id
        self.assignor = assignor
        self.member_id: str | None = None
        self.generation = 0
        self.assignment: dict[str, list[int]] = {}
        # positions this member will fetch next: {(topic, partition): offset}
        self._positions: dict[tuple[str, int], int] = {}
        self._paused: set[tuple[str, int]] = set()

    def _resolve_topics(self) -> list[str]:
        import re

        out: list[str] = []
        for spec in self._topic_spec:
            if spec.startswith("~"):
                rx = re.compile(spec[1:])
                out += [t for t in sorted(self.engine.list_topics()) if rx.fullmatch(t)]
            else:
                out.append(spec)
        return list(dict.fromkeys(out))  # stable order, deduped

    def offsets_for_times(self, ts) -> dict[tuple[str, int], int | None]:
        """KafkaConsumer.offsets_for_times over the assignment: first
        offset with timestamp >= ts per assigned partition (engine
        timequery; None where no such record)."""
        out: dict[tuple[str, int], int | None] = {}
        for topic, parts in self.assignment.items():
            hits = {
                r["partition"]: r["offset"]
                for r in self.engine.timequery(topic, ts).collect()
            }
            for p in parts:
                out[(topic, p)] = hits.get(p)
        return out

    # -- group membership --------------------------------------------------

    def subscribe(self) -> dict[str, list[int]]:
        """Join + sync until the group is stable and this member holds an
        assignment (retrying while other members trickle in is the
        caller's loop — tests drive all members explicitly)."""
        from redpanda_spark.operators.coordinator import CoordinatorError

        self.topics = self._resolve_topics()
        g = self.manager.get(self.group_id)
        r = g.join_group(
            self.member_id,
            {self.assignor: self.topics},
            group_instance_id=self.group_instance_id,
        )
        self.member_id = r["member_id"]
        self.generation = r["generation"]
        try:
            self.assignment = g.sync_group(self.member_id, self.generation)
        except CoordinatorError as e:
            if e.code not in ("REBALANCE_IN_PROGRESS", "ILLEGAL_GENERATION"):
                raise
            # other members still joining: empty assignment until the
            # next subscribe()/heartbeat() completes the generation
            self.assignment = {}
        self._positions = {}
        return dict(self.assignment)

    def heartbeat(self) -> str:
        from redpanda_spark.operators.coordinator import CoordinatorError

        g = self.manager.get(self.group_id)
        try:
            code = g.heartbeat(self.member_id, self.generation)
        except CoordinatorError as e:
            if e.code == "UNKNOWN_MEMBER_ID":
                # session expired / fenced: a Kafka client resets its
                # member_id and rejoins fresh instead of erroring forever
                self.member_id = None
                code = "REBALANCE_IN_PROGRESS"
            elif e.code == "ILLEGAL_GENERATION":
                code = "REBALANCE_IN_PROGRESS"
            else:
                raise
        if code == "REBALANCE_IN_PROGRESS":
            self.subscribe()  # rejoin, new generation + assignment
        elif not self.assignment:
            # stable-group straggler: our sync raced the leader's during
            # the rebalance, but the coordinator holds this member's
            # final assignment now — fetch it (Kafka followers re-sync)
            try:
                self.assignment = g.sync_group(self.member_id, self.generation)
            except CoordinatorError:
                pass
        return code

    def close(self) -> None:
        """Dynamic members leave (triggers a rebalance); static members
        just stop — their slot survives for the restarted instance
        (KIP-345 client behavior)."""
        if self.member_id and self.group_instance_id is None:
            self.manager.get(self.group_id).leave_group(self.member_id)
        self.member_id = None

    # -- consumption -------------------------------------------------------

    def _start_position(self, topic: str, partition: int) -> int:
        self._init_positions([(topic, partition)])
        return self._positions[(topic, partition)]

    def _init_positions(self, keys: list[tuple[str, int]]) -> None:
        """Resolve start positions for all ``keys`` with ONE committed-
        offsets read (``engine.committed_offsets``, from the replayed
        keep-latest map) plus one watermark/log-start lookup per topic,
        all in-process: no JVM call."""
        missing = [k for k in keys if k not in self._positions]
        if not missing:
            return
        committed = self.engine.committed_offsets(self.group_id)
        reset_cache: dict[str, dict[int, int]] = {}
        for topic, p in missing:
            if (topic, p) in committed:
                self._positions[(topic, p)] = committed[(topic, p)]
                continue
            if topic not in reset_cache:
                reset_cache[topic] = (
                    self.engine.high_watermarks(topic)
                    if self.auto_offset_reset == "latest"
                    else self.engine._log_starts(topic)
                )
            self._positions[(topic, p)] = reset_cache[topic].get(p, 0)

    def poll(
        self,
        max_records_per_partition: int | None = None,
        max_partition_fetch_bytes: int | None = None,
    ) -> dict:
        """Fetch new records for every assigned partition from the current
        position; advances in-memory positions (commit() makes them
        durable). Returns {(topic, partition): [rows...]}.

        Each partition is one ``engine.fetch_rows`` with zero Spark jobs:
        served from the hot-tail cache when it covers the position, else
        from a pyarrow read of the manifest-pruned parquet segments;
        ``max_partition_fetch_bytes`` applies the Kafka per-partition
        byte budget (whole records, oversized first record still
        returned)."""
        if not self.assignment:
            raise RuntimeError("not subscribed / empty assignment")
        out: dict[tuple[str, int], list] = {}
        self._init_positions(
            [
                (topic, p)
                for topic, parts in self.assignment.items()
                for p in parts
                if (topic, p) not in self._paused
            ]
        )
        for topic, parts in self.assignment.items():
            for p in parts:
                key = (topic, p)
                if key in self._paused:
                    continue
                rows = self.engine.fetch_rows(
                    topic, p,
                    offset=self._positions[key],
                    max_records=max_records_per_partition,
                    max_bytes=max_partition_fetch_bytes,
                )
                if rows:
                    self._positions[key] = rows[-1]["offset"] + 1
                out[key] = rows
        return out

    def _require_assigned(self, topic: str, partition: int) -> None:
        if partition not in self.assignment.get(topic, []):
            raise RuntimeError(f"partition {topic}/{partition} not assigned")

    def seek(self, topic: str, partition: int, offset: int) -> None:
        """KafkaConsumer.seek: next poll reads this partition from
        `offset` (commit() then persists it, same as a normal advance)."""
        self._require_assigned(topic, partition)
        self._positions[(topic, partition)] = int(offset)

    def seek_to_beginning(self, topic: str, partition: int) -> None:
        self._require_assigned(topic, partition)
        self._positions[(topic, partition)] = self.engine._log_starts(topic).get(
            partition, 0
        )

    def seek_to_end(self, topic: str, partition: int) -> None:
        self._require_assigned(topic, partition)
        self._positions[(topic, partition)] = self.engine.high_watermarks(topic).get(
            partition, 0
        )

    def position(self, topic: str, partition: int) -> int:
        """Next offset poll() will read for this partition."""
        self._require_assigned(topic, partition)
        key = (topic, partition)
        if key not in self._positions:
            self._positions[key] = self._start_position(topic, partition)
        return self._positions[key]

    def pause(self, topic: str, partition: int) -> None:
        """Flow control: poll() skips paused partitions without losing
        their positions (KafkaConsumer.pause semantics)."""
        self._require_assigned(topic, partition)
        self._paused.add((topic, partition))

    def resume(self, topic: str, partition: int) -> None:
        self._paused.discard((topic, partition))

    def paused(self) -> set[tuple[str, int]]:
        return set(self._paused)

    def commit(self) -> None:
        """Commit every polled position (OffsetCommit semantics: the
        committed offset is the NEXT offset to read) — one record batch
        for the whole assignment, like the single OffsetCommit RPC."""
        self.engine.offset_commit_batch(self.group_id, dict(self._positions))

    def __enter__(self) -> "Consumer":
        self.subscribe()
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        self.close()
