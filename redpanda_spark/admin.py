"""Admin surface — the config/topology/introspection RPCs (SURVEY.md §2.1
rows 4, 17-21, 26-31, 36-41) over the TopicEngine catalog.

Reference handlers: metadata.cc, describe_configs.cc, alter_configs.cc,
incremental_alter_configs.cc, create_partitions.cc, init_producer_id.h →
cluster/id_allocator_stm.cc, describe_log_dirs.cc, client_quotas.cc +
enforcement kafka/server/quota_manager.h:101-112.
"""

from __future__ import annotations

import os
import time

from redpanda_spark.engine import TopicConfig, TopicEngine
from redpanda_spark.operators.txcoord import TxCoordinator, _ProducerIdAllocator

# Topic configs that map to TopicConfig attributes (Kafka config names).
_ATTR_CONFIGS = {
    "cleanup.policy": "cleanup_policy",
    "retention.ms": "retention_ms",
    "retention.bytes": "retention_bytes",
    "message.timestamp.type": "timestamp_type",
    "delete.retention.ms": "delete_retention_ms",
    "max.message.bytes": "max_message_bytes",
    "min.cleanable.dirty.ratio": "min_cleanable_dirty_ratio",
    # tiered storage (redpanda.remote.write + retention.local.target.ms)
    "redpanda.remote.write": "remote_write",
    "retention.local.target.ms": "local_retention_ms",
}
_INT_CONFIGS = {
    "retention.ms", "retention.bytes", "delete.retention.ms",
    "max.message.bytes", "retention.local.target.ms",
}
_FLOAT_CONFIGS = {"min.cleanable.dirty.ratio"}
_BOOL_CONFIGS = {"redpanda.remote.write"}


class AdminClient:
    def __init__(self, engine: TopicEngine):
        self.engine = engine
        # both side stores ride the engine's filesystem abstraction so
        # admin metadata lives next to the data on URI / object-store
        # roots too (raw os IO reads nothing and crashes at save there)
        self._fsio = engine._fsio
        self._producer_ids = _ProducerIdAllocator(engine.root, engine._fsio)
        # client quotas are DURABLE cluster metadata in the reference
        # (AlterClientQuotas writes the controller log, client_quotas.cc);
        # persisted like producer ids so a restarted admin/CLI sees them.
        # Runtime token-bucket state (_bucket:/_last: keys) never persists.
        self._quotas_path = os.path.join(engine.root, "_quotas.json")
        self.quotas: dict[str, dict[str, float]] = {}
        if self._fsio.exists(self._quotas_path):
            import json as _json

            self.quotas = _json.loads(self._fsio.read_text(self._quotas_path))

    # -- Metadata (api key 3) ---------------------------------------------

    def metadata(self, topics: list[str] | None = None) -> dict:
        """Cluster metadata: topics, partition counts, 'leadership' (trivial
        single-node), start/high offsets."""
        cat = self.engine.list_topics()
        names = topics if topics is not None else sorted(cat)
        out = {"cluster_id": "redpanda-spark", "topics": {}}
        for t in names:
            if t not in cat:
                out["topics"][t] = {"error": "UNKNOWN_TOPIC_OR_PARTITION"}
                continue
            cfg = cat[t]
            hwm = self.engine.high_watermarks(t)
            out["topics"][t] = {
                "partitions": {
                    p: {"leader": 0, "high_watermark": hwm.get(p, 0)}
                    for p in range(cfg.partitions)
                }
            }
        return out

    # -- DescribeConfigs / AlterConfigs (32, 33, 44) ----------------------

    def describe_configs(self, topic: str) -> dict[str, str]:
        cfg = self.engine._require(topic)
        out = {k: str(getattr(cfg, attr)) for k, attr in _ATTR_CONFIGS.items()}
        out.update({k: v for k, v in cfg.configs.items() if not k.startswith("_")})
        return out

    def alter_configs(self, topic: str, changes: dict[str, str | None]) -> None:
        """Incremental alter: None deletes (resets) a key."""
        cfg = self.engine._require(topic)
        for k, v in changes.items():
            if k in _ATTR_CONFIGS:
                if v is None:
                    setattr(cfg, _ATTR_CONFIGS[k], TopicConfig().__getattribute__(_ATTR_CONFIGS[k]))
                else:
                    setattr(
                        cfg,
                        _ATTR_CONFIGS[k],
                        int(v)
                        if k in _INT_CONFIGS
                        else float(v)
                        if k in _FLOAT_CONFIGS
                        else str(v).lower() in ("true", "1", "yes")
                        if k in _BOOL_CONFIGS
                        else v,
                    )
            elif v is None:
                cfg.configs.pop(k, None)
            else:
                cfg.configs[k] = v
        self.engine._save_state()

    def quota_deficit(self, client_id: str, key: str, window_s: float = 1.0) -> float:
        """Post-paid quota, phase 1 (Kafka fetch semantics — the broker
        returns the data and delays SUBSEQUENT requests): refill the
        bucket and return the seconds until it is non-negative. Callers
        reject with 429 BEFORE doing any work when this is > 0."""
        limit = self.quotas.get(client_id, {}).get(key)
        if not limit:
            return 0.0
        bk, lk = f"_bucket:{key}", f"_last:{key}"
        q = self.quotas.setdefault(client_id, {})
        bucket = q.setdefault(bk, limit)
        now = time.monotonic()
        last = q.get(lk, now)
        bucket = min(limit, bucket + (now - last) * limit / window_s)
        q[bk], q[lk] = bucket, now
        return (-bucket) / (limit / window_s) if bucket < 0 else 0.0

    def quota_charge(self, client_id: str, nbytes: int, key: str) -> None:
        """Post-paid quota, phase 2: charge completed work. The bucket may
        go negative (the bytes were already read); the debt is repaid by
        refill time before the next request passes quota_deficit."""
        limit = self.quotas.get(client_id, {}).get(key)
        if not limit:
            return
        bk = f"_bucket:{key}"
        q = self.quotas[client_id]
        # seed at `limit` like quota_deficit/throttle do, so a charge that
        # lands first doesn't forfeit the client's initial burst allowance
        q[bk] = q.get(bk, limit) - nbytes

    # -- CreatePartitions (37) --------------------------------------------

    def create_partitions(self, topic: str, new_count: int) -> None:
        """Raise the partition count (never lowers — same as Kafka)."""
        cfg = self.engine._require(topic)
        if new_count <= cfg.partitions:
            raise ValueError(
                f"new partition count {new_count} must exceed {cfg.partitions}"
            )
        for p in range(cfg.partitions, new_count):
            self.engine._high.setdefault(topic, {})[p] = 0
        cfg.partitions = new_count
        self.engine._save_state()

    # -- ApiVersions (18) -------------------------------------------------

    def api_versions(self) -> dict[str, int]:
        """Capability negotiation: the operation surface this engine
        supports, keyed by the reference's API names
        (`handlers/handlers.h:70-112`). Version = 1 (single supported
        revision — semantic versioning happens in this repo, not the wire)."""
        ops = [
            "Produce", "Fetch", "ListOffsets", "Metadata", "OffsetCommit",
            "OffsetFetch", "FindCoordinator", "JoinGroup", "Heartbeat",
            "LeaveGroup", "SyncGroup", "DescribeGroups", "ListGroups",
            "ApiVersions", "CreateTopics", "DeleteTopics", "DeleteRecords",
            "InitProducerId", "AddPartitionsToTxn", "AddOffsetsToTxn",
            "EndTxn", "TxnOffsetCommit", "DescribeAcls", "CreateAcls",
            "DeleteAcls", "DescribeConfigs", "AlterConfigs",
            "IncrementalAlterConfigs", "CreatePartitions", "OffsetDelete",
            "DescribeLogDirs", "AlterClientQuotas", "DescribeClientQuotas",
            "DescribeProducers", "DescribeTransactions", "ListTransactions",
            "OffsetForLeaderEpoch", "SaslHandshake", "SaslAuthenticate",
            "AlterPartitionReassignments", "ListPartitionReassignments",
        ]
        return {op: 1 for op in ops}

    # -- OffsetForLeaderEpoch (23) ----------------------------------------

    def offset_for_leader_epoch(
        self, topic: str, partitions: dict[int, int] | None = None
    ) -> dict[int, dict[str, int]]:
        """Epoch -> end-offset for follower truncation detection
        (`handlers/offset_for_leader_epoch.cc:191`). The single-writer
        engine has no divergent leaders, so the leader epoch is the
        constant 0 for every partition and the answer for any requested
        epoch <= 0 is the log end offset; a from-the-future epoch (> 0)
        is UNDEFINED (-1), mirroring the reference's response for an
        epoch the leader has never seen."""
        hwm = self.engine.high_watermarks(topic)
        req = partitions if partitions is not None else {p: 0 for p in hwm}
        out = {}
        for p, epoch in req.items():
            if p not in hwm:
                out[p] = {"leader_epoch": -1, "end_offset": -1}
            elif epoch > 0:
                out[p] = {"leader_epoch": -1, "end_offset": -1}
            else:
                out[p] = {"leader_epoch": 0, "end_offset": hwm[p]}
        return out

    # -- AlterPartitionReassignments / ListPartitionReassignments (45, 46) -

    def alter_partition_reassignments(
        self, topic: str, assignments: dict[int, list[int]]
    ) -> dict[int, dict]:
        """Replica-placement moves are meaningless under the single-writer
        Spark engine (there is exactly one 'broker'); the handler exists
        for API parity (`handlers/alter_partition_reassignments.cc`) and
        validates the request against the topic catalog, echoing the
        (unchanged) placement. A move to any replica set other than [0]
        is rejected the way the reference rejects unknown broker ids."""
        cat = self.engine.list_topics()
        if topic not in cat:
            raise ValueError(f"unknown topic: {topic}")
        nparts = cat[topic].partitions
        out = {}
        for p, replicas in assignments.items():
            if p < 0 or p >= nparts:
                out[p] = {"error": "UNKNOWN_TOPIC_OR_PARTITION"}
            elif replicas is not None and replicas != [0]:
                out[p] = {"error": "INVALID_REPLICA_ASSIGNMENT"}
            else:
                out[p] = {"replicas": [0], "adding": [], "removing": []}
        return out

    def list_partition_reassignments(
        self, topics: list[str] | None = None
    ) -> dict:
        """No reassignment is ever in progress (placement is static)."""
        cat = self.engine.list_topics()
        names = topics if topics is not None else sorted(cat)
        return {t: {} for t in names if t in cat}

    # -- InitProducerId (22) ----------------------------------------------

    def init_producer_id(self, transactional_id: str | None = None) -> tuple[int, int]:
        """Allocate (producer_id, epoch): a fresh id without a
        transactional id; with one, the transaction coordinator's
        InitProducerId, whose re-init bumps the epoch and aborts the
        previous incarnation's ongoing transaction."""
        if transactional_id is None:
            return self._producer_ids.allocate(), 0
        return TxCoordinator(self.engine).init_producer_id(transactional_id)

    # -- DescribeLogDirs (35) ---------------------------------------------

    def describe_log_dirs(self) -> dict[str, dict]:
        out = {}
        for t in self.engine.list_topics():
            d = self.engine._topic_dir(t)
            size = 0
            n_files = 0
            for root, _dirs, files in os.walk(d):
                for fname in files:
                    size += os.path.getsize(os.path.join(root, fname))
                    n_files += 1
            out[t] = {"size_bytes": size, "n_files": n_files, "path": d}
        return out

    # -- Client quotas (48, 49) -------------------------------------------

    def alter_client_quota(self, client_id: str, key: str, value: float | None) -> None:
        import json as _json

        # reload-merge-save under the root write lock: quota CRUD can
        # come from several processes (CLI + engine + REST); an unlocked
        # RMW would drop a concurrent alter of a DIFFERENT client
        with self._fsio.write_lock(self.engine.root):
            if self._fsio.exists(self._quotas_path):
                durable = _json.loads(self._fsio.read_text(self._quotas_path))
                for c, q in durable.items():
                    mine = self.quotas.setdefault(c, {})
                    for k, v in q.items():
                        mine.setdefault(k, v)
            q = self.quotas.setdefault(client_id, {})
            if value is None:
                q.pop(key, None)
                if not any(not k.startswith("_") for k in q):
                    self.quotas.pop(client_id, None)
            else:
                q[key] = value
            self._save_quotas()

    def _save_quotas(self) -> None:
        import json as _json

        durable = {
            c: {k: v for k, v in q.items() if not k.startswith("_")}
            for c, q in self.quotas.items()
        }
        durable = {c: q for c, q in durable.items() if q}
        # tmp + rename locally, same contract through Hadoop on URI roots
        self._fsio.write_text_atomic(self._quotas_path, _json.dumps(durable))

    def describe_client_quotas(self) -> dict[str, dict[str, float]]:
        return {
            c: {k: v for k, v in q.items() if not k.startswith("_")}
            for c, q in self.quotas.items()
        }

    def throttle(
        self,
        client_id: str,
        bytes_requested: int,
        window_s: float = 1.0,
        key: str = "producer_byte_rate",
    ) -> float:
        """Token-bucket throttle (quota_manager.h:101-112) for the given
        quota key — producer_byte_rate on produce, consumer_byte_rate on
        fetch, each with its own bucket. Returns the delay in seconds the
        caller should wait; 0 = no throttling."""
        limit = self.quotas.get(client_id, {}).get(key)
        if not limit:
            return 0.0
        bk, lk = f"_bucket:{key}", f"_last:{key}"
        bucket = self.quotas.setdefault(client_id, {}).setdefault(bk, limit)
        now = time.monotonic()
        last = self.quotas[client_id].get(lk, now)
        bucket = min(limit, bucket + (now - last) * limit / window_s)
        delay = 0.0
        if bytes_requested > bucket:
            delay = (bytes_requested - bucket) / (limit / window_s)
            bucket = 0.0
        else:
            bucket -= bytes_requested
        self.quotas[client_id][bk] = bucket
        self.quotas[client_id][lk] = now
        return delay
