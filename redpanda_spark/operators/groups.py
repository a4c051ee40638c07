"""Consumer-group operators (SURVEY.md §2.3).

The reference persists group offsets and group metadata as keyed records
in the compacted `__consumer_offsets` topic
(`src/v/kafka/server/group_metadata.h:71,121`) and recovers state by
replay (`group_recovery_consumer.cc`). The engine does the same: its
internal ``__consumer_offsets`` topic holds records encoded by
:func:`encode_group_record`, replayed driver-side into a keep-latest map.
The DataFrame operators below read a commits table (one row per commit
event, keep-latest by (group, topic, partition)) — the catalog queries'
shape, and the one the engine's offset expiry feeds :func:`expired_offsets`.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from redpanda_spark.operators.compaction import compact_keep_latest

GROUP_KEY = ["group_id", "topic", "partition"]


def encode_group_record(
    key: tuple, value: dict | None
) -> tuple[bytes, bytes | None]:
    """Record key and value bytes of one record of the internal topic. Keys
    are ``("offset", group, topic, partition)``, ``("group", group)`` or
    ``("tx", topic, partition, producer_id, first_offset)``;
    values are JSON objects; ``None`` is the tombstone (null value)."""
    return (
        json.dumps(key).encode(),
        None if value is None else json.dumps(value).encode(),
    )


def decode_group_record(key: bytes, value: bytes | None) -> tuple[tuple, dict | None]:
    return tuple(json.loads(key)), None if value is None else json.loads(value)


def offset_fetch(commits: DataFrame) -> DataFrame:
    """OffsetFetch: latest committed offset per (group, topic, partition).

    Tombstoned entries (OffsetDelete) are excluded, matching compacted-topic
    recovery semantics.
    """
    latest = compact_keep_latest(commits, GROUP_KEY, order_col="commit_seq")
    return latest.where(~F.col("deleted")).select(
        *GROUP_KEY, "committed_offset", "leader_epoch", "metadata"
    )


def group_lag(commits: DataFrame, log_ends: DataFrame) -> DataFrame:
    """Per (group, topic, partition) lag = high watermark − committed offset.

    ``log_ends``: (topic?, partition, high_watermark). Small (one row per
    partition) → broadcast join, no shuffle of the commits side beyond the
    keep-latest agg.
    """
    latest = offset_fetch(commits)
    join_keys = [k for k in ("topic", "partition") if k in log_ends.columns]
    return latest.join(F.broadcast(log_ends), join_keys, "inner").withColumn(
        "lag", F.col("high_watermark") - F.col("committed_offset")
    )


def expired_offsets(
    commits: DataFrame,
    now_ns: int,
    retention_ms: int,
    active_groups: DataFrame | None = None,
) -> DataFrame:
    """Offsets eligible for expiry (KIP-211; reference: group offset GC in
    the group coordinator — `src/v/kafka/server/group.cc` offset_expiry):
    the LATEST commit per (group, topic, partition) is expirable when it is
    older than `offsets.retention.ms` AND the group has no live members.
    Earlier commits never matter (keep-latest shadows them), and a single
    fresh commit protects its partition slot."""
    latest = compact_keep_latest(commits, GROUP_KEY, order_col="commit_seq")
    cutoff = now_ns - retention_ms * 1_000_000
    exp = latest.where(~F.col("deleted") & (F.col("commit_seq") < cutoff))
    if active_groups is not None:
        exp = exp.join(
            F.broadcast(active_groups.select("group_id")), "group_id", "left_anti"
        )
    return exp.select(*GROUP_KEY, "committed_offset", "commit_seq")
