"""Consumer-group operators (SURVEY.md §2.3).

The reference persists group offsets and group metadata as keyed records
in the compacted `__consumer_offsets` topic
(`src/v/kafka/server/group_metadata.h:71,121`) and recovers state by
replay (`group_recovery_consumer.cc`). The engine does the same: its
internal ``__consumer_offsets`` topic holds records encoded by
:func:`encode_group_record`, replayed driver-side into a keep-latest map.
The DataFrame operators below read a commits table (one row per commit
event, keep-latest by (group, topic, partition)) — the catalog queries'
shape.
"""

from __future__ import annotations

import json
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from redpanda_spark.operators.compaction import compact_keep_latest

GROUP_KEY = ["group_id", "topic", "partition"]


def encode_group_record(
    key: tuple, value: dict | None
) -> tuple[bytes, bytes | None]:
    """Record key and value bytes of one record of the internal topic. Keys
    are ``("offset", group, topic, partition)``, ``("group", group)``,
    ``("tx", topic, partition, producer_id, first_offset)`` or
    ``("txn", transactional_id)``; values are JSON objects; ``None`` is
    the tombstone (null value)."""
    return (
        json.dumps(key).encode(),
        None if value is None else json.dumps(value).encode(),
    )


def decode_group_record(key: bytes, value: bytes | None) -> tuple[tuple, dict | None]:
    return tuple(json.loads(key)), None if value is None else json.loads(value)


def offset_value(offset: int, metadata: str = "") -> dict:
    """The value of an ``"offset"`` record: a committed position."""
    return {
        "committed_offset": int(offset),
        "leader_epoch": 0,
        "metadata": metadata,
        "commit_seq": time.time_ns(),  # commit time: KIP-211 expiry
    }


def tx_range_record(
    topic, partition, producer_id, first_offset, last_offset, outcome
) -> tuple[tuple, dict | None]:
    """The ``"tx"`` record of one transaction range: open, committed or
    aborted (an EndTxn outcome replaces the open record under its key);
    a None outcome is the range's tombstone."""
    key = ("tx", topic, partition, producer_id, first_offset)
    if outcome is None:
        return key, None
    return key, {"last_offset": last_offset, "outcome": outcome}


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

