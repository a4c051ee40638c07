"""Canonical schemas for the engine (SURVEY.md §1.4).

The record model mirrors the Kafka v2 record the reference stores
(`src/v/model/record.h:151,426` in the reference) expressed as the
Spark–Kafka connector row shape, which we adopt verbatim so any Spark
user's Kafka-reading code ports directly.
"""

from __future__ import annotations

from pyspark.sql import types as T

# One record in a topic — the universal row shape.
# Mirrors reference `src/v/model/record.h:151` fields + Kafka connector schema.
RECORD_SCHEMA = T.StructType(
    [
        T.StructField("topic", T.StringType(), False),
        T.StructField("partition", T.IntegerType(), False),
        T.StructField("offset", T.LongType(), False),
        T.StructField("timestamp", T.TimestampType(), False),
        # 0 = create_time (client event time), 1 = append_time (broker ingest)
        # reference: src/v/model/timestamp.h:30
        T.StructField("timestamp_type", T.IntegerType(), False),
        T.StructField("key", T.BinaryType(), True),
        # NULL value => tombstone (reference: src/v/model/record.h:253-255)
        T.StructField("value", T.BinaryType(), True),
        T.StructField(
            "headers",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("key", T.StringType(), True),
                        T.StructField("value", T.BinaryType(), True),
                    ]
                )
            ),
            True,
        ),
        # Idempotence / transactions (reference: src/v/model/record.h:565,
        # src/v/cluster/rm_stm.h:67-73). -1 = non-idempotent producer.
        T.StructField("producer_id", T.LongType(), False),
        T.StructField("producer_epoch", T.ShortType(), False),
        T.StructField("base_sequence", T.IntegerType(), False),
        T.StructField("is_transactional", T.BooleanType(), False),
        T.StructField("is_control", T.BooleanType(), False),
    ]
)

# Topic catalog row (reference: created by CreateTopics,
# src/v/kafka/server/handlers/create_topics.cc).
TOPIC_META_SCHEMA = T.StructType(
    [
        T.StructField("topic", T.StringType(), False),
        T.StructField("partitions", T.IntegerType(), False),
        T.StructField("cleanup_policy", T.StringType(), False),  # delete|compact
        T.StructField("retention_ms", T.LongType(), True),
        T.StructField("retention_bytes", T.LongType(), True),
        T.StructField("timestamp_type", T.StringType(), False),  # CreateTime|LogAppendTime
        T.StructField("log_start_offset", T.LongType(), False),
        T.StructField("configs", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

# Committed consumer-group offsets as commit events (reference:
# __consumer_offsets topic, src/v/kafka/server/group_metadata.h:71,121) —
# the commits table the catalog's group queries read. The engine stores
# the same state as keyed records of its internal __consumer_offsets
# topic (operators/groups.encode_group_record).
CONSUMER_OFFSETS_SCHEMA = T.StructType(
    [
        T.StructField("group_id", T.StringType(), False),
        T.StructField("topic", T.StringType(), False),
        T.StructField("partition", T.IntegerType(), False),
        T.StructField("committed_offset", T.LongType(), False),
        T.StructField("leader_epoch", T.IntegerType(), False),
        T.StructField("metadata", T.StringType(), True),
        T.StructField("commit_seq", T.LongType(), False),
        T.StructField("deleted", T.BooleanType(), False),
    ]
)

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
