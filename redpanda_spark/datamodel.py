"""Canonical schemas for the engine (SURVEY.md §1.4).

A stored record's schema is the engine's segment schema
(``engine._SEGMENT_SCHEMA``, the Kafka v2 record fields of the
reference's `src/v/model/record.h:151,426` in the Spark–Kafka connector
row shape); the tables here are the catalog's.
"""

from __future__ import annotations

from pyspark.sql import types as T

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
