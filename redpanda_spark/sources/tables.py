"""Table loaders + topic-view builders.

``topic_view`` adapts the driver's synthetic ``events`` table into the
canonical topic/partition/offset log shape (SURVEY.md §1.4): the topic is a
partitioned, offset-indexed record table, exactly how the reference models a
Kafka topic (`src/v/model/fundamental.h:299` topic_partition,
`src/v/model/record.h:151` record).

Scale notes:
- ``partition`` is derived with ``pmod`` (hash-partitioner analog); at ingest
  time the real path assigns it via the murmur2 partitioner
  (functions.hashes.murmur2_partition) for byte-compat with Kafka clients.
- ``offset`` here is derived with a per-partition window ordered by the
  monotonic event id. This is a *view adapter for pre-generated testdata
  only*: a real append path assigns offsets at write time (see
  operators/log.py::assign_offsets) so no global sort is ever needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from redpanda_spark.datamodel import TESTDATA_TABLES

DEFAULT_NUM_PARTITIONS = 8


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Some testdata files carry TIMESTAMP(NANOS) columns, which Spark's
    # reader rejects; read them as int64 nanos and truncate to micros.
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return normalize_event_time(df)


def normalize_event_time(df: DataFrame) -> DataFrame:
    """Cast TIMESTAMP_NTZ columns to TIMESTAMP.

    Testdata parquet may carry ``timestamp[us]`` without the UTC-adjusted
    flag, which Spark infers as TIMESTAMP_NTZ. NTZ breaks event-time ops
    (``withWatermark`` requires TIMESTAMP; ``cast(ntz as double)`` is
    illegal), so every loader funnels through this normalization. Sessions
    run with UTC session time, making the cast value-preserving and
    matching the DuckDB oracle's naive-as-UTC read of the same files.
    """
    for c, t in df.dtypes:
        if t == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TESTDATA_TABLES}


# Cache marks owned by the PREVIOUS query invocation, freed on the next
# one: persist() is lazy, so a query can mark a reused subplan cached and
# let the caller's single action materialize it — no eager count() barrier
# — at the cost of at most one invocation's cached blocks outliving their
# query in a long-lived sequential session (gate/bench/CLI are sequential).
_DEFERRED_UNPERSIST: list[DataFrame] = []


def defer_unpersist(*dfs: DataFrame) -> None:
    _DEFERRED_UNPERSIST.extend(dfs)


def drain_deferred_unpersist() -> None:
    while _DEFERRED_UNPERSIST:
        try:
            _DEFERRED_UNPERSIST.pop().unpersist()
        except Exception:  # session already stopped — nothing to free
            pass


def parallelize_narrow(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Repartition a too-narrow input so per-row-heavy stages use every core.

    A small parquet table often arrives as ONE split, so expensive per-row
    expression work (shingling, k-way hashing, vector math) runs on a single
    task while 31 cores idle. The round-robin shuffle moves each raw row
    once — negligible next to the compute it parallelizes. No-op when the
    input already has enough splits (any real table at scale), so this never
    adds a shuffle on the 100 TB path.
    """
    sc = df.sparkSession.sparkContext
    target = min_parts or sc.defaultParallelism
    try:
        # exact split count straight off the JVM physical plan — avoids
        # df.rdd, which wraps the query in a Python-serializer RDD
        # conversion on every probe
        n = df._jdf.queryExecution().toRdd().getNumPartitions()
    except Exception:  # e.g. Spark Connect: no _jdf
        n = df.rdd.getNumPartitions()
    if n < target:
        return df.repartition(target)
    return df


def topic_view(
    spark: SparkSession,
    sf_dir: str,
    num_partitions: int = DEFAULT_NUM_PARTITIONS,
) -> DataFrame:
    """events table → canonical log columns.

    Output: partition INT, offset BIGINT (contiguous per partition from 0),
    timestamp, key (user_id), event_type, value, props, event_id.

    The window shuffle here is one repartition-by-partition + local sort —
    the same distribution every downstream per-partition operator needs, so
    Catalyst reuses the exchange. At 100 TB the real table is written
    pre-partitioned and offsets are already materialized; this adapter only
    exists for the read-only testdata.
    """
    ev = load_table(spark, sf_dir, "events")
    part = F.pmod(F.col("user_id"), F.lit(num_partitions)).cast("int")
    w = Window.partitionBy("partition").orderBy("event_id")
    return (
        ev.withColumn("partition", part)
        .withColumn("offset", (F.row_number().over(w) - F.lit(1)).cast("long"))
    )


# DuckDB-equivalent SQL for topic_view, used to build oracle queries that the
# driver cross-checks. Keep in lock-step with topic_view().
def topic_view_oracle_sql(num_partitions: int = DEFAULT_NUM_PARTITIONS) -> str:
    return f"""
    SELECT *,
           CAST(user_id % {num_partitions} AS INTEGER) AS partition,
           CAST(ROW_NUMBER() OVER (PARTITION BY user_id % {num_partitions}
                                   ORDER BY event_id) - 1 AS BIGINT) AS "offset"
    FROM events
    """
