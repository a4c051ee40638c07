"""SparkSession builder tuned for the engine.

Local testing runs on ``local[N]``; the config choices below are the ones
that matter at cluster scale too: AQE on (runtime re-plan, skew-join
handling), shuffle partitions sized for the data volume, Arrow enabled for
the few Pandas-UDF paths, and broadcast threshold high enough that dimension
tables always broadcast.

Python workers find the package through ``spark.executorEnv.PYTHONPATH``
whatever the driver's working directory. The engine's own produce and
fetch paths run no Python worker for driver-sized batches: they route,
write and read in-process on Arrow.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "redpanda_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    extra_conf = dict(extra_conf or {})
    pythonpath = os.pathsep.join(
        p
        for p in (
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            extra_conf.pop("spark.executorEnv.PYTHONPATH", ""),
        )
        if p
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Join-strategy knobs were EVALUATED and deliberately left at
        # their defaults (r13 optimization round):
        # - spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold=128m
        #   (AQE SMJ->SHJ rewrite, guide §3.1) measured a 12x pathology
        #   on sf1 dedup_minhash (51 s vs 4 s) — rejected.
        # - spark.sql.join.preferSortMergeJoin=false: a plan-diff sweep
        #   (plan_id-normalized explain) over the join-bearing catalog
        #   queries showed ZERO plan changes — every join is either
        #   broadcast (dimension/control sides under the 64 MB threshold
        #   above) or doesn't meet SHJ's build-side conditions — so the
        #   knob is a no-op here; an apparent A/B win was traced to
        #   run-order bias and the knob reverted to default.
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        # manifest-based visibility makes _SUCCESS markers dead weight; on
        # object stores they'd be an extra PUT per micro-batch
        .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
        # testdata parquet may lack the UTC-adjusted flag; read event time as
        # TIMESTAMP (not NTZ) so watermarks/epoch arithmetic work uniformly
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.executorEnv.PYTHONPATH", pythonpath)
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
