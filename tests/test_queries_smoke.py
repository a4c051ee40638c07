"""Smoke: every catalog query runs at sf0.001 and returns a stable schema;
entry() contract works."""

from __future__ import annotations

import pytest

from redpanda_spark.plans.queries import ORACLES, QUERIES


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_runs(spark, sf_dir, name):
    df = QUERIES[name](spark, sf_dir)
    assert df.columns  # schema resolves
    assert df.count() >= 0


def test_oracles_reference_existing_queries():
    assert set(ORACLES) <= set(QUERIES)


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()) <= set(e.queries())


def test_bucketed_join_is_shuffle_free(spark, sf_dir, tmp_path):
    """Write orders + lineitem bucketed on the order key: their join must
    compile with ZERO Exchange operators — the persistent pre-shuffle
    layout for 100 TB fact-fact joins."""
    from pyspark.sql import functions as F

    from redpanda_spark.sources.bucketed import write_bucketed
    from redpanda_spark.sources.tables import load_table

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        write_bucketed(
            load_table(spark, sf_dir, "orders"), "b_orders", "o_orderkey", 8
        )
        write_bucketed(
            load_table(spark, sf_dir, "lineitem").withColumnRenamed(
                "l_orderkey", "o_orderkey"
            ),
            "b_lineitem",
            "o_orderkey",
            8,
        )
        joined = (
            spark.table("b_orders")
            .join(spark.table("b_lineitem"), "o_orderkey")
            .groupBy("o_orderstatus")
            .agg(F.count("*").alias("n"))
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan.replace(
            "Exchange hashpartitioning(o_orderstatus", ""
        ), plan  # no join-key shuffle (the final groupBy may still exchange)
        # the join itself ran and returns sane totals
        n = joined.agg(F.sum("n")).collect()[0][0]
        assert n == load_table(spark, sf_dir, "lineitem").count()
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
