"""Bucketed co-located join (measurements/SCALE.md "Joins"): pre-bucketing both
sides on the join key removes the shuffle entirely — the physical plan
must contain a SortMergeJoin with NO Exchange. This is the at-scale
layout for repeatedly-joined fact/dim tables."""

import pytest

from pyspark.sql import functions as F

from arnab_spark.spark_utils import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def bucketed_tables(spark, tmp_path):
    orders = load_table(spark, SF, "orders")
    customer = load_table(spark, SF, "customer")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_customer")
    (
        orders.write.bucketBy(8, "o_custkey")
        .sortBy("o_custkey")
        .option("path", str(tmp_path / "b_orders"))
        .saveAsTable("b_orders")
    )
    (
        customer.write.bucketBy(8, "c_custkey")
        .sortBy("c_custkey")
        .option("path", str(tmp_path / "b_customer"))
        .saveAsTable("b_customer")
    )
    yield
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_customer")


def test_bucketed_join_has_no_shuffle(spark, bucketed_tables):
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_orders").join(
            spark.table("b_customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        n = joined.count()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert n > 0
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan[:800]}"
        # equivalence with the plain (shuffled) join
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        plain = load_table(spark, SF, "orders").join(
            load_table(spark, SF, "customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        assert plain.count() == n
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
