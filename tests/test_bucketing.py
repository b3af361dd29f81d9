"""Bucketed tables: the co-located join must be exchange-free (and
sort-free when bucket-sorted), and results must match the plain join."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from scala_etl_test_spark.sources.bucketing import write_bucketed
from scala_etl_test_spark.sources.parquet_source import read_table

from tests.test_plans import plan


@pytest.fixture()
def bucketed_tables(spark, sf_dir, tmp_path):
    li = read_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k"), "l_quantity"
    )
    orders = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"), "o_orderpriority"
    )
    write_bucketed(li, "li_b", ["k"], 4, path=str(tmp_path / "li_b"))
    write_bucketed(orders, "orders_b", ["k"], 4, path=str(tmp_path / "orders_b"))
    yield li, orders
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS orders_b")


def test_bucketed_join_has_no_exchange(spark, bucketed_tables):
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("li_b").join(spark.table("orders_b"), on=["k"])
        p = plan(joined, mode="simple")
        assert "SortMergeJoin" in p, p
        assert "Exchange" not in p, f"bucketed join still shuffles:\n{p}"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")


def test_bucketed_join_matches_plain_join(spark, bucketed_tables):
    li, orders = bucketed_tables
    got = {tuple(r) for r in spark.table("li_b").join(spark.table("orders_b"), on=["k"]).collect()}
    want = {tuple(r) for r in li.join(orders, on=["k"]).collect()}
    assert got == want
