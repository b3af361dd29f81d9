"""Skew-mitigation operators: salted join / salted distinct-count must be
row-identical to their plain forms, and the salting must actually spread
keys (structural checks on the plan + salt distribution)."""

from __future__ import annotations

from pyspark.sql import functions as F

from scala_etl_test_spark.operators.skew import (
    replicate_by_salt,
    salted_distinct_count,
    salted_join,
    with_salt,
)
from scala_etl_test_spark.sources.parquet_source import read_table


def _sets(df):
    return {tuple(r) for r in df.collect()}


def test_salted_inner_join_row_identical(spark, sf_dir):
    li = read_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k"), "l_quantity"
    )
    orders = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"), "o_orderpriority"
    )
    plain = li.join(orders, on=["k"])
    salted = salted_join(li, orders, on=["k"], salt=8)
    assert sorted(salted.columns) == sorted(plain.columns)
    assert _sets(salted) == _sets(plain)


def test_salted_left_join_keeps_unmatched(spark):
    left = spark.createDataFrame([(1, "a"), (2, "b"), (99, "orphan")], "k int, v string")
    right = spark.createDataFrame([(1, "x"), (2, "y")], "k int, w string")
    got = _sets(salted_join(left, right, on=["k"], salt=4, how="left"))
    want = _sets(left.join(right, on=["k"], how="left"))
    assert got == want  # orphan row survives exactly once with NULL w


def test_salt_is_deterministic_and_spread(spark, sf_dir):
    li = read_table(spark, sf_dir, "lineitem").limit(2000)
    a = with_salt(li, 16).select("_salt")
    b = with_salt(li, 16).select("_salt")
    assert _sets(a.groupBy("_salt").count()) == _sets(b.groupBy("_salt").count())
    n_buckets = a.distinct().count()
    assert n_buckets >= 12  # uniform hash actually spreads over the 16 buckets


def test_replicate_by_salt_exact_fanout(spark):
    df = spark.createDataFrame([(1,), (2,)], "k int")
    rep = replicate_by_salt(df, 5)
    assert rep.count() == 10
    assert rep.groupBy("k").count().filter(F.col("count") != 5).count() == 0


def test_salted_distinct_count_exact(spark, sf_dir):
    ev = read_table(spark, sf_dir, "events")
    got = _sets(salted_distinct_count(ev, "event_type", "user_id", salt=8))
    want = _sets(
        ev.groupBy("event_type").agg(
            F.count_distinct("user_id").cast("long").alias("n_distinct")
        )
    )
    assert got == want
