"""Join diagnostics: the measurement half of skew handling.

operators/skew.py supplies the remedies (salted joins, salted
distinct-count); this module supplies the pre-flight DIAGNOSIS of an
equi-join — its exact output cardinality and the keys that dominate it —
without executing the join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from scala_etl_test_spark.caching import tracked_persist


def join_cardinality_profile(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    top_k: int = 10,
) -> DataFrame:
    """Exact join-output cardinality WITHOUT executing the join, plus the
    ``top_k`` keys that contribute the most output rows — the pre-flight
    check that tells you whether an equi-join is safe to run and which
    keys would dominate it. Uses the textbook identity
    ``|A ⋈ B| = Σ_k cnt_A(k) · cnt_B(k)``.

    Returns (join_key, n_left, n_right, n_pairs, total_join_rows): one row
    per top key (ordered by n_pairs desc, key asc — deterministic under
    ties), each carrying the exact total as a rider column. Keys present
    on only one side contribute nothing and are dropped by the inner join.

    Scale shape: two partial-aggregated groupBys (shuffle bytes ∝ distinct
    keys, not rows) meet in a join of count tables that are each ≤ the
    key cardinality — the profile never materializes a single joined row,
    so it is safe to run on a join whose OUTPUT would not fit anywhere.
    The top-k is a TakeOrderedAndProject and the total rides a broadcast
    1-row aggregate.
    """
    lc = left.groupBy(F.col(left_key).alias("join_key")).agg(
        F.count(F.lit(1)).alias("n_left")
    )
    rc = right.groupBy(F.col(right_key).alias("join_key")).agg(
        F.count(F.lit(1)).alias("n_right")
    )
    # persist: BOTH consumers (total, top-k) need the key-cardinality count
    # table, and without the cache each lineage re-scans and re-aggregates
    # both full inputs — the exact cost this profiler exists to avoid
    per = (
        lc.join(rc, on="join_key")
        .withColumn("n_pairs", F.col("n_left") * F.col("n_right"))
        .transform(tracked_persist)
    )
    totals = per.agg(F.sum("n_pairs").alias("total_join_rows"))
    top = per.orderBy(F.col("n_pairs").desc(), F.col("join_key")).limit(top_k)
    return (
        top.join(F.broadcast(totals))
        .select("join_key", "n_left", "n_right", "n_pairs", "total_join_rows")
        # the broadcast join gives no ordering guarantee — re-assert the
        # documented (n_pairs desc, key) contract on the ≤ top_k rows
        .orderBy(F.col("n_pairs").desc(), F.col("join_key"))
    )
