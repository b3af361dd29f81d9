"""Join diagnostics (operators/diagnostics.py): the pre-flight join
cardinality profile, the measurement half of skew handling."""

from __future__ import annotations


class TestJoinCardinalityProfile:
    def test_total_matches_actual_join_and_topk_order(self, spark):
        from scala_etl_test_spark.operators.diagnostics import join_cardinality_profile

        left = spark.createDataFrame(
            [(k,) for k in [1] * 5 + [2] * 3 + [3] * 1 + [9] * 4], ["k"]
        )
        right = spark.createDataFrame(
            [(k,) for k in [1] * 2 + [2] * 6 + [3] * 1 + [7] * 8], ["k"]
        )
        out = join_cardinality_profile(left, right, "k", "k", top_k=2).collect()
        actual = left.join(right, on="k").count()
        # identity: Σ cnt_l(k)·cnt_r(k) == |A ⋈ B|, computed without the join
        assert all(r["total_join_rows"] == actual for r in out)
        assert actual == 5 * 2 + 3 * 6 + 1 * 1
        # top-2 by n_pairs desc: key 2 (18 pairs) then key 1 (10 pairs);
        # one-sided keys (9, 7) contribute nothing
        assert [(r["join_key"], r["n_pairs"]) for r in out] == [(2, 18), (1, 10)]

    def test_profile_never_executes_the_join(self, spark):
        from scala_etl_test_spark.operators.diagnostics import join_cardinality_profile

        left = spark.createDataFrame([(1,), (1,)], ["k"])
        right = spark.createDataFrame([(1,), (1,)], ["k"])
        df = join_cardinality_profile(left, right, "k", "k")
        plan = df._jdf.queryExecution().executedPlan().toString()
        # the count tables join; the raw inputs never meet row-for-row —
        # every join input in the plan sits above an aggregate
        assert plan.count("Join") >= 1
        rows = df.collect()
        assert rows[0]["total_join_rows"] == 4
