"""Physical-plan quality gates.

Correctness tests prove the answers are right at small SF; these prove the
*plans* are the ones that survive a 100 TB / 1000-executor run: filters reach
the parquet scan, projections prune columns, small dimensions broadcast,
same-spec window expressions collapse into one shuffle, aggregations combine
map-side, and the hot path never leaves the JVM."""

from __future__ import annotations

import pytest

from scala_etl_test_spark.plans.queries import ORACLE_SQL, QUERIES


def plan(df, mode: str = "formatted") -> str:
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


@pytest.fixture(scope="module")
def q(spark, sf_dir):
    def run(name):
        return QUERIES[name](spark, sf_dir)

    return run


def test_filter_pushdown_reaches_parquet_scan(q):
    p = plan(q("scan_filter_project"))
    assert "PushedFilters: [" in p
    # at least one real predicate pushed, not an empty list
    assert "PushedFilters: []" not in p


def test_column_pruning_reaches_parquet_scan(q):
    """The projection must prune the lineitem scan to the referenced columns
    — reading all 16 columns for a narrow query is wrong at any scale."""
    p = plan(q("tpch_q1"))
    read_schema = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert read_schema, p
    line = read_schema[0]
    assert "l_comment" not in line and "l_partkey" not in line, line


def test_small_dimension_joins_broadcast(q):
    for name in ("broadcast_left_join", "tpch_q3", "tpch_q5"):
        p = plan(q(name))
        assert "BroadcastHashJoin" in p, f"{name} lost its broadcast:\n{p}"


def test_no_shuffle_in_products_pipeline(q):
    """Reference products pipeline is scan → narrow ops → broadcast join:
    shuffle-free (SURVEY §4.3). Any Exchange here is a regression."""
    p = plan(q("broadcast_left_join"))
    assert "Exchange hashpartitioning" not in p, p


def test_same_spec_windows_collapse_to_one_shuffle(q):
    """Four window sums over the identical partitionBy(user_id) spec must
    compile to ONE Window node / one exchange (SURVEY §4.2)."""
    p = plan(q("conditional_window_sum"), mode="simple")
    assert p.count("Window [") == 1, p
    assert p.count("Exchange hashpartitioning") == 1, p


def test_aggregation_combines_map_side(q):
    """TPC-H Q1 must partial-aggregate before the exchange (map-side
    combine): shuffled bytes ∝ groups, not rows."""
    p = plan(q("tpch_q1"))
    assert "partial_sum" in p or "partial_count" in p, p


def test_exact_dedup_single_shuffle(q):
    p = plan(q("dedup_exact"), mode="simple")
    assert p.count("Exchange hashpartitioning") == 1, p


def test_hot_paths_stay_jvm_side(q):
    """No row-at-a-time Python anywhere; Arrow-batched Python only in the
    explicitly-Python multimodal feature extractor."""
    python_ok = {
        "multimodal_features",
        "multimodal_features_long",
        "model_scores",
        # r12: the tolerant decode classification must read payload bytes
        # in Python by design (operators/multimodal.py:try_decode_media);
        # stats ride the same single Arrow pass instead of a second scan
        "multimodal_payload_stats",
    }
    for name in QUERIES:
        p = plan(q(name), mode="simple")
        assert "BatchEvalPython" not in p, f"{name} uses row-at-a-time Python UDF:\n{p}"
        if name not in python_ok:
            assert "ArrowEvalPython" not in p and "MapInPandas" not in p, (
                f"{name} unexpectedly leaves the JVM:\n{p}"
            )


def test_whole_stage_codegen_covers_core_queries(spark, sf_dir):
    """With AQE the codegen stars only appear in the final plan, so pin the
    non-adaptive plan: every core query must have codegen spans."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for name in ("tpch_q1", "category_rules", "text_quality"):
            p = plan(QUERIES[name](spark, sf_dir), mode="simple")
            assert "*(" in p, f"{name} has no whole-stage-codegen span:\n{p}"
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_approx_distinct_within_error_bound(q, spark, sf_dir):
    """HLL++ estimate (rsd=0.01) must sit within 5% of the exact distinct
    count per group — the sketch's documented accuracy with slack."""
    from pyspark.sql import functions as F
    from scala_etl_test_spark.plans.queries import q_approx_distinct_users_raw
    from scala_etl_test_spark.sources.parquet_source import read_table

    approx = {
        r["event_type"]: r["approx_users"]
        for r in q_approx_distinct_users_raw(spark, sf_dir).collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in read_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    assert approx.keys() == exact.keys()
    for k in exact:
        assert abs(approx[k] - exact[k]) <= max(1, 0.05 * exact[k]), (k, approx[k], exact[k])


def test_q21_single_scan_shared_window_exchange(q):
    """TPC-H Q21's three per-order rollups must be same-spec Window nodes
    over ONE exchange of ONE lineitem scan — the naive multi-CTE plan
    rescans the fact table three times (3× scan cost at 100 TB)."""
    p = plan(q("tpch_q21"), mode="simple")
    assert p.count("Scan parquet") <= 3, p  # lineitem + orders + supplier
    assert p.count("Window [") == 2, p
    # exchanges: groupBy(orderkey,suppkey) + window(orderkey) + final groupBy(suppkey)
    assert p.count("Exchange hashpartitioning") <= 3, p


def test_every_query_has_an_oracle_or_documented_reason(q):
    undocumented = {
        n
        for n in QUERIES
        if n not in ORACLE_SQL and "rows-only" not in (QUERIES[n].__doc__ or "").lower()
    }
    assert not undocumented, f"queries lacking oracle SQL without documented reason: {undocumented}"


def test_tpch2_dimension_broadcasts(q):
    """The adapted TPC-H tranche must broadcast its filtered dims — a
    sort-merge of lineitem against a 200-row part list is the plan that
    dies first at 100 TB."""
    for name in ("tpch_q9", "tpch_q17", "tpch_q19"):
        p = plan(q(name))
        assert "BroadcastHashJoin" in p, f"{name} lost its dim broadcast:\n{p}"


def test_fact_fact_joins_not_hint_forced(q, spark):
    """Broadcast discipline cuts BOTH ways: Q7/Q8's orders⋈customer join is
    fact⋈fact — both sides scale with SF, so it must NOT carry a forced
    broadcast hint (a hint there passes every small-SF test and then OOMs
    the driver at orders' real scale). With the auto-threshold disabled,
    only explicitly hinted dims may broadcast; the fact join must fall
    back to sort-merge. At real SF the auto-threshold/AQE still broadcasts
    genuinely small sides — that freedom is the point."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for name in ("tpch_q7", "tpch_q8"):
            p = plan(q(name), mode="simple")
            assert "SortMergeJoin [o_custkey" in p, f"{name} fact join hint-forced:\n{p}"
            assert "SortMergeJoin [l_orderkey" in p, f"{name} lineitem join hint-forced:\n{p}"
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_funnel_single_scan_no_joins(q):
    """The ordered funnel must be ONE events scan and no joins — the
    per-stage join formulation scans events once per funnel step (6 scans
    + 3 join exchanges for 3 steps). Exchanges: bot-cap window + per-user
    aggregate + stage rollup."""
    p = plan(q("events_funnel"), mode="simple")
    assert p.count("Scan parquet") == 1, p
    assert "Join" not in p, p
    assert p.count("Exchange hashpartitioning") <= 3, p


def test_decontaminate_broadcasts_bench_and_never_shuffles_raw_corpus(q):
    """Contamination check: the benchmark side must broadcast and the raw
    corpus shingle stream must reach the join WITHOUT a pre-join exchange —
    only join hits (a tiny fraction) may shuffle. A distinct/exchange on
    the full corpus shingle stream is the plan that dies at 100 TB."""
    p = plan(q("decontaminate"), mode="simple")
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p
    # exchanges: bench-side distinct + the two-phase count_distinct agg of
    # the (hits-only) join output; the corpus branch contributes none
    assert p.count("Exchange hashpartitioning") <= 3, p


def test_tokenize_vocab_broadcasts(q):
    """The tokenizer's word→id lookup must broadcast the vocab — a
    sort-merge join would shuffle every exploded corpus token on a skewed
    key ('the' is a hot word); a few-million-row vocab is broadcast
    material."""
    p = plan(q("tokenize_docs"), mode="simple")
    assert "BroadcastHashJoin [word" in p, p
    assert "SortMergeJoin [word" not in p, p


def test_pii_scan_single_scan_no_joins(q):
    """A row-local operator with a rollup must be scan → project → one
    aggregate exchange. A join back to the input to re-attach the shard key
    would double the corpus scan."""
    p = plan(q("pii_scan"), mode="simple")
    assert p.count("Scan parquet") == 1, p
    assert "Join" not in p, p
    assert p.count("Exchange hashpartitioning") == 1, p


def test_pack_sequences_single_window_single_scan(q):
    """Packing must be ONE window over ONE scan — each shard's packing is an
    independent ordered stream; any extra exchange or join is structural
    overhead that multiplies at corpus scale."""
    p = plan(q("pack_sequences"), mode="simple")
    assert p.count("Scan parquet") == 1, p
    assert p.count("Window [") == 1, p


def test_q20_single_fact_scan_via_window(q):
    """Q20's per-part rollup must be a window SUM over the per-(part,supp)
    aggregate — ONE lineitem scan, one lineage, and no persist() (the
    cached-table variant leaked storage into long-lived sessions)."""
    p = plan(q("tpch_q20"), mode="simple")
    assert p.count("Scan parquet") <= 3, p  # lineitem + part + supplier
    assert p.count("Window [") == 1, p
    assert "InMemoryTableScan" not in p, p


def test_runtime_bloom_filter_join_pruning(spark, sf_dir):
    """At cluster scale, a selective dim-side filter should inject a runtime
    bloom filter into the fact scan (row-level runtime filtering) instead of
    shuffling every fact row into the join. The thresholds that gate
    injection are size-based (creation side small, application side large),
    so force them for the pin; on a real 100 TB run the defaults
    (10MB/10GB) fire on their own."""
    from pyspark.sql import functions as F

    from scala_etl_test_spark.sources.parquet_source import read_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = read_table(spark, sf_dir, "lineitem")
        o = read_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        p = plan(j, mode="simple")
        assert "might_contain" in p.lower(), p
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_source_overlap_corpus_work_is_one_distinct(q):
    """The leakage matrix is one lineage: the corpus text is scanned once,
    its only corpus-sized stage is the per-shingle source set, and every
    matrix-side join is a broadcast over ≤ sources² rows — no sort-merge
    join and no cartesian product anywhere. The other documents scans read
    only the ``source`` column (the source list)."""
    p = plan(q("source_overlap_matrix"), mode="simple")
    assert "CartesianProduct" not in p, p
    assert "SortMergeJoin" not in p, p
    assert p.count("BroadcastHashJoin") <= 2, p
    text_scans = [
        line
        for line in p.splitlines()
        if "FileScan" in line
        and "documents.parquet" in line
        and "ReadSchema: struct<source:string>" not in line
    ]
    assert len(text_scans) == 1, p


def test_quality_sweep_single_corpus_aggregation(q):
    """The sweep's corpus-sized work is ONE map-side-combined groupBy on the
    score; the threshold theta-join and the totals join run over the
    persisted bucket rows (broadcast), never re-scanning the corpus."""
    p = plan(q("quality_filter_sweep"), mode="simple")
    assert "partial_count" in p, p
    assert "SortMergeJoin" not in p, p
    # both consumers (threshold join, totals) read the persisted buckets —
    # explain re-prints the cached subtree under each InMemoryTableScan, so
    # count cache hits, not FileScans
    assert p.count("InMemoryTableScan") == 2, p
