"""The stage-width decisions of ``operators/partitioning.py``: when
``spread`` adds a compact shuffle before a fan-out and when it passes
through, how wide ``pin_by_key`` pins a keyed exchange, and that the
pinned exchanges of registry queries still run at that width after AQE."""

from __future__ import annotations

import pytest
from pyspark.sql import Window, functions as F
from pyspark.sql.functions import udf

from scala_etl_test_spark.caching import _TRACKED, release_persisted
from scala_etl_test_spark.operators.partitioning import (
    _max_partition_bytes,
    _output_partitions,
    pin_by_key,
    spread,
)
from scala_etl_test_spark.sources.parquet_source import read_table


def test_pin_by_key_width_follows_the_shuffle_partitions(spark):
    # at the session defaults (shuffle partitions = cores) the pin declares
    # exactly defaultParallelism, the count of the fixed pins it replaced;
    # past that it follows spark.sql.shuffle.partitions, so partition size
    # does not grow without bound as data does
    target = spark.sparkContext.defaultParallelism
    df = spark.range(100).withColumn("k", F.col("id") % 7)
    assert _output_partitions(pin_by_key(df, "k")) == target
    key = "spark.sql.shuffle.partitions"
    original = spark.conf.get(key)
    try:
        spark.conf.set(key, str(3 * target))
        assert _output_partitions(pin_by_key(df, "k")) == 3 * target
        # never more tasks than the keys the caller knows of
        assert _output_partitions(pin_by_key(df, "k", 5)) == 5
    finally:
        spark.conf.set(key, original)


def _seq(scala_seq) -> list:
    out, it = [], scala_seq.iterator()
    while it.hasNext():
        out.append(it.next())
    return out


def _children(plan) -> list:
    """Children of a physical node, seeing through AQE's wrappers and into
    a cached relation's own plan."""
    out = _seq(plan.children())
    name = plan.nodeName()
    if name == "AdaptiveSparkPlan":
        out.append(plan.executedPlan())
    elif name.endswith("QueryStage"):
        out.append(plan.plan())
    elif name == "InMemoryTableScan":
        out.append(plan.relation().cachedPlan())
    return out


def _keyed_reduce_tasks(plan, key: str, parents: tuple = ()) -> list[int]:
    """Reduce-task count of every executed exchange hash-partitioned on
    ``key`` alone: the partitions of the AQE read above it when AQE
    rewrote the read (coalescing), else the exchange's own count."""
    found = []
    part = plan.outputPartitioning() if plan.nodeName() == "Exchange" else None
    if part is not None and str(part).startswith("hashpartitioning("):
        exprs = _seq(part.expressions())
        if len(exprs) == 1 and str(exprs[0]).split("#")[0] == key:
            read = parents[-2] if len(parents) >= 2 else None
            if read is not None and read.nodeName().startswith("AQEShuffleRead"):
                found.append(read.partitionSpecs().size())
            else:
                found.append(part.numPartitions())
    for child in _children(plan):
        found += _keyed_reduce_tasks(child, key, parents + (plan,))
    return found


@pytest.mark.parametrize(
    "query, keys",
    [
        ("item_cf_neighbors", ["_b"]),
        ("dedup_prefix_jaccard", ["id_a", "id_b"]),
        ("label_spread", ["cluster_id"]),
    ],
)
def test_pinned_exchanges_run_at_full_width(spark, sf_dir, query, keys):
    # What the pins are for: each of these keyed exchanges is small in bytes
    # but feeds compute-heavy work, and AQE coalesces an unpinned one into
    # ONE reduce task. After execution, the final adaptive plan (and the
    # plan that filled a persisted assignment) must show every exchange on
    # the pinned key read by defaultParallelism tasks.
    from scala_etl_test_spark.plans.queries import QUERIES

    target = spark.sparkContext.defaultParallelism
    release_persisted()
    try:
        df = QUERIES[query](spark, sf_dir)
        df.collect()
        plans = [df._jdf.queryExecution().executedPlan()]
        plans += [t._jdf.queryExecution().executedPlan() for t in _TRACKED]
        for key in keys:
            tasks = [n for p in plans for n in _keyed_reduce_tasks(p, key)]
            assert tasks and all(n == target for n in tasks), (key, tasks)
    finally:
        release_persisted()


def test_spread_skips_well_partitioned_input(spark, sf_dir):
    # spread must not add a shuffle when the input's parallelism is already
    # governed by an upstream exchange (a production table repartitioned to
    # >= cores would otherwise be moved wholesale once per operator call).
    docs = read_table(spark, sf_dir, "documents")
    target = spark.sparkContext.defaultParallelism
    pre = docs.repartition(target * 2, "doc_id")
    assert spread(pre, "doc_id") is pre  # pass-through, no new plan node
    # single-file scan underuses the cores -> repartition kicks in
    out = spread(docs, "doc_id")
    assert out is not docs
    assert out.rdd.getNumPartitions() == target


def test_spread_sees_through_partition_collapsing_nodes(spark, sf_dir):
    # The governing node is the one NEAREST THE ROOT: plans whose output
    # parallelism is explicitly collapsed (coalesce/small repartition/limit)
    # or merely narrow-sorted must still get the spread, while plans whose
    # top partitioning node is cluster-governed pass through.
    docs = read_table(spark, sf_dir, "documents")
    target = spark.sparkContext.defaultParallelism
    # output parallelism collapsed -> spread MUST kick in
    for collapsed in (
        docs.coalesce(1),
        docs.repartition(max(1, target // 2)),
        docs.groupBy("doc_id").count().coalesce(1),  # coalesce above the agg governs
        docs.limit(50),
        docs.sortWithinPartitions("doc_id"),  # preserves the 1-file layout below
        # a broadcast join keeps its streamed side's one-file scan layout
        docs.join(F.broadcast(docs.select("doc_id").limit(3)), "doc_id"),
    ):
        out = spread(collapsed, "doc_id")
        assert out is not collapsed
        assert out.rdd.getNumPartitions() == target
    # a streaming source has no batch plan to read: it gets the spread
    stream = spark.readStream.schema(docs.schema).parquet(f"{sf_dir}/documents.parquet")
    assert spread(stream, "doc_id") is not stream
    # cluster-governed top nodes -> pass through untouched
    for governed in (
        docs.orderBy("doc_id"),  # global sort range-partitions
        docs.repartition("doc_id"),  # defaults to shuffle.partitions
        docs.groupBy("doc_id").agg(F.count(F.lit(1)).alias("c")),
    ):
        assert spread(governed, "doc_id") is governed


def test_spread_global_window_gets_spread(spark, sf_dir):
    # ADVICE r6: a Window with an EMPTY partitionSpec range-partitions its
    # output to ONE partition — it must NOT pass as "cluster-governed",
    # while a partitioned window still does.
    docs = read_table(spark, sf_dir, "documents")
    target = spark.sparkContext.defaultParallelism
    global_win = docs.withColumn(
        "rn", F.row_number().over(Window.orderBy("doc_id"))
    )
    out = spread(global_win, "doc_id")
    assert out is not global_win
    assert out.rdd.getNumPartitions() == target
    partitioned_win = docs.withColumn(
        "rn", F.row_number().over(Window.partitionBy("source").orderBy("doc_id"))
    )
    assert spread(partitioned_win, "doc_id") is partitioned_win
    # partitionBy without orderBy is still partitioned -> governed
    part_only = docs.withColumn(
        "s", F.sum("doc_id").over(Window.partitionBy("source"))
    )
    assert spread(part_only, "doc_id") is part_only
    # ADVICE r7: BOTH specs empty (Window.partitionBy() with no orderBy)
    # renders a single bracket group — it also collapses output to ONE
    # partition and must NOT be classified as cluster-governed.
    both_empty = docs.withColumn("s", F.sum("doc_id").over(Window.partitionBy()))
    out = spread(both_empty, "doc_id")
    assert out is not both_empty
    assert out.rdd.getNumPartitions() == target


def test_max_partition_bytes_reads_the_session_conf(spark):
    # ADVICE r6: '128m' must parse as 128 MiB, not 128 bytes (which inflated
    # the split estimate ~10^6x and skipped the spread on small corpora).
    df = spark.range(1)
    key = "spark.sql.files.maxPartitionBytes"
    original = spark.conf.get(key, "134217728")
    try:
        for raw, want in [
            ("134217728", 134217728),
            ("128m", 128 << 20),
            ("128MB", 128 << 20),
            ("1g", 1 << 30),
            ("64k", 64 << 10),
        ]:
            spark.conf.set(key, raw)
            assert _max_partition_bytes(df) == want, raw
    finally:
        spark.conf.set(key, original)


def test_spread_never_executes_shuffle_bearing_input(spark, sf_dir):
    # ADVICE r5: probing df.rdd under AQE EXECUTES the upstream stages of a
    # shuffle-bearing plan at spread call time (work not reused by the plan
    # built afterwards). The guard must decide from free metadata only: here
    # the input is poisoned with a UDF that raises on ANY execution, so a
    # regression back to eager probing fails loudly.
    boom = udf(lambda _: 1 // 0, "int")  # ZeroDivisionError if any task runs
    docs = read_table(spark, sf_dir, "documents")
    poisoned = (
        docs.withColumn("z", boom("doc_id"))
        .groupBy("doc_id")
        .agg(F.sum("z").alias("z"))
    )
    # aggregate-derived ⇒ parallelism is shuffle.partitions ⇒ pass through
    assert spread(poisoned, "doc_id") is poisoned
    # join-derived likewise (the duplicate_spans / incremental-dedup shape)
    joined = docs.join(docs.select("doc_id"), on="doc_id").withColumn("z", boom("doc_id"))
    assert spread(joined, "doc_id") is joined
    # a cached frame: planning its in-memory relation must fill nothing
    # (whether it passes through or gets the spread is not the point here)
    sc = spark.sparkContext
    group = "spread-cached-probe"
    cached = poisoned.cache()
    try:
        sc.setJobGroup(group, group)
        try:
            spread(cached, "doc_id")
        finally:
            sc.setJobGroup("spread-idle", "spread-idle")
    finally:
        cached.unpersist()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
