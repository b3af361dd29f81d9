"""Compile-once and probe-free-loop regressions.

- The session sizes Spark's generated-code cache, so rebuilding and rerunning
  a query compiles no class a second time (Spark's default 100-entry cache
  recompiled ~43 classes on every ``dedup_clusters`` rerun).
- Connected-components and erasure-closure BFS rounds run no job besides
  their own checkpoint: the convergence count is observed on that job
  instead of being probed by a separate action.
"""

from __future__ import annotations

import pytest

from scala_etl_test_spark.caching import release_persisted
from scala_etl_test_spark.operators import cluster
from scala_etl_test_spark.plans.queries import QUERIES
from scala_etl_test_spark.session import CODEGEN_CACHE_ENTRIES


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _chain(spark, n: int):
    return spark.createDataFrame([(i, i + 1) for i in range(n)], "id_a long, id_b long")


def test_session_sizes_codegen_cache(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )


@pytest.mark.parametrize("name", ["dedup_clusters", "forget_documents"])
def test_second_build_compiles_nothing(spark, sf_dir, name):
    """A too-small cache, or a class named afresh on every call, recompiles
    on every rerun. AQE may also replan a rerun differently, depending on
    which query stage finishes first, and a new plan variant compiles its
    few new classes once; so up to three reruns get the chance to reach 0."""

    def build_and_run():
        QUERIES[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
        release_persisted()

    build_and_run()
    reruns = []
    while not reruns or (reruns[-1] and len(reruns) < 3):
        before = _compiles(spark)
        build_and_run()
        reruns.append(_compiles(spark) - before)
    assert reruns[-1] == 0, reruns


def _loop_jobs(spark, monkeypatch, run) -> tuple[int, int, int]:
    """Run ``run()`` and return (rounds, jobs inside round checkpoints, jobs
    outside them), counted by job group."""
    sc = spark.sparkContext
    outer, inner = "loop-outer", "loop-checkpoint"
    real = cluster._checkpoint_counted
    rounds = 0

    def counted(df, flag):
        nonlocal rounds
        rounds += 1
        sc.setJobGroup(inner, inner)
        try:
            return real(df, flag)
        finally:
            sc.setJobGroup(outer, outer)

    monkeypatch.setattr(cluster, "_checkpoint_counted", counted)
    tracker = sc.statusTracker()
    seen = {g: set(tracker.getJobIdsForGroup(g)) for g in (outer, inner)}
    sc.setJobGroup(outer, outer)
    try:
        run()
    finally:
        sc.setJobGroup("loop-idle", "loop-idle")
    new = {g: set(tracker.getJobIdsForGroup(g)) - seen[g] for g in (outer, inner)}
    return rounds, len(new[inner]), len(new[outer])


@pytest.mark.parametrize(
    "loop",
    [
        lambda spark, n: cluster.connected_components(_chain(spark, n)),
        lambda spark, n: cluster.forget_closure_ids(
            spark.createDataFrame([(0,)], "doc_id long"), _chain(spark, n)
        ),
    ],
    ids=["connected_components", "forget_closure_ids"],
)
def test_loop_rounds_run_only_their_checkpoint(spark, monkeypatch, loop):
    """Two more chain links cost exactly two more rounds, and those rounds
    add jobs only inside their checkpoints — none outside them, where the
    removed ``limit(1).count()`` / ``isEmpty()`` probes used to run (2 and 1
    jobs per round under AQE)."""
    short = _loop_jobs(spark, monkeypatch, lambda: loop(spark, 4))
    long = _loop_jobs(spark, monkeypatch, lambda: loop(spark, 6))
    assert long[0] - short[0] == 2, (short, long)
    assert long[1] > short[1], (short, long)
    assert long[2] == short[2], (short, long)
