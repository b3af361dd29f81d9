"""Registry-wide free-plan-build gate.

Building a registered query's DataFrame (calling the ``queries()`` entry)
must not run Spark jobs — all compute belongs to the caller's ACTION. This
generalizes the poisoned-UDF guard of ``test_dedup.py`` (which pins the
``_spread`` helper specifically) to every registered query: hidden plan-time
work is easy to re-introduce (an eager ``count()`` sizing probe, a
``localCheckpoint`` — whose ``eager=False`` form STILL materializes all
upstream query stages under AQE via ``toRdd`` — or an ``rdd`` probe), and
each one silently runs a whole job before the query's own action.

Two job classes are exempt, each enumerated by name with its reason:

- the parquet footer/schema-inference job every ``spark.read.parquet``
  issues (stage name ``parquet at ...`` — a metadata read, not compute);
- queries whose SEMANTICS are loop-carried or parameter-probing, listed in
  ``PLANBUILD_JOB_ALLOWLIST`` below. These run documented, bounded actions
  at build time by design (an iterative algorithm cannot be expressed as a
  single lazy plan; a literal query vector must be fetched before the plan
  that uses it exists).
"""

from __future__ import annotations

import pytest

from scala_etl_test_spark.plans.queries import QUERIES

# name -> why plan-build jobs are inherent to the query's semantics
PLANBUILD_JOB_ALLOWLIST: dict[str, str] = {
    # --- literal-parameter probes: the query vector is fetched with a
    # 1-row limit job because the plan takes it as a literal (at scale the
    # caller supplies it; the probe is the self-contained-query form) ---
    "ann_cosine_topk": "1-row query-vector fetch",
    "ann_lsh_topk": "query-vector fetch + 1-row signature eval",
    "ann_multiprobe_topk": "query-vector fetch + 1-row signature eval",
    "ann_ivf_topk": "1-row query-vector fetch",
    "pq_codes": "1-row query-vector fetch",
    "ann_pq_topk": "1-row query-vector fetch",
    "ann_ivfpq_topk": "1-row query-vector fetch",
    "ann_ivfpq_residual_topk": "1-row query-vector fetch",
    "ann_recall_report": "query-vector fetch across every ANN member",
    "pq_rotation_recall": "per-dim variance collect (d-row permutation "
    "model) + ONE seed fetch serving the query vector and both codebooks",
    "ann_truncation_recall": "per-dim variance collect (d-row ranking "
    "model) + 1-row query-vector fetch",
    "hybrid_retrieval": "1-row query-vector fetch",
    # --- loop-carried algorithms: per-round materialization IS the
    # algorithm (convergence counts / merge selection), bounded by the
    # documented round counts ---
    "dedup_clusters": "min-label propagation rounds; each round's "
    "convergence count is observed on that round's localCheckpoint job",
    "label_spread": "per-round localCheckpoint of the label frontier",
    "bpe_merges": "one best-pair selection job per learned merge",
    "bpe_encode": "BPE training loop feeds the encoder",
    "kmeans_train": "Lloyd iterations via pyspark.ml",
    "graph_triangles": "two bounded count()s materialize the edge/"
    "oriented caches before their consumers fan out — concurrent query "
    "stages would each recompute the cold cache (profiled: the pair "
    "build ran twice, ~20 s exRun per copy at sf0.1)",
    # --- composites that consume the above eagerly inside cache scopes ---
    "dedup_method_report": "runs every dedup strategy incl. cluster rounds",
    "corpus_clean": "includes connected-components cluster rounds",
    "corpus_prepare": "includes connected-components cluster rounds",
    "forget_documents": "includes seed-frontier BFS closure rounds",
    "forget_from_ivf": "includes seed-frontier BFS closure rounds",
    "erasure_audit": "the persisted erasure request (closure rounds + "
    "cell-local partition rewrite) must RUN before its audit artifact "
    "can be classified; the returned frame is the lazy audit join",
    "split_leakage_audit": "includes connected-components cluster rounds",
    # --- driver-bounded sketch point queries ---
    "heavy_hitters_cms": "CMS point queries need the JVM sketch object; "
    "bounded at top_n + 1 small jobs",
}


def _real_jobs(status_tracker, group: str) -> list[tuple[int, list[str]]]:
    """Jobs in the group whose stages are not all parquet footer reads."""
    out = []
    for job_id in status_tracker.getJobIdsForGroup(group):
        info = status_tracker.getJobInfo(job_id)
        names = []
        for stage_id in info.stageIds:
            stage = status_tracker.getStageInfo(stage_id)
            names.append(stage.name if stage else "?")
        if not all(n.startswith("parquet at") for n in names):
            out.append((job_id, names))
    return out


def test_allowlist_names_are_registered():
    assert set(PLANBUILD_JOB_ALLOWLIST) <= set(QUERIES), sorted(
        set(PLANBUILD_JOB_ALLOWLIST) - set(QUERIES)
    )


@pytest.mark.parametrize(
    "name", sorted(set(QUERIES) - set(PLANBUILD_JOB_ALLOWLIST))
)
def test_plan_build_runs_no_jobs(spark, sf_dir, name):
    sc = spark.sparkContext
    group = f"planbuild-{name}"
    sc.setJobGroup(group, group)
    try:
        QUERIES[name](spark, sf_dir)
    finally:
        sc.setJobGroup("planbuild-idle", "planbuild-idle")
    jobs = _real_jobs(sc.statusTracker(), group)
    assert not jobs, (
        f"{name} ran {len(jobs)} Spark job(s) at plan-BUILD time: {jobs}\n"
        "All compute belongs to the caller's action. If this query's "
        "semantics genuinely need build-time jobs (iterative algorithm, "
        "literal-parameter probe), add it to PLANBUILD_JOB_ALLOWLIST with "
        "the reason; otherwise replace the eager probe (count()/"
        "localCheckpoint/rdd) with footer statistics (_n_rows) or "
        "tracked_persist."
    )
