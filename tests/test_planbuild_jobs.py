"""Registry-wide free-plan-build gate.

Building a registered query's DataFrame (calling the ``queries()`` entry)
must not run Spark jobs — all compute belongs to the caller's ACTION. This
generalizes the poisoned-UDF guard of ``test_partitioning.py`` (which pins
that ``partitioning.spread``, deciding from the physical plan's declared
partition count, plans but never executes its input) to every registered
query: hidden plan-time work is easy to re-introduce (an eager ``count()``
sizing probe, a ``localCheckpoint`` — whose ``eager=False`` form STILL
materializes all upstream query stages under AQE via ``toRdd`` — or an
``rdd`` probe), and each one silently runs a whole job before the query's
own action.

Two job classes are exempt, each enumerated by name with its reason:

- the parquet footer/schema-inference job every ``spark.read.parquet``
  issues (stage name ``parquet at ...`` — a metadata read, not compute);
- queries whose SEMANTICS are loop-carried or parameter-probing, listed in
  ``PLANBUILD_JOB_ALLOWLIST`` next to ``QUERIES`` in ``plans/queries.py``.
  These run documented, bounded actions at build time by design (an
  iterative algorithm cannot be expressed as a single lazy plan; a literal
  query vector must be fetched before the plan that uses it exists).
"""

from __future__ import annotations

import pytest

from scala_etl_test_spark.plans.queries import PLANBUILD_JOB_ALLOWLIST, QUERIES


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
