"""Per-stage profile of one registry query via the local Spark UI REST API.

    python tools/profile_query.py <query> [sf_dir]

Warms the query once at sf0.001 (JIT/codegen), then times one run at
``sf_dir`` (default $SPARK_GRAFT_SF_DIR or /root/testdata/sf0.1) with the
noop sink, and prints every stage of that run sorted by duration with task
counts and shuffle read/write bytes — the guide-§1 empirical loop without a
browser. The header line splits the run's wall into ``build`` (calling the
registry function: DataFrame construction in Python and the JVM, plus any
jobs the query runs at build time) and ``execute`` (the noop write), with the
Py4J commands the build sent (``build_py4j``: Python→JVM round trips). It
also carries the run's Janino compile count and compile milliseconds (the
CodegenMetrics / CodeGenerator.compileTime delta): a warm run should compile
nothing, so a nonzero count flags generated code that misses the session's
codegen cache.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, repo)


def main() -> int:
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from scala_etl_test_spark.caching import release_persisted
    from scala_etl_test_spark.plans.queries import QUERIES
    from scala_etl_test_spark.session import build_session
    from tools.py4j_count import count_py4j_commands

    spark = build_session(master=f"local[{cpus}]", shuffle_partitions=int(cpus))
    spark.sparkContext.setLogLevel("ERROR")
    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId

    def run_once(d: str) -> tuple[float, float, int]:
        """(build_s, execute_s, build Py4J commands) of one run."""
        t0 = time.perf_counter()
        with count_py4j_commands(spark) as sent:
            df = QUERIES[name](spark, d)
        t1 = time.perf_counter()
        df.write.mode("overwrite").format("noop").save()
        t2 = time.perf_counter()
        release_persisted()
        spark.catalog.clearCache()
        return t1 - t0, t2 - t1, sent.n

    warm_dir = "/root/testdata/sf0.001"
    run_once(warm_dir if os.path.isdir(warm_dir) else sf_dir)
    run_once(sf_dir)  # second warm at target SF: page cache + AQE stats hot

    def rest(path: str):
        with urllib.request.urlopen(f"{ui}/api/v1/applications/{app_id}/{path}") as r:
            return json.load(r)

    codegen = spark._jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    jobs_before = {j["jobId"] for j in rest("jobs")}
    n0, ns0 = compiles.getCount(), codegen.compileTime()
    build_s, exec_s, build_py4j = run_once(sf_dir)
    n_compiles, compile_ms = compiles.getCount() - n0, (codegen.compileTime() - ns0) / 1e6
    jobs = [j for j in rest("jobs") if j["jobId"] not in jobs_before]
    stage_ids = sorted({s for j in jobs for s in j["stageIds"]})
    stages = []
    for sid in stage_ids:
        try:
            for att in rest(f"stages/{sid}"):
                stages.append(att)
        except Exception:
            pass
    stages = [s for s in stages if s.get("status") != "SKIPPED"]

    def dur(s) -> float:
        try:
            from datetime import datetime

            fmt = "%Y-%m-%dT%H:%M:%S.%f%Z"
            t0 = datetime.strptime(s["firstTaskLaunchedTime"], fmt)
            t1 = datetime.strptime(s["completionTime"], fmt)
            return (t1 - t0).total_seconds()
        except Exception:
            return 0.0

    stages.sort(key=dur, reverse=True)
    total = sum(dur(s) for s in stages)
    print(f"\n{name} @ {sf_dir}: wall={build_s + exec_s:.3f}s  "
          f"build={build_s:.3f}s  execute={exec_s:.3f}s  build_py4j={build_py4j}  "
          f"jobs={len(jobs)}  compiles={n_compiles}  compile_ms={compile_ms:.0f}  "
          f"stages={len(stages)}  sum(stage_wall)={total:.2f}s")
    print(f"{'dur_s':>7} {'tasks':>5} {'in_MB':>8} {'shR_MB':>8} {'shW_MB':>8} "
          f"{'exRun_s':>8} {'gc_s':>6}  name")
    for s in stages[:25]:
        print(
            f"{dur(s):7.3f} {s['numCompleteTasks']:5d} "
            f"{s['inputBytes'] / 1e6:8.2f} {s['shuffleReadBytes'] / 1e6:8.2f} "
            f"{s['shuffleWriteBytes'] / 1e6:8.2f} "
            f"{s['executorRunTime'] / 1e3:8.2f} {s['jvmGcTime'] / 1e3:6.2f}  "
            f"{s['name'][:70]}"
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
