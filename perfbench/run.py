"""Benchmark of the ETL engine: one workload per run, one process, one
local Spark session.

    python3 perfbench/run.py --workload {relational,corpus,incremental} \\
        --seed N --seconds S --trace {0,1} [--sf X]

Run it from the root of a checkout: it imports ``scala_etl_test_spark``
from there and exits with code 2 when the package is missing.

``BENCHMARK.json`` names ``corpus`` and ``incremental``. ``relational``
runs the same way; it is left out of the benchmark file because a run of
it, plus enough passes of the other two to be steady, does not fit the
time all benchmark runs get together.

Set-up (timed as ``setup_s``): import the engine, start the session,
generate the seeded inputs (three times; the median counts), then warm up
at the measured scale with one checked pass, whose outputs are compared
with the oracle outside the timed calls. The measured body then repeats
whole passes, each over every operation of the workload in a seeded
order, at least ``MIN_PASSES`` of them and until ``--seconds`` have
passed. Pass wall and pass CPU are medians over the body's passes. The
latency of each operation (for ``incremental``, of each feed batch) is in
the record, not among the metrics: a ``corpus`` run holds 8 such samples
and an ``incremental`` one 10, too few for a percentile of them to repeat
from run to run. All files the run makes live in ``.perfbench_tmp/``
under the checkout and are removed at exit.

The last line of standard output is the result object. With ``--trace 0``
it carries the end-to-end metrics; with ``--trace 1`` the per-layer ones,
from a run whose passes alternate untraced and traced (starting and ending
untraced), so the tracing overhead is the difference of their mean walls;
the traced run writes its spans to
``.perfbench_out/spans-<workload>-<seed>.json``. The line before
the result is the run's record: regime, sample counts, failures and, when
traced, the per-operation breakdown.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

import gen
from check import Oracle
from tracing import Counters, Span, Tracer, attach_jobs, union_s
from workloads import Ctx, ops_for, run_op

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Input sizes per workload: the TPC-H scale factor of the generated tables
# and, for the incremental feed, the rows of each micro-batch file.
SF = 0.002
FEED_BATCHES = 5
FEED_ROWS = {"events": 2000, "users": 300, "embeddings": 500, "ivf_seed": 500}
# Whole passes the measured body runs at least. The JVM is still compiling
# hot code a minute after start, so pass walls keep falling; a fixed count
# measures the same stretch of that curve in every run.
MIN_PASSES = {"relational": 2, "corpus": 1, "incremental": 2}
GEN_REPEATS = 3


def _stop_spark() -> None:
    """Stop the session and wait for its JVM to exit. The JVM leaves when
    its stdin closes; it is killed if it has not left a minute later."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _regime() -> dict:
    cpus = min(os.cpu_count() or 1, 4)
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    return {"cpus": cpus, "driver_mem": f"{max(1, min(3, int(mem_gb // 5)))}g"}


def _source_digest() -> dict:
    """Which engine code ran: the git commit when the checkout has one, and
    a digest of the package's Python sources either way."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "scala_etl_test_spark")
    for dirpath, dirnames, files in sorted(os.walk(pkg)):
        dirnames.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    h.update(fh.read())
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True)
        commit = r.stdout.strip() or None
    return {"git_commit": commit, "source_sha256": h.hexdigest()[:16]}


def _jvm_cpu_s(pid: int) -> float:
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def build_session(regime: dict, work: str):
    from scala_etl_test_spark.session import build_session as engine_session

    java_opts = f"-Djava.io.tmpdir={work}/java -XX:-UsePerfData"
    os.makedirs(f"{work}/java", exist_ok=True)
    spark = engine_session(
        master=f"local[{regime['cpus']}]",
        extra_conf={
            "spark.driver.extraJavaOptions": java_opts,
            "spark.local.dir": f"{work}/spark-local",
            "spark.sql.warehouse.dir": f"{work}/warehouse",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "500",
            "spark.ui.retainedStages": "2000",
            "spark.sql.ui.retainedExecutions": "50",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Runner:
    def __init__(self, ctx: Ctx, rng: random.Random, tracer: Tracer | None):
        self.ctx, self.rng, self.tracer = ctx, rng, tracer
        self.ops = ops_for(ctx.workload)
        self.attempted = 0
        self.failures: list[str] = []

    def release(self) -> tuple[int, float]:
        from scala_etl_test_spark.caching import release_persisted

        t = time.perf_counter()
        n = release_persisted()
        self.ctx.spark.catalog.clearCache()
        return n, time.perf_counter() - t

    def one_pass(self, check: bool, traced: bool) -> dict:
        """Run every operation once in a seeded order. Returns the pass wall
        (checks and trace reads excluded), its latency samples and, when
        traced, its per-layer counters and spans."""
        ctx = self.ctx
        ctx.tracer = self.tracer if traced else None
        order = list(self.ops)
        self.rng.shuffle(order)
        counters, span = Counters(), Span(f"pass {ctx.pass_no}", "pass", time.time())
        walls, outcomes = 0.0, []
        for name in order:
            self.attempted += 1
            t = time.perf_counter()
            try:
                out = run_op(ctx, name, check)
            except Exception as e:  # noqa: BLE001 - any failure counts against the run
                ctx.untag()
                out = None
                self.failures.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
            op_wall = time.perf_counter() - t if out is None else out.wall
            if out is not None and out.error:
                self.failures.append(out.error)
            cached = self.tracer.cached_mb() if traced else 0.0
            released, release_s = self.release()
            walls += op_wall + release_s
            if out is None:
                continue
            outcomes.append(out)
            if traced:
                self._trace_op(out, span, counters, cached, released, release_s)
        span.end = time.time()
        if ctx.workload == "incremental":
            # one sample per feed batch: its CDC micro-batch plus its IVF append
            samples = [sum(b) for b in zip(*(o.samples for o in outcomes))]
        else:
            samples = [x for o in outcomes for x in o.samples]
        if ctx.workload == "incremental":
            shutil.rmtree(os.path.join(ctx.work_dir, f"pass{ctx.pass_no}"), ignore_errors=True)
        ctx.pass_no += 1
        return {"wall": walls, "samples": samples, "counters": counters, "span": span, "outcomes": outcomes}

    def _trace_op(self, out, pass_span: Span, counters: Counters, cached: float, released: int, release_s: float):
        jobs = self.tracer.jobs(set(out.groups))
        build = [j for j in jobs if out.groups[j.get("jobGroup")] == "build"]
        action = [j for j in jobs if out.groups[j.get("jobGroup")] == "action"]
        op = pass_span.child(out.name, "op", out.t0, out.t2, samples=len(out.samples), **out.extra)
        attach_jobs(op.child("build", "build", out.t0, out.t1), build)
        attach_jobs(op.child("action", "action", out.t1, out.t2), action)
        counters.add("plans.build_s", out.t1 - out.t0)
        counters.add("plans.build_jobs", len(build))
        counters.add_jobs(build, None)
        counters.add_jobs(action, (out.t1, out.t2))
        counters.add("caching.cached_mb", cached)
        counters.add("caching.released", released)
        counters.add("caching.release_s", release_s)
        counters.add("sinks.files", out.extra.get("files", 0))
        op.attrs.update(jobs=len(jobs), build_jobs=len(build))


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["relational", "corpus", "incremental"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--sf", type=float, default=SF, help=f"scale factor of the generated tables (default {SF})")
    args = p.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "scala_etl_test_spark", "__init__.py")):
        print(f"perfbench: no scala_etl_test_spark package under {ROOT}", file=sys.stderr)
        return 2
    regime = _regime()
    work = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    os.environ.update(
        TMPDIR=work,
        SPARK_LOCAL_DIRS=f"{work}/spark-local",
        SPARK_LOCAL_IP="127.0.0.1",
        SPARK_GRAFT_CPUS=str(regime["cpus"]),
        SPARK_GRAFT_DRIVER_MEM=regime["driver_mem"],
    )
    tempfile.tempdir = work
    sys.path.insert(0, ROOT)
    try:
        result, record, spans = _run(args, regime, work)
    finally:
        _stop_spark()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    if spans is not None:
        path = os.path.join(ROOT, ".perfbench_out", f"spans-{args.workload}-{args.seed}.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(spans, f)
        record["spans_file"] = os.path.relpath(path, ROOT)
    print(json.dumps({"record": record}))
    print(json.dumps(result))
    return 0


def _run(args, regime: dict, work: str):
    t_imp = time.perf_counter()
    import pyspark

    from scala_etl_test_spark.plans.queries import ORACLE_SQL

    import_s = time.perf_counter() - t_imp

    t = time.perf_counter()
    spark = build_session(regime, work)
    session_s = time.perf_counter() - t

    gen_s, feed = [], None
    for i in range(GEN_REPEATS):
        data_dir = os.path.join(work, f"data{i}")
        t = time.perf_counter()
        input_rows = gen.generate_tables(data_dir, args.seed, args.sf)
        if args.workload == "incremental":
            feed = gen.generate_feed(os.path.join(data_dir, "feed"), args.seed, FEED_BATCHES, FEED_ROWS)
        gen_s.append(time.perf_counter() - t)
        if i + 1 < GEN_REPEATS:
            shutil.rmtree(data_dir)

    oracle = Oracle(data_dir, ORACLE_SQL)
    ctx = Ctx(spark, args.workload, data_dir, work, feed, oracle)
    runner = Runner(ctx, random.Random(args.seed), Tracer(spark) if args.trace else None)

    # warm-up at the measured scale is the checked pass
    t = time.perf_counter()
    warmup_s = runner.one_pass(check=True, traced=False)["wall"]
    check_wall = time.perf_counter() - t
    setup_s = import_s + session_s + statistics.median(gen_s) + warmup_s
    oracle.close()

    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    # A traced run alternates plain and traced passes and ends on a plain
    # one, so each traced pass sits between plain passes and warm-up drift
    # cancels out of the tracing overhead.
    min_passes = max(MIN_PASSES[args.workload], 3 * args.trace)
    passes = []
    t_body = time.perf_counter()
    while (len(passes) < min_passes or time.perf_counter() - t_body < args.seconds
           or (args.trace and len(passes) % 2 == 0)):
        traced = bool(args.trace) and len(passes) % 2 == 1
        c0 = _jvm_cpu_s(jvm_pid)
        res = runner.one_pass(check=False, traced=traced)
        res["cpu"] = _jvm_cpu_s(jvm_pid) - c0
        res["traced"] = traced
        passes.append(res)

    plain = [r for r in passes if not r["traced"]]
    samples = [s for r in plain for s in r["samples"]]
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "sf": args.sf,
        "input_rows": input_rows,
        "feed": {"batches": FEED_BATCHES, "rows": FEED_ROWS} if args.workload == "incremental" else None,
        "regime": {**regime, "pyspark": pyspark.__version__, **_source_digest()},
        "setup": {"import_s": import_s, "session_s": session_s, "gen_s": gen_s,
                  "warmup_s": warmup_s, "check_pass_s": check_wall},
        "passes": len(plain),
        "pass_walls_s": [r["wall"] for r in plain],
        "pass_cpu_s": [r["cpu"] for r in plain],
        "op_walls_s": [{o.name: o.wall for o in r["outcomes"]} for r in plain],
        "op_samples_s": samples,
        "failures": runner.failures,
        "failed_frac": len(runner.failures) / runner.attempted,
    }
    metrics = {
        "setup_s": (setup_s, "s"),
        "wall_s": (statistics.median(r["wall"] for r in plain), "s"),
        "cpu_s": (statistics.median(r["cpu"] for r in plain), "s"),
    }
    spans = None
    if args.trace:
        traced = [r for r in passes if r["traced"]]
        metrics = _layer_metrics(traced, plain, session_s)
        record["per_op"] = _per_op(traced)
        spans = {"run": {"workload": args.workload, "seed": args.seed},
                 "passes": [r["span"].to_json() for r in traced]}
    result = {
        "correct": not runner.failures,
        "attempted": runner.attempted,
        "failed": len(runner.failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, record, spans


UNITS = {"_s": "s", "_mb": "MB", "_rows": "rows"}


def _unit(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def _layer_metrics(traced: list[dict], plain: list[dict], session_s: float) -> dict:
    """Per-pass means of the traced passes' counters, plus the session
    start, the write amplification and the tracing overhead."""
    mean = statistics.fmean
    out = {"session.build_s": (session_s, "s")}
    for key in Counters.FIELDS:
        out[key] = (mean(r["counters"].v[key] for r in traced), _unit(key))
    written, read = out["sinks.written_mb"][0], out["sources.input_mb"][0]
    out["sinks.write_amp"] = (written / read if read else 0.0, "ratio")
    out["trace.overhead_s"] = (mean(r["wall"] for r in traced) - mean(r["wall"] for r in plain), "s")
    return out


def _per_op(traced: list[dict]) -> dict:
    """Per-operation means over the traced passes: wall split into plan
    build, stage-busy time and driver gap (the three add up to the wall),
    jobs, and the streaming breakdown where there is one."""
    by_name: dict[str, list] = {}
    for r in traced:
        for op in r["span"].children:
            by_name.setdefault(op.name, []).append(op)
    out = {}
    for name, spans in sorted(by_name.items()):
        def mean(f):
            return statistics.fmean(f(s) for s in spans)

        def busy(s):
            action = s.children[1]
            stages = [(st.start, st.end) for job in action.children for st in job.children]
            return union_s(stages, action.start, action.end)

        row = {
            "wall_s": mean(lambda s: s.duration),
            "plans.build_s": mean(lambda s: s.children[0].duration),
            "exec.stage_busy_s": mean(busy),
            "jobs": mean(lambda s: s.attrs["jobs"]),
            "plans.build_jobs": mean(lambda s: s.attrs["build_jobs"]),
        }
        row["exec.driver_gap_s"] = row["wall_s"] - row["plans.build_s"] - row["exec.stage_busy_s"]
        for k in ("batches", "plan_s", "add_batch_s", "commit_s", "batch_s", "state_rows", "files"):
            if k in spans[0].attrs:
                row[k] = mean(lambda s: s.attrs[k])
        out[name] = row
    return out


if __name__ == "__main__":
    sys.exit(main())
