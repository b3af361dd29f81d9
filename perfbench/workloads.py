"""The three workloads and the operations they are made of.

Every operation calls the engine's public functions and returns an
``Outcome``: the build interval (the call that constructs the plan), the
action interval (the call that executes it), the latency samples the
operation contributes, the Spark job groups its jobs carry, and an error
string when it raised or failed its output check. Output checks run
after the action returns, outside both intervals.

- ``relational`` and ``corpus``: one operation per registry query, built
  by its ``plans/queries*.py`` function and forced with the ``noop`` sink
  (``collect()`` on the checked pass, whose rows go to the DuckDB oracle).
- ``incremental``: two operations per pass, each over the whole seeded
  micro-batch feed from an empty state: the CDC upsert stream
  (``streaming/cdc``) and IVF appends (``streaming/ann``), one per feed
  batch. A feed batch's latency sample is its CDC micro-batch time plus
  its IVF append time.
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field

from check import latest_per_key

RELATIONAL = [
    "tpch_q1", "tpch_q3", "tpch_q5", "tpch_q6", "tpch_q10", "tpch_q13", "tpch_q21",
    "window_sum", "conditional_window_sum", "split_explode", "broadcast_left_join",
    "semi_join_exists", "segmentation_rules", "category_rules",
    "events_sessionize", "events_hourly_rollup",
]
CORPUS = [
    "dedup_minhash_pairs", "dedup_clusters", "dedup_prefix_jaccard", "corpus_clean",
    "graph_pagerank", "forget_documents", "item_cf_neighbors", "split_leakage_audit",
]
STREAMS = ["cdc", "ann"]


@dataclass
class Outcome:
    name: str
    t0: float
    t1: float
    t2: float
    samples: list[float]
    groups: dict[str, str] = field(default_factory=dict)  # job group -> "build" | "action"
    error: str | None = None
    extra: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.t2 - self.t0


class Ctx:
    """What an operation needs: the session, its inputs and a tagger."""

    def __init__(self, spark, workload: str, data_dir: str, work_dir: str, feed: dict | None, oracle):
        self.spark = spark
        self.workload = workload
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.feed = feed
        self.oracle = oracle
        self.tracer = None
        self.pass_no = 0

    def tag(self, group: str) -> None:
        if self.tracer is not None:
            self.tracer.tag(group)

    def untag(self) -> None:
        if self.tracer is not None:
            self.tracer.untag()

    def op_dir(self, name: str) -> str:
        d = os.path.join(self.work_dir, f"pass{self.pass_no}", name)
        os.makedirs(d, exist_ok=True)
        return d


def run_query(ctx: Ctx, name: str, check: bool) -> Outcome:
    from scala_etl_test_spark.plans.queries import QUERIES

    group = f"{ctx.workload}/{name}"
    ctx.tag(group + "/build")
    t0 = time.time()
    df = QUERIES[name](ctx.spark, ctx.data_dir)
    t1 = time.time()
    ctx.tag(group + "/action")
    if check:
        rows = [tuple(r) for r in df.collect()]
    else:
        df.write.mode("overwrite").format("noop").save()
    t2 = time.time()
    ctx.untag()
    out = Outcome(name, t0, t1, t2, [t2 - t0], {group + "/build": "build", group + "/action": "action"})
    if check:
        out.error = ctx.oracle.check(name, list(df.columns), rows)
    return out


def _files_under(path: str) -> int:
    return sum(1 for _, _, files in os.walk(path) for f in files if f.endswith(".parquet"))


def _stream_outcome(name, q, t0, t1, t2, group, out_dir) -> Outcome:
    progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
    samples = [p["durationMs"]["triggerExecution"] / 1e3 for p in progress]

    def dur(key):
        return sum(p["durationMs"].get(key, 0) for p in progress) / 1e3

    out = Outcome(
        name, t0, t1, t2, samples,
        {group + "/build": "build", group + "/action": "action", str(q.runId): "action"},
        extra={
            "batches": len(progress),
            "batch_s": statistics.median(samples) if samples else 0.0,
            "plan_s": dur("queryPlanning"),
            "add_batch_s": dur("addBatch"),
            "commit_s": dur("walCommit") + dur("commitOffsets"),
            "files": _files_under(out_dir),
        },
    )
    if q.exception() is not None:
        out.error = f"{name}: {str(q.exception())[:200]}"
    return out


def run_cdc(ctx: Ctx, check: bool) -> Outcome:
    from scala_etl_test_spark.streaming.cdc import read_state, stream_upsert
    from scala_etl_test_spark.streaming.sources import stream_events_parquet

    d, group = ctx.op_dir("cdc"), f"{ctx.workload}/cdc"
    ctx.tag(group + "/build")
    t0 = time.time()
    q = stream_upsert(
        stream_events_parquet(ctx.spark, ctx.feed["events_dir"], max_files_per_trigger=1),
        f"{d}/table", f"{d}/ckpt", ["user_id"], "ts",
    )
    t1 = time.time()
    ctx.tag(group + "/action")
    q.awaitTermination()
    t2 = time.time()
    ctx.untag()
    out = _stream_outcome("cdc", q, t0, t1, t2, group, d)
    if (check or ctx.tracer is not None) and out.error is None:
        state = {int(r[0]): int(r[1]) for r in read_state(ctx.spark, f"{d}/table").select("user_id", "event_id").collect()}
        out.extra["state_rows"] = len(state)
        if check and state != latest_per_key(ctx.feed["events"]):
            out.error = f"cdc: final state ({len(state)} keys) is not latest-per-key over the feed"
    return out


def run_ann(ctx: Ctx, check: bool) -> Outcome:
    from scala_etl_test_spark.streaming.ann import append_batch_to_ivf, init_ivf_index, read_ivf_corpus

    d, group = ctx.op_dir("ann"), f"{ctx.workload}/ann"
    spark = ctx.spark
    ctx.tag(group + "/build")
    t0 = time.time()
    init_ivf_index(spark, f"{d}/ivf", spark.read.parquet(ctx.feed["ivf_seed"]), n_centroids=16)
    t1 = time.time()
    ctx.tag(group + "/action")
    samples = []
    for b, path in enumerate(ctx.feed["embeddings"]):
        s0 = time.time()
        append_batch_to_ivf(spark, f"{d}/ivf", spark.read.parquet(path), b)
        samples.append(time.time() - s0)
    t2 = time.time()
    ctx.untag()
    out = Outcome("ann", t0, t1, t2, samples, {group + "/build": "build", group + "/action": "action"},
                  extra={"batches": len(samples), "batch_s": statistics.median(samples), "files": _files_under(d)})
    if check:
        rows = ctx.feed["rows"]
        fed = rows["ivf_seed"] + rows["embeddings"] * len(ctx.feed["embeddings"])
        corpus = read_ivf_corpus(spark, f"{d}/ivf")
        n, ids = corpus.count(), corpus.select("vec_id").distinct().count()
        if n != fed or ids != fed:
            out.error = f"ann: IVF corpus holds {n} rows ({ids} ids), {fed} were fed"
    return out


STREAM_OPS = {"cdc": run_cdc, "ann": run_ann}


def ops_for(workload: str) -> list[str]:
    return {"relational": RELATIONAL, "corpus": CORPUS, "incremental": STREAMS}[workload]


def run_op(ctx: Ctx, name: str, check: bool) -> Outcome:
    if ctx.workload == "incremental":
        return STREAM_OPS[name](ctx, check)
    return run_query(ctx, name, check)
