"""Spans and per-layer counters for a traced run, read from outside the
engine.

The benchmark tags every call it makes into the package with a Spark job
group ``<workload>/<op>/{build,action}``; streaming queries tag their own
micro-batch jobs with the query's run id. After each operation the tracer
drains Spark's listener bus and reads that operation's jobs and stages
from the Spark driver's monitoring REST API (the one the Spark UI uses),
so no code inside the engine changes.

Spans form the tree run -> pass -> op -> build/action -> job -> stage.
Each span keeps its interval; a span's self time is its duration minus
the part of it that its children cover. Spans stay in memory and are
written out once, when the run ends.
"""

from __future__ import annotations

import json
import urllib.request
from datetime import datetime, timezone
from urllib.parse import urlparse

MB = 1e6


def _epoch(stamp: str | None) -> float | None:
    if not stamp:
        return None
    return datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(tzinfo=timezone.utc).timestamp()


def union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class Span:
    __slots__ = ("name", "kind", "start", "end", "attrs", "children")

    def __init__(self, name: str, kind: str, start: float, end: float | None = None, **attrs):
        self.name, self.kind, self.start, self.end = name, kind, start, end
        self.attrs = attrs
        self.children: list[Span] = []

    def child(self, name: str, kind: str, start: float, end: float | None = None, **attrs) -> "Span":
        s = Span(name, kind, start, end, **attrs)
        self.children.append(s)
        return s

    @property
    def duration(self) -> float:
        return (self.end or self.start) - self.start

    def self_time(self) -> float:
        kids = [(c.start, c.end or c.start) for c in self.children]
        return self.duration - union_s(kids, self.start, self.end or self.start)

    def to_json(self) -> dict:
        out = {
            "name": self.name,
            "kind": self.kind,
            "start": round(self.start, 6),
            "duration_s": round(self.duration, 6),
            "self_s": round(self.self_time(), 6),
        }
        if self.attrs:
            out["attrs"] = self.attrs
        if self.children:
            out["children"] = [c.to_json() for c in self.children]
        return out


class Tracer:
    """REST reader bound to one SparkContext."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.sc = sc
        port = urlparse(sc.uiWebUrl).port
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        self._bus = sc._jsc.sc().listenerBus()

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.load(r)

    def tag(self, group: str) -> None:
        self.sc.setJobGroup(group, group)
        self.sc.setLocalProperty("callSite.short", group)

    def untag(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        self.sc.setLocalProperty("callSite.short", None)

    def jobs(self, groups: set[str]) -> list[dict]:
        """Finished jobs of ``groups`` with their stage attempts attached
        (skipped stages dropped). Drains the listener bus first, so the
        status store has seen every job the caller's action ran."""
        self._bus.waitUntilEmpty()
        out = []
        for job in self._get("jobs"):
            if job.get("jobGroup") not in groups:
                continue
            stages = []
            for sid in job["stageIds"]:
                for att in self._get(f"stages/{sid}?details=false"):
                    if att.get("status") != "SKIPPED":
                        stages.append(att)
            job["stages"] = stages
            out.append(job)
        return sorted(out, key=lambda j: j["jobId"])

    def cached_mb(self) -> float:
        self._bus.waitUntilEmpty()
        return sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0) for r in self._get("storage/rdd")) / MB


def attach_jobs(parent: Span, jobs: list[dict]) -> None:
    """Hang job and stage spans under ``parent``."""
    for job in jobs:
        j0 = _epoch(job.get("submissionTime")) or parent.start
        j1 = _epoch(job.get("completionTime")) or j0
        js = parent.child(f"job {job['jobId']}", "job", j0, j1, status=job.get("status"))
        for st in job["stages"]:
            s0 = _epoch(st.get("submissionTime")) or j0
            s1 = _epoch(st.get("completionTime")) or s0
            js.child(
                f"stage {st['stageId']}.{st['attemptId']}",
                "stage",
                s0,
                s1,
                tasks=st.get("numTasks", 0),
                stage_name=st.get("name", "")[:80],
            )


class Counters:
    """Per-layer sums over the jobs of one pass."""

    FIELDS = (
        "plans.build_s", "plans.build_jobs", "exec.jobs", "exec.stages", "exec.tasks",
        "exec.stage_busy_s", "exec.driver_gap_s", "exec.serial_stage_s", "exec.cpu_s",
        "exec.shuffle_read_mb", "exec.shuffle_write_mb", "exec.spill_mb", "exec.gc_s",
        "caching.cached_mb", "caching.released", "caching.release_s",
        "sources.input_mb", "sources.input_rows", "sinks.written_mb", "sinks.files",
    )

    def __init__(self):
        self.v = {f: 0.0 for f in self.FIELDS}

    def add(self, key: str, value: float) -> None:
        self.v[key] += value

    def add_jobs(self, jobs: list[dict], action: tuple[float, float] | None) -> None:
        """Count ``jobs``; when ``action`` is given, split that interval into
        stage-busy time (union of stage intervals) and driver gap."""
        intervals = []
        for job in jobs:
            self.v["exec.jobs"] += 1
            for st in job["stages"]:
                s0, s1 = _epoch(st.get("submissionTime")), _epoch(st.get("completionTime"))
                if s0 is not None and s1 is not None:
                    intervals.append((s0, s1))
                    if st.get("numTasks", 0) == 1:
                        self.v["exec.serial_stage_s"] += s1 - s0
                self.v["exec.stages"] += 1
                self.v["exec.tasks"] += st.get("numCompleteTasks", 0)
                self.v["exec.cpu_s"] += st.get("executorCpuTime", 0) / 1e9
                self.v["exec.gc_s"] += st.get("jvmGcTime", 0) / 1e3
                self.v["exec.shuffle_read_mb"] += st.get("shuffleReadBytes", 0) / MB
                self.v["exec.shuffle_write_mb"] += st.get("shuffleWriteBytes", 0) / MB
                self.v["exec.spill_mb"] += (st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)) / MB
                self.v["sources.input_mb"] += st.get("inputBytes", 0) / MB
                self.v["sources.input_rows"] += st.get("inputRecords", 0)
                self.v["sinks.written_mb"] += st.get("outputBytes", 0) / MB
        if action is not None:
            busy = union_s(intervals, *action)
            self.v["exec.stage_busy_s"] += busy
            self.v["exec.driver_gap_s"] += (action[1] - action[0]) - busy
