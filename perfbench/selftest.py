"""Fast self-test of the benchmark at sf0.001.

    python3 perfbench/selftest.py

1. Runs the ``relational`` workload untraced with one registry query made
   to return a wrong result, and checks that the run reports it as failed
   (``correct`` false, ``failed`` > 0) and prints exactly the end-to-end
   metrics ``BENCHMARK.json`` names, each with its unit.
2. Runs the ``incremental`` workload traced in a child process and checks
   that it passes and prints exactly the per-layer metrics.

Exits 0 when both hold, 1 otherwise.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WRONG = "tpch_q6"


def _declared(kind: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def _problems(result: dict, kind: str) -> list[str]:
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    want = _declared(kind)
    out = [f"{kind}: {k} missing" for k in want.keys() - got.keys()]
    out += [f"{kind}: {k} not declared" for k in got.keys() - want.keys()]
    out += [f"{kind}: {k} unit {got[k]} != {want[k]}" for k in want.keys() & got.keys() if got[k] != want[k]]
    return out


def wrong_output_run() -> dict:
    """The relational workload with ``WRONG`` returning no rows."""
    sys.path.insert(0, ROOT)
    import run
    from scala_etl_test_spark.plans import queries

    right = queries.QUERIES[WRONG]
    queries.QUERIES[WRONG] = lambda spark, sf_dir: right(spark, sf_dir).limit(0)
    buf = io.StringIO()
    sys.argv = ["run.py", "--workload", "relational", "--seed", "7", "--seconds", "1", "--sf", "0.001"]
    with contextlib.redirect_stdout(buf):
        rc = run.main()
    assert rc == 0, f"run.py exited {rc}"
    return json.loads(buf.getvalue().strip().splitlines()[-1])


def traced_run() -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", "incremental",
           "--seed", "7", "--seconds", "1", "--sf", "0.001", "--trace", "1"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-2000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> int:
    problems = []
    wrong = wrong_output_run()
    if wrong["correct"] or wrong["failed"] < 1:
        problems.append(f"a wrong {WRONG} result was not counted: {wrong}")
    problems += _problems(wrong, "end_to_end")
    traced = traced_run()
    if not traced["correct"] or traced["failed"]:
        problems.append(f"traced incremental run failed: {traced}")
    problems += _problems(traced, "per_layer")
    for p in problems:
        print("FAIL", p)
    print("selftest", "ok" if not problems else f"{len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
