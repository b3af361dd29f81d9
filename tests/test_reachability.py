"""Every public top-level def in the package has a production caller or is kept in
``_KEPT_TEST_ONLY``. Names match as words, comments too, so the scan errs toward reached."""

import ast
import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parent.parent
_WORD = re.compile(r"[A-Za-z_]\w*")
_DEF = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
_KEPT_TEST_ONLY = {
    **dict.fromkeys(["hourly_rollup", "sliding_rollup"], "windowed twins of the batch hourly rollup"),
    "stateful_transitions": "stateful twin of the batch event-transition matrix",
    **dict.fromkeys(["stream_absorb_cms", "read_merged_cms", "streaming_heavy_hitters"],
                    "Count-Min state over a stream, exactly mergeable with the batch sketch"),
    **dict.fromkeys(["stream_orders_csv", "run_available_now"], "checkpointed exactly-once CSV ingest"),
    "stream_covariance": "streaming driver of the integer moment partials",
    "dedup_events_within_watermark": "watermarked redelivery dedup of an event stream",
    **dict.fromkeys(["build_gram_index", "merge_gram_index", "incremental_duplicate_spans"],
                    "duplicate spans of a growing corpus against a persisted gram index"),
}


def _scan(path):
    """(words outside defs and imports, [(name, line, words of the def)])."""
    lines = path.read_text().splitlines()
    defs, hidden = [], set()
    for node in ast.parse("\n".join(lines)).body:
        if isinstance(node, _DEF + (ast.Import, ast.ImportFrom)):
            hidden.update(span := range(node.lineno - 1, node.end_lineno))
            if isinstance(node, _DEF):
                defs.append((node.name, node.lineno, set(_WORD.findall("\n".join(lines[i] for i in span)))))
    return set(_WORD.findall("\n".join(x for i, x in enumerate(lines) if i not in hidden))), defs


def _words(paths):
    return set().union(*(module.union(*(w for *_, w in defs)) for module, defs in map(_scan, paths)))


def _closure(words, defs):
    seen, todo = set(), set(words)
    while todo:
        seen |= todo
        todo = {w for n in todo for _, body in defs.get(n, ()) for w in body} - seen
    return seen


def test_every_public_def_has_a_production_caller():
    roots = _words([ROOT / "__spark_entry__.py", ROOT / "bench.py", *ROOT.glob("perfbench/**/*.py"),
                    *ROOT.glob("tools/**/*.py"), *ROOT.glob("scala_etl_test_spark/*cli.py")])
    defs = {}
    for path in sorted(ROOT.glob("scala_etl_test_spark/**/[!_]*.py")):  # skip __init__ re-exports
        module, mine = _scan(path)
        roots |= module
        for name, line, body in mine:
            defs.setdefault(name, []).append((f"{path.relative_to(ROOT)}:{line}", body))
    reached = _closure(roots, defs)
    wrong = sorted({n for n in defs if not n.startswith("_") and n not in reached} ^ set(_KEPT_TEST_ONLY))
    why = {n: "kept, yet reached" if n in _KEPT_TEST_ONLY else "no production caller" for n in wrong}
    assert not wrong, "\n".join(f"{loc} {n}: {why[n]}" for n in wrong for loc, _ in defs.get(n, [("-", 0)]))
