"""Vector math over ``array<float/double>`` columns as native expressions.

Built on ``F.zip_with`` / ``F.aggregate`` (higher-order functions) — JVM-side
per-element loops, no Python in the path, no UDF serialization. Used by the
similarity-search and embedding-dedup operators.

The fold order is the array's element order (sequential), so results are
bit-reproducible across runs and engines that fold sequentially.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dot(a: Column | str, b: Column | str) -> Column:
    """Sequential-fold dot product of two equal-length arrays."""
    return F.aggregate(
        F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(
        F.aggregate(
            _c(a),
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )


def l2_norm_value(values: list | None) -> float | None:
    """:func:`l2_norm` of a driver-side list: the same left-to-right IEEE
    double fold, so the value is bit-identical to the JVM's (None on a
    None list or element, where the fold gives NULL)."""
    if values is None or any(v is None for v in values):
        return None
    acc = 0.0
    for v in values:
        acc += float(v) * float(v)
    return math.sqrt(acc)


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity; NULL when either vector has zero norm.

    NOTE for pairwise (self-join) hot paths: higher-order functions are
    interpreted (no whole-stage codegen), so common subexpressions are NOT
    eliminated — this expression folds each array FIVE times per pair
    (each norm twice: once in the guard, once in the quotient; dot once).
    When the same vectors appear in many pairs, precompute ``l2_norm``
    once per ROW and use :func:`cosine_from_norms` — one fold per pair
    instead of five, same doubles bit-for-bit (same sequential fold)."""
    na, nb = l2_norm(a), l2_norm(b)
    return F.when((na != 0) & (nb != 0), dot(a, b) / (na * nb))


def cosine_from_norms(
    a: Column | str, b: Column | str, na: Column | str, nb: Column | str
) -> Column:
    """Cosine from PRECOMPUTED per-vector L2 norms (``l2_norm`` of the same
    columns); NULL when either norm is 0 — value-identical to
    :func:`cosine_similarity`, but only the dot product folds per pair."""
    na, nb = _c(na), _c(nb)
    return F.when((na != 0) & (nb != 0), dot(a, b) / (na * nb))
