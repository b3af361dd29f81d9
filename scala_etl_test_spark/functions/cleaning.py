"""Scalar cleaning functions (SURVEY §2.7), as reusable Column builders."""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def strip_non_ascii(col: Column | str) -> Column:
    """Remove every non-ASCII character (ApplaudoETL.scala:164). The
    byte-range class ``[^\\x00-\\x7F]`` matches code points > 127, which is
    exactly the reference's behavior on unicode strings."""
    return F.regexp_replace(_c(col), r"[^\x00-\x7F]", "")


def fix_hour_24(col: Column | str) -> Column:
    """``hour == 24 → 0`` (ApplaudoETL.scala:166-167)."""
    c = _c(col)
    return F.when(c == 24, 0).otherwise(c)


def int_div(a: Column | str, b: Column | str) -> Column:
    """Integer division with Spark SQL ``DIV`` semantics: truncation toward
    zero (same as Scala ``Int / Int``), NULL when the divisor is 0 — the
    Trap-1-faithful ratio operator (SURVEY §2.8).

    ``a - a % b`` is an exact multiple of ``b`` (Spark ``%`` follows the
    dividend's sign, like Java), so the final divide is exact and the cast
    back to long loses nothing for |values| < 2^53.
    """
    ca, cb = _c(a).cast("long"), _c(b).cast("long")
    return F.when(cb != 0, ((ca - (ca % cb)) / cb).cast("long"))
