"""Skew-mitigation utilities (beyond-reference scale levers).

AQE's skew-join splitting (on in ``session.build_session``) handles most
skew at runtime, but two cases still need explicit help on a 100 TB corpus:

- **Salted joins** for a *hot-key* fact⋈dim join where one key carries a
  large fraction of all rows (e.g. the empty-document fingerprint, the
  ``und`` language bucket). Salting splits each hot key into ``salt``
  sub-keys: the fact side gets a deterministic salt from a uniform hash of
  its whole row context, the dim side is replicated ``salt`` ways. Result is
  row-identical to the plain join (pinned by tests + oracle) but the widest
  shuffle partition shrinks by ~``salt``×.
- **Salted aggregation**: two-phase groupBy (group on (key, salt) then on
  key) for algebraic aggregates whose single hot key would otherwise land on
  one reducer. Spark's partial aggregation already does this for built-in
  aggs; the explicit form is for operators whose first phase is itself a
  shuffle (e.g. distinct-count over exploded tokens).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def with_salt(df: DataFrame, salt: int, cols: list[str] | None = None) -> DataFrame:
    """Deterministic salt in [0, salt): uniform hash over ``cols`` (default:
    all columns). Deterministic — reruns and retries get identical salts, so
    the operator stays exactly-once under task retry (F.rand would not)."""
    basis = [F.col(c) for c in (cols or df.columns)]
    return df.withColumn("_salt", F.pmod(F.hash(*basis), F.lit(salt)).cast("int"))


def replicate_by_salt(df: DataFrame, salt: int) -> DataFrame:
    """Replicate every row ``salt`` ways with ``_salt`` = 0..salt-1 (the
    build/dim side of a salted join)."""
    return df.withColumn("_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))).withColumn(
        "_salt", F.col("_salt").cast("int")
    )


def salted_join(
    probe: DataFrame,
    build: DataFrame,
    on: list[str],
    salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with the probe side's hot keys spread over ``salt``
    sub-partitions and the build side replicated to match.

    Row-identical to ``probe.join(build, on, how)`` for inner/left joins.
    Use when the build side is too large to broadcast AND the probe side has
    heavy key skew that AQE splitting cannot fix (e.g. one key ≫ a single
    executor's memory). Cost: build side shuffled ``salt``× — pick the
    smallest salt that flattens the distribution.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    p = with_salt(probe, salt)
    b = replicate_by_salt(build, salt)
    return p.join(b, on=on + ["_salt"], how=how).drop("_salt")


def salted_distinct_count(
    df: DataFrame, key_col: str, value_col: str, salt: int = 16
) -> DataFrame:
    """COUNT(DISTINCT value) per key in two shuffles, neither of which sees a
    whole hot key: (key, salt-of-value) partial distinct → key merge. The
    salt comes from the *value* hash, so each distinct value lands in exactly
    one sub-group and the final sum is exact."""
    salted = df.withColumn("_salt", F.pmod(F.hash(F.col(value_col)), F.lit(salt)))
    partial = salted.groupBy(key_col, "_salt").agg(
        F.count_distinct(F.col(value_col)).alias("_part")
    )
    return partial.groupBy(key_col).agg(F.sum("_part").cast("long").alias("n_distinct"))
