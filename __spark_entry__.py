"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

Implementations live in :mod:`scala_etl_test_spark.plans.queries` (parity
operators + TPC-H classics + events analytics) and
:mod:`scala_etl_test_spark.operators` (training-data operators).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def _configure(spark: SparkSession) -> SparkSession:
    """Apply the session confs the engine needs when the driver supplies its
    own SparkSession (nanos parquet reads, ANSI-stable behavior).

    ``session.build_session`` also sizes the generated-code cache
    (``spark.sql.codegen.cache.maxEntries``), but that conf is static: it
    cannot be set on a running session, so a driver-supplied session keeps
    Spark's default of 100 entries and recompiles classes that fall out of
    it. Results are the same; only the compile time differs."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 pricing summary) on /root/testdata/sf0.001."""
    from scala_etl_test_spark.plans.queries import q_tpch_q1

    return q_tpch_q1(_configure(spark), "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+ beyond-
    reference training-data operators)."""
    from scala_etl_test_spark.plans.queries import QUERIES

    return {name: (lambda spark, sf_dir, _fn=fn: _fn(_configure(spark), sf_dir)) for name, fn in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query; omissions fall back to the driver's
    rows-only check (only used for genuinely non-SQL-expressible ops)."""
    from scala_etl_test_spark.plans.queries import ORACLE_SQL

    return dict(ORACLE_SQL)


def release(spark: SparkSession | None = None) -> int:
    """OPTIONAL hook beyond the 3-function contract: drop the engine's
    operator-internal persisted intermediates (see ``caching.py``). A
    harness running many ``queries()`` entries in one long session should
    call this after consuming each result so caches cannot accumulate;
    harnesses that ignore it still work — ``spark.catalog.clearCache()``
    reclaims everything, and MEMORY_AND_DISK blocks self-evict under
    pressure. Returns the number of caches released."""
    from scala_etl_test_spark.caching import release_persisted

    return release_persisted()
