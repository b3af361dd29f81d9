"""Parquet table loader for the driver's testdata star schema."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


# (sf_dir, name, freshness) -> inferred StructType. Every bare
# ``spark.read.parquet`` runs a one-task footer/schema-inference JOB before
# any action; a gate or bench session reads the same ten tables hundreds of
# times, so the schema is inferred once per path and DECLARED on every
# later read (declared schemas skip the inference job entirely — the same
# contract read_files documents for json/csv, and what a catalog provides
# at warehouse scale). Keyed by path PLUS a freshness token (mtime+size of
# the file, or of its part files for a directory — ADVICE r7): a table
# rewritten at the same path with a different schema gets a cache MISS and
# fresh inference instead of silently declaring the stale schema.
_SCHEMA_CACHE: dict[tuple, object] = {}


def _freshness_token(path: str) -> tuple:
    """Cheap stat-based change detector for a parquet file or directory of
    part files. Any rewrite (mtime), truncation/growth (size), or part-file
    add/remove (count) changes the token; no data pages are read. The
    directory branch walks RECURSIVELY (hive-partitioned key=val layouts
    keep part files one level down — a top-level-only listing would return
    a constant empty token and never detect a rewrite, the exact
    stale-schema bug the token exists to prevent)."""
    import os

    if os.path.isdir(path):
        stats = sorted(
            (
                os.path.relpath(os.path.join(root, f), path),
                os.stat(os.path.join(root, f)).st_mtime_ns,
                os.stat(os.path.join(root, f)).st_size,
            )
            for root, _dirs, names in os.walk(path)
            for f in names
            if f.endswith(".parquet")
        )
        return ("dir", tuple(stats))
    st = os.stat(path)
    return ("file", st.st_mtime_ns, st.st_size)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table, normalizing ``events.ts`` to a session-tz
    TIMESTAMP regardless of how the generator wrote it:

    - TIMESTAMP(NANOS) parquet surfaces as long nanos (``nanosAsLong`` —
      set by ``session.build_session``) → truncate to micros, the same
      truncation DuckDB applies, so oracles agree;
    - timestamp[us] without timezone surfaces as TIMESTAMP_NTZ → cast to
      TIMESTAMP (the session timezone is pinned to UTC, so the cast is
      instant-preserving and matches DuckDB's epoch interpretation).

    Downstream operators can then rely on ``unix_micros``/window functions,
    which require TIMESTAMP, whatever the physical encoding was."""
    from pyspark.sql import functions as F, types as T

    path = f"{sf_dir}/{name}.parquet"
    key = (sf_dir, name, _freshness_token(path))
    cached = _SCHEMA_CACHE.get(key)
    if cached is not None:
        df = spark.read.schema(cached).parquet(path)
    else:
        df = spark.read.parquet(path)
        for stale in [k for k in _SCHEMA_CACHE if k[:2] == (sf_dir, name)]:
            del _SCHEMA_CACHE[stale]  # one live token per table: rewrites don't leak entries
        _SCHEMA_CACHE[key] = df.schema
    if name == "events":
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif isinstance(ts_type, T.TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def footer_row_count(sf_dir: str, name: str) -> int:
    """Exact table row count from parquet FOOTER metadata — no Spark job,
    no data pages read (a footer is a few KB per file).

    This is the free-guard twin of ``operators/partitioning._scan_size_bytes``:
    operators that size a partitioning key to the corpus (IVF centroid
    count, simhash piece count, blocking-key width) need n at plan-build
    time, and an eager ``df.count()`` there runs a whole Spark job before
    the query's own action — the exact class of hidden plan-time work the
    poisoned-input guard tests forbid. Parquet stores ``num_rows`` in every
    file footer, so the count is exact (it is what ``COUNT(*)`` returns,
    so DuckDB oracles sized from ``COUNT(*) OVER ()`` agree), and at
    warehouse scale the same number comes from catalog statistics instead.

    Handles a single ``<name>.parquet`` file, a Spark-written
    ``<name>.parquet/`` directory of part files, and nested layouts
    (hive-partitioned ``key=val/part-*.parquet``) via a recursive walk.
    A directory with NO parquet files raises instead of returning 0
    (ADVICE r7): plan-time sizing (IVF k, simhash pieces, blocking width)
    silently collapsing to its floor is worse than failing loudly.
    """
    import os

    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isdir(path):
        files = [
            os.path.join(root, f)
            for root, _dirs, names in os.walk(path)
            for f in names
            if f.endswith(".parquet")
        ]
        if not files:
            raise FileNotFoundError(
                f"footer_row_count: no .parquet files under {path} — "
                "plan-time sizing would silently collapse to its floor"
            )
        return sum(pq.read_metadata(f).num_rows for f in files)
    return pq.read_metadata(path).num_rows


def read_files(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema=None,
    options: dict[str, str] | None = None,
) -> DataFrame:
    """Generic file-format reader — the read-side twin of
    ``sinks.write_table``: parquet/orc/csv/json through one declarative
    surface. A declared ``schema`` skips the inference scan (mandatory for
    json/csv at scale: schema inference reads the data once before the
    real job does, and a schema drifting under inference is a silent
    contract change); columnar formats (parquet/orc) carry their own
    schema and get predicate pushdown + column pruning from the scan.
    """
    reader = spark.read.format(fmt).options(**(options or {}))
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)
