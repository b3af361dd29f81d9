"""Sinks (SURVEY §2.1 S7/S8).

Reference: ``storeData`` (ApplaudoETL.scala:283-285) writes
``overwrite``-mode parquet, one directory per logical table; console fallback
is ``show(10, truncate=false)`` (``:53``, ``:65``).

Scale notes: partition-by and bucketing knobs exposed so the same sink writes
a 100 TB table as a partitioned layout readers can prune
(``partitionBy=["order_dow"]`` etc.); the reference's flat layout remains the
default for parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def store_parquet(
    df: DataFrame,
    base_path: str,
    table_name: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(f"{base_path}/{table_name}")


def show_console(df: DataFrame, n: int = 10) -> None:
    df.show(n, truncate=False)


def write_table(
    df: DataFrame,
    fmt: str,
    path: str | None = None,
    mode: str = "overwrite",
    options: dict[str, str] | None = None,
    partition_by: list[str] | None = None,
) -> None:
    """Generic ``DataFrameWriter`` passthrough — the S9 parity surface.

    The reference's notebook-only BigQuery sink (ApplaudoETL.ipynb cell 24)
    is exactly this shape with ``fmt="bigquery"`` and options like
    ``{"table": "dataset.table", "temporaryGcsBucket": "bucket"}`` once the
    spark-bigquery connector jar is on the classpath — no engine change
    needed, which is why the sink surface is a thin passthrough rather than
    a per-vendor module. Connector formats take their destination from
    ``options`` (leave ``path=None``); file formats (parquet/csv/json/orc)
    take ``path``.
    """
    writer = df.write.format(fmt).mode(mode).options(**(options or {}))
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)  # save(None) = connector destination from options


def write_compacted(
    df: DataFrame,
    path: str,
    target_mb: int = 128,
    mode: str = "overwrite",
    sort_by: list[str] | None = None,
    range_partition: bool = False,
) -> int:
    """Write parquet compacted to ~``target_mb`` files — the small-files
    mitigation (a 100 TB table written from thousands of tasks otherwise
    lands as millions of KB-sized objects that throttle any object store's
    listing and per-request costs).

    File count comes from the optimizer's size estimate of the plan (driver
    metadata only, no extra pass). ``sort_by`` additionally orders rows
    within each output file so parquet row-group min/max stats prune reads
    on those columns (poor man's clustering). ``range_partition``
    additionally RANGE-partitions on ``sort_by`` before writing, so each
    key lands in one file and equality probes prune at FILE level — plain
    ``repartition`` is round-robin and scatters every key across every
    file, limiting pruning to row groups. Returns the partition count.
    """
    size_bytes = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    n_files = max(1, int(int(size_bytes) // (target_mb * 1024 * 1024)) + 1)
    if range_partition and sort_by:
        out = df.repartitionByRange(n_files, *sort_by)
    else:
        out = df.repartition(n_files)
    if sort_by:
        out = out.sortWithinPartitions(*sort_by)
    out.write.mode(mode).parquet(path)
    return n_files
