"""Bucketed-table support: pre-shuffled storage for co-located joins
(beyond-reference scale lever).

A join that repeats every run (fact⋈fact on the same key, too big to
broadcast) should not pay its shuffle every run. Writing both sides
bucketed by the join key with the same bucket count makes the join
exchange-free: each task reads matching buckets from both tables
(`tests/test_bucketing.py` pins the no-Exchange plan).

Scale notes:
- Pick bucket counts so one bucket ≈ 100-200 MB at target scale; bucket
  counts on the two sides must be equal (or integer multiples with
  ``spark.sql.bucketing.coalesceBucketsInJoin.enabled``).
- ``sortBy`` the join key inside buckets to also skip the sort of a
  sort-merge join.
- Bucket pruning applies to equality filters on the bucket column — a
  point-lookup reads 1/N of the data before any row filtering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int,
    sort: bool = True,
    path: str | None = None,
) -> None:
    """Persist ``df`` as a bucketed (optionally bucket-sorted) table.
    ``path`` makes it an external table (data outside the warehouse dir)."""
    writer = df.write.mode("overwrite").bucketBy(num_buckets, *bucket_cols)
    if sort:
        writer = writer.sortBy(*bucket_cols)
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)
