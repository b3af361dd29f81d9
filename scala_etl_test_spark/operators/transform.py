"""Merge + normalize operators for the raw-orders fact.

Reference semantics: ``ApplaudoETL.scala:156-168`` (``mergeAndTransformData``)
— positional UNION ALL of the CSV and JDBC sources, then normalization of the
string-encoded nested ``order_detail`` column
(``product|aisle|qty~product|aisle|qty~...``) via split → explode → getItem,
non-ASCII strip, Float→Int truncation, and the ``hour==24 → 0`` fix.

Spark-first notes
-----------------
- Everything is native Column expressions inside one whole-stage-codegen span;
  Catalyst's CollapseProject folds the chain into a single projection.
- The pipeline is shuffle-free: scan → narrow maps. At 100 TB the only cost
  is scan + parse, which scales linearly with input splits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from scala_etl_test_spark.functions.cleaning import fix_hour_24, strip_non_ascii


def positional_union(*dfs: DataFrame) -> DataFrame:
    """UNION ALL by column position, duplicates kept (ApplaudoETL.scala:157).

    Spark's ``union`` is positional; we replicate that for parity.
    :func:`union_by_name` is the safe idiom exposed alongside.
    """
    out = dfs[0]
    for df in dfs[1:]:
        out = out.union(df)
    return out


def union_by_name(*dfs: DataFrame, allow_missing: bool = False) -> DataFrame:
    """Safe union that matches columns by name (beyond-reference idiom)."""
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df, allowMissingColumns=allow_missing)
    return out


def parse_order_detail(df: DataFrame, detail_col: str = "order_detail") -> DataFrame:
    """Normalize the ``order_detail`` nested encoding into line-item rows.

    One row per ``product|aisle|qty`` triple (ApplaudoETL.scala:158-163):

    - ``split(detail, "~")`` → array of triples; ``explode`` → one row each
      (1 order ≈ 10.55 items in the reference's production data);
    - ``split(triple, "\\|")`` + ``F.get`` → ``product`` / ``aisles`` /
      ``number_of_products`` (qty cast to Int). ``F.get``, not
      ``getItem`` (r13 edge-corpus convention): a triple with missing
      fields — one dirty detail string in 100 TB — yields a short array,
      and ``getItem`` past the end kills the executor under Spark 4
      ANSI; out-of-range index ⇒ NULL instead;
    - intermediate array columns dropped.
    """
    split_detail = F.split(F.col(detail_col), "~")
    exploded = df.withColumn("product_detail_item", F.explode(split_detail))
    triple = F.split(F.col("product_detail_item"), r"\|")
    return (
        exploded.withColumn("product", F.get(triple, 0))
        .withColumn("aisles", F.get(triple, 1))
        .withColumn("number_of_products", F.get(triple, 2).cast("int"))
        .drop(detail_col, "product_detail_item")
    )


def clean_orders(df: DataFrame) -> DataFrame:
    """Post-explode cleaning (ApplaudoETL.scala:164-167):

    - strip non-ASCII from product names (``regexp_replace`` with the
      byte-range class ``[^\\x00-\\x7F]``, ApplaudoETL.scala:164);
    - truncate ``days_since_prior_order`` Float→Int (``:165``);
    - ``order_hour_of_day == 24 → 0`` (blob data dirtiness, ``:166-167``).
    """
    return (
        df.withColumn("product", strip_non_ascii("product"))
        .withColumn(
            "days_since_prior_order", F.col("days_since_prior_order").cast("int")
        )
        .withColumn("order_hour_of_day", fix_hour_24("order_hour_of_day"))
    )


def merge_and_transform(*sources: DataFrame) -> DataFrame:
    """Full ``mergeAndTransformData`` equivalent (ApplaudoETL.scala:156-168):
    positional union of all sources → parse ``order_detail`` → clean."""
    merged = positional_union(*sources)
    return clean_orders(parse_order_detail(merged))
