"""Item-to-item collaborative filtering: the item-kNN neighbor graph from
basket co-occurrence (Sarwar et al. 2001; the "customers who bought X also
bought Y" primitive).

Distinct from the market-basket query (plans/queries.py:q_copurchase_pairs,
which thresholds pairs by support and reports LIFT): this operator emits the
top-k NEAREST NEIGHBORS per item under COSINE over binary basket-incidence
vectors — the precomputed similarity table an item-based recommender serves
lookups from.

cosine(i, j) = |baskets(i) ∩ baskets(j)| / sqrt(|baskets(i)|·|baskets(j)|)

Scale shape (r14): pair generation is ROW-LOCAL — each kept basket folds
into one sorted item array (the groupBy rides the basket-size window's
existing hashpartitioning, zero extra exchanges) and emits its i<j pairs
PLUS one (i, i) unit row per member, so a single (i, j) aggregation
yields both co-occurrence counts (i < j) and per-item basket totals
(i = j). Two windows then attach the cosine denominators and the final
per-item top-k rank — the whole operator is ONE lineage with zero joins
and zero caching (the previous self-join shape persisted the kept-basket
table and fed it to three consumers, which raced to rebuild the cold
cache, and paid broadcast joins for the per-item totals).

The fanout of a basket with k items is k²/2 — the ONLY skew threat. The
``basket_cap`` guard drops baskets above the cap BEFORE the array fold
(the standard power-basket pruning; a 10⁴-item basket contributes 10⁸
pairs and ~zero signal), so no collect buffer or explode ever exceeds
``basket_cap``. Everything downstream is bounded: per-pair counts
partially aggregate map-side and the per-item top-k is a
WindowGroupLimit (rank ≤ k prunes before the sort completes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from scala_etl_test_spark.operators.partitioning import pin_by_key


def item_item_cosine(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int = 2,
    top_k: int = 5,
    basket_cap: int = 1000,
    round_digits: int = 6,
) -> DataFrame:
    """Top-``top_k`` cosine neighbors per item from basket co-occurrence.

    Baskets holding more than ``basket_cap`` distinct items are excluded
    entirely (documented recall tradeoff — their pair fanout is quadratic
    and their signal is diluted by construction). Pairs co-occurring in
    fewer than ``min_support`` baskets are dropped before ranking.

    Determinism: the neighbor ranking orders by the ROUNDED cosine (both
    engines see identical doubles, but rounding first collapses near-ties
    into the explicit id tie-break), then neighbor id.

    Returns (item, neighbor, co_baskets, cosine, rank), rank 1..top_k.
    """
    # NULL basket ids never matched the previous shape's inner join on the
    # basket key; the explicit filter pins that contract for the window form.
    # The size-cap window, the array fold and the k²/2 pair explode all ride
    # this one pinned basket partitioning; no further basket-keyed exchange
    # exists.
    bi = (
        df.select(F.col(basket_col).alias("_b"), F.col(item_col).alias("_i"))
        .filter(F.col("_b").isNotNull())
        .transform(pin_by_key, "_b")
        .distinct()
    )
    # basket-size cap via a window count (streams — no size-bounded buffer),
    # then the array fold rides the SAME hashpartitioning(_b): zero extra
    # exchanges between the cap and the pair generation
    sized = bi.withColumn(
        "_sz", F.count(F.lit(1)).over(Window.partitionBy("_b"))
    ).filter(F.col("_sz") <= basket_cap)
    baskets = sized.groupBy("_b").agg(
        F.array_sort(F.collect_set("_i")).alias("_items")
    )
    # one explode emits the basket's i<j pairs AND an (x, x) unit row per
    # member; a self-pair cannot occur as a real pair (strict i<j on a
    # distinct sorted array), so i = j unambiguously marks per-item rows
    units = F.transform(
        F.col("_items"), lambda x: F.struct(x.alias("i"), x.alias("j"))
    )
    ij_pairs = F.flatten(
        F.transform(
            F.col("_items"),
            lambda x, idx: F.transform(
                F.slice(F.col("_items"), idx + 2, F.size(F.col("_items"))),
                lambda y: F.struct(x.alias("i"), y.alias("j")),
            ),
        )
    )
    stats = (
        baskets.select(F.explode(F.concat(units, ij_pairs)).alias("_e"))
        .groupBy(F.col("_e.i").alias("i"), F.col("_e.j").alias("j"))
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    # symmetrize pairs row-locally; unit rows pass through once and serve
    # BOTH window partitions below (their i and j are the same item)
    sym = (
        stats.filter((F.col("i") == F.col("j")) | (F.col("_n") >= min_support))
        .select(
            F.explode(
                F.when(
                    F.col("i") == F.col("j"),
                    F.array(F.struct(F.col("i"), F.col("j"))),
                ).otherwise(
                    F.array(
                        F.struct(F.col("i"), F.col("j")),
                        F.struct(F.col("j").alias("i"), F.col("i").alias("j")),
                    )
                )
            ).alias("_e"),
            "_n",
        )
        .select(F.col("_e.i").alias("i"), F.col("_e.j").alias("j"), "_n")
    )
    # denominators via two windows instead of two broadcast joins: every
    # item present in any pair is present in ≥1 kept basket, so its unit
    # row is in both partitions
    unit_n = F.max(F.when(F.col("i") == F.col("j"), F.col("_n")))
    with_nj = sym.withColumn("n_j", unit_n.over(Window.partitionBy("j")))
    with_ni = with_nj.withColumn("n_i", unit_n.over(Window.partitionBy("i")))
    cos = F.round(
        F.col("_n") / F.sqrt(F.col("n_i") * F.col("n_j")), round_digits
    )
    ranked = (
        with_ni.filter(F.col("i") != F.col("j"))
        .select(
            F.col("i").alias("item"),
            F.col("j").alias("neighbor"),
            F.col("_n").alias("co_baskets"),
            cos.alias("cosine"),
        )
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("item").orderBy(
                    F.col("cosine").desc(), F.col("neighbor").asc()
                )
            ),
        )
    )
    return ranked.filter(F.col("rank") <= top_k)
