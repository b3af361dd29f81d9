"""The engine's declared query inventory (driver contract).

One entry per SURVEY.md §2 operator family, re-targeted at the driver's
TPC-H-ish testdata per FIXTURES.md §B, plus TPC-H classics as headline
benchmark queries. Every entry ships BOTH a Spark callable
``(spark, sf_dir) -> DataFrame`` and a DuckDB oracle SQL string over the same
parquet tables.

Cross-engine determinism rules (these make the driver's value-hash match):

- **Float aggregation**: raw doubles are cast to ``decimal(12,2)`` *before*
  arithmetic/summing, so both engines do exact decimal math, and the final
  column is cast back to ``double`` — bit-identical results independent of
  partitioning/order. Never sum raw doubles in an oracle-checked query.
- **Types at the boundary**: DuckDB ``sum(INTEGER)`` yields HUGEINT and
  Spark yields LONG — every aggregate is explicitly cast (``AS BIGINT`` /
  ``AS DOUBLE``) on both sides.
- **Timestamps** are formatted to strings before output.
- **Ties**: any top-k/first-row-wins query carries a total-order tie-break.
- **Column names**: aliased identically on both sides (driver sorts columns
  by name before hashing).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from scala_etl_test_spark.caching import tracked_persist

from scala_etl_test_spark.functions.cleaning import int_div


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from scala_etl_test_spark.sources.parquet_source import read_table

    return read_table(spark, sf_dir, name)


def _dec(col: str | F.Column, scale: int = 2) -> F.Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal(12,{scale})")


# --------------------------------------------------------------------------
# P1/P5/P6 — scan + filter + projection (pushdown-friendly)
# --------------------------------------------------------------------------

def q_scan_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate + projection reaching the parquet scan (SURVEY §2.2).

    ``.explain`` shows PushedFilters for both predicates and a 4-column
    ReadSchema — the scan reads nothing else.
    """
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter((F.col("l_quantity") > 45) & (F.col("l_returnflag") == "R"))
        .select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_quantity").cast("double").alias("quantity"),
            F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_date"),
        )
    )


SQL_SCAN_FILTER_PROJECT = """
SELECT l_orderkey,
       l_linenumber,
       CAST(l_quantity AS DOUBLE) AS quantity,
       strftime(l_shipdate, '%Y-%m-%d') AS ship_date
FROM lineitem
WHERE l_quantity > 45 AND l_returnflag = 'R'
"""


# --------------------------------------------------------------------------
# U1 — positional UNION ALL (duplicates kept), verified via aggregation
# --------------------------------------------------------------------------

def q_union_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional union (ApplaudoETL.scala:157 semantics): lineitem split by
    a predicate and re-unioned must be count- and sum-preserving."""
    li = _t(spark, sf_dir, "lineitem")
    lo = li.filter(F.col("l_linenumber") <= 3)
    hi = li.filter(F.col("l_linenumber") > 3)
    return (
        lo.union(hi)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
        )
    )


SQL_UNION_POSITIONAL = """
WITH u AS (
  SELECT * FROM lineitem WHERE l_linenumber <= 3
  UNION ALL
  SELECT * FROM lineitem WHERE l_linenumber > 3
)
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
FROM u GROUP BY l_returnflag
"""


# --------------------------------------------------------------------------
# F1-F3 — split / explode / getItem round-trip on a synthesized encoding
# --------------------------------------------------------------------------

def q_split_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The order_detail normalization pattern (ApplaudoETL.scala:158-162) on
    synthesized data: encode two `flag|status|qty` triples per lineitem row,
    explode back to 2 rows, decompose via getItem.

    Input layout guard (VERDICT r10 item 7, reversing the r5 call): the r5
    decision not to ``_spread`` this 2× fanout was re-measured on a quiet
    window at r11 — the sf0.1 lineitem parquet packs into 3 scan splits
    vs 32 cores, and the spread variant ran 0.58 s vs 1.00 s plain at
    sf0.1 (and +0.05 s at sf0.01, shuffle overhead), cutting the 10×-data
    wall ratio from 2.4 (3.66 on the loaded r10 window) to ~1.2. The
    guard passes through untouched whenever the scan already splits past
    the core count — warehouse scale pays nothing."""
    from scala_etl_test_spark.operators.dedup import _spread

    li = _spread(_t(spark, sf_dir, "lineitem"), "l_orderkey")
    item = F.concat_ws("|", "l_returnflag", "l_linestatus", F.col("l_linenumber").cast("string"))
    encoded = li.select(
        "l_orderkey",
        "l_linenumber",
        F.concat_ws("~", item, item).alias("detail"),
    )
    exploded = encoded.withColumn("triple", F.explode(F.split("detail", "~")))
    parts = F.split(F.col("triple"), r"\|")
    # F.get, not getItem (r13 edge-corpus convention): concat_ws SKIPS
    # NULL fields in both engines, so a NULL returnflag/linestatus row
    # yields a SHORT triple — getItem past the end kills the executor
    # under ANSI, while DuckDB's list index returns NULL. Out-of-range
    # split index ⇒ NULL.
    return exploded.select(
        "l_orderkey",
        "l_linenumber",
        F.get(parts, 0).alias("flag"),
        F.get(parts, 1).alias("status"),
        F.get(parts, 2).cast("int").alias("item_number"),
    )


SQL_SPLIT_EXPLODE = """
WITH encoded AS (
  SELECT l_orderkey, l_linenumber,
         concat_ws('~', t.item, t.item) AS detail
  FROM (
    SELECT l_orderkey, l_linenumber,
           concat_ws('|', l_returnflag, l_linestatus, CAST(l_linenumber AS VARCHAR)) AS item
    FROM lineitem
  ) t
), exploded AS (
  SELECT l_orderkey, l_linenumber, unnest(string_split(detail, '~')) AS triple
  FROM encoded
)
SELECT l_orderkey, l_linenumber,
       string_split(triple, '|')[1] AS flag,
       string_split(triple, '|')[2] AS status,
       CAST(string_split(triple, '|')[3] AS INTEGER) AS item_number
FROM exploded
"""


# --------------------------------------------------------------------------
# J1 — broadcast LEFT equi-join with NULL-preserving unmatched keys
# --------------------------------------------------------------------------

def q_broadcast_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem ⟕ broadcast(part-subset) (ApplaudoETL.scala:43-44 shape): the
    dimension is filtered so some fact rows have no match → NULL brand kept
    through the aggregation. Explicit ``F.broadcast`` as in the reference."""
    li = _t(spark, sf_dir, "lineitem")
    dim = _t(spark, sf_dir, "part").filter(F.col("p_size") > 10).select("p_partkey", "p_brand")
    return (
        li.join(F.broadcast(dim), li["l_partkey"] == dim["p_partkey"], "left")
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_price"),
        )
    )


SQL_BROADCAST_LEFT_JOIN = """
SELECT p.p_brand,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
FROM lineitem l
LEFT JOIN (SELECT p_partkey, p_brand FROM part WHERE p_size > 10) p
  ON l.l_partkey = p.p_partkey
GROUP BY p.p_brand
"""


# --------------------------------------------------------------------------
# J2 — INNER USING join
# --------------------------------------------------------------------------

def q_inner_join_using(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer ⋈ nation USING-style (single key column in output), the
    ``Seq("user_id")`` join shape of ApplaudoETL.scala:59."""
    cust = _t(spark, sf_dir, "customer").withColumnRenamed("c_nationkey", "nationkey")
    nat = _t(spark, sf_dir, "nation").withColumnRenamed("n_nationkey", "nationkey")
    return (
        cust.join(nat, on=["nationkey"])
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(_dec("c_acctbal")).cast("double").alias("sum_acctbal"),
        )
    )


SQL_INNER_JOIN_USING = """
SELECT n.n_name,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(CAST(c.c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_acctbal
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
"""


# --------------------------------------------------------------------------
# A1 — whole-partition window SUM
# --------------------------------------------------------------------------

def q_window_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``sum(x) over (partition by key)`` with no orderBy — the
    total_products_bought pattern (ApplaudoETL.scala:213)."""
    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.sum(_dec("l_quantity")).over(w).cast("double").alias("order_total_qty"),
    )


SQL_WINDOW_SUM = """
SELECT l_orderkey, l_linenumber,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) OVER (PARTITION BY l_orderkey) AS DOUBLE)
         AS order_total_qty
FROM lineitem
"""


# --------------------------------------------------------------------------
# A2 — conditional (filtered) window SUM
# --------------------------------------------------------------------------

def q_conditional_window_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``sum(when(col.isin(...), x).otherwise(0)) over w`` — the mom/single/
    pet filtered-sum pattern (ApplaudoETL.scala:216-221). Two conditional
    sums over the SAME window spec compile to ONE Window node (§4.2)."""
    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey")
    returned = F.sum(
        F.when(F.col("l_returnflag").isin("A", "R"), _dec("l_quantity")).otherwise(F.lit(0).cast("decimal(12,2)"))
    ).over(w)
    filled = F.sum(
        F.when(F.col("l_linestatus") == "F", _dec("l_quantity")).otherwise(F.lit(0).cast("decimal(12,2)"))
    ).over(w)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        returned.cast("double").alias("returned_qty"),
        filled.cast("double").alias("filled_qty"),
    )


SQL_CONDITIONAL_WINDOW_SUM = """
SELECT l_orderkey, l_linenumber,
       CAST(SUM(CASE WHEN l_returnflag IN ('A','R') THEN CAST(l_quantity AS DECIMAL(12,2))
                     ELSE CAST(0 AS DECIMAL(12,2)) END)
            OVER (PARTITION BY l_orderkey) AS DOUBLE) AS returned_qty,
       CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(12,2))
                     ELSE CAST(0 AS DECIMAL(12,2)) END)
            OVER (PARTITION BY l_orderkey) AS DOUBLE) AS filled_qty
FROM lineitem
"""


# --------------------------------------------------------------------------
# A3 — key-distinct, deterministic first-row-wins
# --------------------------------------------------------------------------

def q_dedup_first_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``dropDuplicates("user_id")`` pattern (ApplaudoETL.scala:224) made
    deterministic: keep each customer's lowest-orderkey order (SURVEY §2.8
    Trap 2 tie-break policy)."""
    orders = _t(spark, sf_dir, "orders")
    # NULLS LAST (r13 edge-corpus convention: NULL sorts last in every
    # explicit total ordering — a real orderkey beats an unknown one, so
    # "first order" is never the NULL-key row; Spark's ASC default is
    # NULLS FIRST, DuckDB's is NULLS LAST, so leaving it implicit is a
    # cross-engine divergence on any NULL key)
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_orderkey").asc_nulls_last())
    return (
        orders.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "o_custkey",
            "o_orderkey",
            _dec("o_totalprice").cast("double").alias("first_order_price"),
        )
    )


SQL_DEDUP_FIRST_ORDER = """
SELECT o_custkey, o_orderkey,
       CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS first_order_price
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderkey NULLS LAST) AS rn
  FROM orders
) WHERE rn = 1
"""


# --------------------------------------------------------------------------
# A4 — groupBy count
# --------------------------------------------------------------------------

def q_groupby_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``groupBy(k).count()`` (reference ipynb cells 27/29 verification)."""
    return _t(spark, sf_dir, "orders").groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders")
    )


SQL_GROUPBY_COUNT = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders GROUP BY o_orderpriority
"""


# --------------------------------------------------------------------------
# A6 — exact quantiles per group (single-pass rewrite of the driver loop)
# --------------------------------------------------------------------------

def q_quantiles_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartiles of l_quantity per l_linestatus. Continuous (interpolated)
    quantiles: Spark ``percentile`` == DuckDB ``quantile_cont`` (rank
    convention pinned by tests/test_quantile_pin.py). The reference's
    discrete formulation (approxQuantile ε=0) is exercised in
    segmentation; this query is the one-pass groupBy form (SURVEY §2.4 A6).
    """
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        F.expr("percentile(l_quantity, 0.25)").alias("q1"),
        F.expr("percentile(l_quantity, 0.5)").alias("q2"),
        F.expr("percentile(l_quantity, 0.75)").alias("q3"),
    )


SQL_QUANTILES_PER_GROUP = """
SELECT l_linestatus,
       quantile_cont(l_quantity, 0.25) AS q1,
       quantile_cont(l_quantity, 0.5)  AS q2,
       quantile_cont(l_quantity, 0.75) AS q3
FROM lineitem GROUP BY l_linestatus
"""


# --------------------------------------------------------------------------
# U-A — category rule engine (integer-division semantics) on TPC-H
# --------------------------------------------------------------------------

def q_category_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The clientsCategory rule shape (ApplaudoETL.scala:201-211) re-targeted
    at orders: a customer is labeled by INTEGER-division share tests —
    true iff 100 % of their orders match (Trap 1 semantics), priority-ordered.
    """
    orders = _t(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("total_orders"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).cast("long").alias("finished_orders"),
        F.sum(F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1).otherwise(0))
        .cast("long")
        .alias("urgent_orders"),
    )
    category = (
        F.when(int_div(F.col("finished_orders"), F.col("total_orders")) > 0.5, F.lit("All Finished"))
        .when(int_div(F.col("urgent_orders"), F.col("total_orders")) > 0.6, F.lit("All Urgent"))
        .otherwise(F.lit("A complete mystery"))
    )
    return per_cust.select(
        "o_custkey",
        "total_orders",
        "finished_orders",
        "urgent_orders",
        category.alias("category"),
    )


SQL_CATEGORY_RULES = """
WITH per_cust AS (
  SELECT o_custkey,
         CAST(COUNT(*) AS BIGINT) AS total_orders,
         CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS finished_orders,
         CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS urgent_orders
  FROM orders GROUP BY o_custkey
)
SELECT o_custkey, total_orders, finished_orders, urgent_orders,
       CASE WHEN finished_orders // total_orders > 0.5 THEN 'All Finished'
            WHEN urgent_orders // total_orders > 0.6 THEN 'All Urgent'
            ELSE 'A complete mystery' END AS category
FROM per_cust
"""


# --------------------------------------------------------------------------
# U-B — segmentation rule engine (quantile thresholds) on TPC-H
# --------------------------------------------------------------------------

def q_segmentation_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The clientsSegmentation shape (ApplaudoETL.scala:234-263) re-targeted:
    per-order-priority quartiles of o_totalprice (continuous), per-customer
    window total, rule engine with gaps, deterministic collapse by max
    o_orderkey. The quantile table joins back broadcast-style (7-row dim)."""
    orders = _t(spark, sf_dir, "orders")
    quartiles = orders.groupBy("o_orderpriority").agg(
        F.expr("percentile(o_totalprice, 0.25)").alias("q1"),
        F.expr("percentile(o_totalprice, 0.5)").alias("q2"),
        F.expr("percentile(o_totalprice, 0.75)").alias("q3"),
    )
    w = Window.partitionBy("o_custkey")
    dom = F.dayofmonth("o_orderdate")
    labeled = (
        orders.withColumn("cust_total", F.sum(_dec("o_totalprice")).over(w).cast("double"))
        .join(F.broadcast(quartiles), on="o_orderpriority", how="left")
        .withColumn(
            "segment",
            F.when((dom <= 7) & (F.col("cust_total") > F.col("q3")), "You've Got a Friend in Me")
            .when((dom >= 10) & (dom <= 19) & (F.col("cust_total") > F.col("q2")), "Baby come Back")
            .when((dom > 20) & (F.col("cust_total") > F.col("q1")), "Special Offers")
            .otherwise("Undefined"),
        )
    )
    pick = Window.partitionBy("o_custkey").orderBy(F.col("o_orderkey").desc())
    return (
        labeled.withColumn("_rn", F.row_number().over(pick))
        .filter(F.col("_rn") == 1)
        .select("o_custkey", "segment")
    )


SQL_SEGMENTATION_RULES = """
WITH quartiles AS (
  SELECT o_orderpriority,
         quantile_cont(o_totalprice, 0.25) AS q1,
         quantile_cont(o_totalprice, 0.5)  AS q2,
         quantile_cont(o_totalprice, 0.75) AS q3
  FROM orders GROUP BY o_orderpriority
), labeled AS (
  SELECT o.o_custkey, o.o_orderkey,
         CAST(SUM(CAST(o.o_totalprice AS DECIMAL(12,2))) OVER (PARTITION BY o.o_custkey) AS DOUBLE)
           AS cust_total,
         day(o.o_orderdate) AS dom,
         q.q1, q.q2, q.q3
  FROM orders o LEFT JOIN quartiles q USING (o_orderpriority)
), segmented AS (
  SELECT o_custkey, o_orderkey,
         CASE WHEN dom <= 7 AND cust_total > q3 THEN 'You''ve Got a Friend in Me'
              WHEN dom >= 10 AND dom <= 19 AND cust_total > q2 THEN 'Baby come Back'
              WHEN dom > 20 AND cust_total > q1 THEN 'Special Offers'
              ELSE 'Undefined' END AS segment,
         ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderkey DESC) AS rn
  FROM labeled
)
SELECT o_custkey, segment FROM segmented WHERE rn = 1
"""


# --------------------------------------------------------------------------
# F4-F9 — cast / regexp_replace / when / trim / abs / isin projection
# --------------------------------------------------------------------------

def q_validate_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scalar-function surface (SURVEY §2.7) on synthesized dirty data:
    pad-then-trim, negate-then-abs, strip digits, when/otherwise, isin."""
    cust = _t(spark, sf_dir, "customer")
    dirty = cust.select(
        "c_custkey",
        F.concat(F.lit("  "), F.col("c_name"), F.lit("  ")).alias("padded_name"),
        (F.col("c_custkey") * -1).alias("neg_key"),
        F.col("c_acctbal").alias("bal"),
        "c_mktsegment",
    )
    return dirty.select(
        "c_custkey",
        F.trim(F.col("padded_name")).alias("name_trimmed"),
        F.regexp_replace(F.trim(F.col("padded_name")), "[0-9]", "").alias("name_no_digits"),
        F.abs(F.col("neg_key")).cast("long").alias("abs_key"),
        F.when(F.col("bal") < 0, F.lit(0.0)).otherwise(_dec("bal").cast("double")).alias("bal_floor"),
        F.col("c_mktsegment").isin("BUILDING", "MACHINERY").alias("is_target_segment"),
    )


SQL_VALIDATE_NORMALIZE = """
-- '  ' || c_name || '  ', not concat(): string normalizers are
-- NULL-PRESERVING (r13 edge-corpus convention — NULL name in, NULL
-- normalized name out). Spark's concat propagates NULL but DuckDB's
-- SKIPS it, so the oracle must use the NULL-propagating || operator to
-- express the same semantics.
SELECT c_custkey,
       trim('  ' || c_name || '  ') AS name_trimmed,
       regexp_replace(trim('  ' || c_name || '  '), '[0-9]', '', 'g') AS name_no_digits,
       CAST(abs(c_custkey * -1) AS BIGINT) AS abs_key,
       CASE WHEN c_acctbal < 0 THEN 0.0
            ELSE CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) END AS bal_floor,
       c_mktsegment IN ('BUILDING','MACHINERY') AS is_target_segment
FROM customer
"""


# --------------------------------------------------------------------------
# O1 — ORDER BY + LIMIT top-k (tie-broken)
# --------------------------------------------------------------------------

def q_topk_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    revenue = orders.groupBy("o_custkey").agg(
        F.sum(_dec("o_totalprice")).cast("double").alias("revenue")
    )
    return revenue.orderBy(F.col("revenue").desc(), F.col("o_custkey")).limit(10)


SQL_TOPK_CUSTOMERS = """
SELECT o_custkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
FROM orders GROUP BY o_custkey
ORDER BY revenue DESC, o_custkey LIMIT 10
"""


# --------------------------------------------------------------------------
# TPC-H classics (headline bench queries)
# --------------------------------------------------------------------------

def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary — the canonical scan+agg throughput query.
    All money math in exact decimal; averages derived from exact sums."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = _dec("l_extendedprice") * (F.lit(1).cast("decimal(12,2)") - _dec("l_discount"))
    charge = disc_price * (F.lit(1).cast("decimal(12,2)") + _dec("l_tax"))
    agg = (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).alias("_sum_qty"),
            F.sum(_dec("l_extendedprice")).alias("_sum_base"),
            F.sum(disc_price).alias("_sum_disc"),
            F.sum(charge).alias("_sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )
    n = F.col("count_order")
    return agg.select(
        "l_returnflag",
        "l_linestatus",
        F.col("_sum_qty").cast("double").alias("sum_qty"),
        F.col("_sum_base").cast("double").alias("sum_base_price"),
        F.col("_sum_disc").cast("double").alias("sum_disc_price"),
        F.col("_sum_charge").cast("double").alias("sum_charge"),
        (F.col("_sum_qty").cast("double") / n).alias("avg_qty"),
        (F.col("_sum_base").cast("double") / n).alias("avg_price"),
        "count_order",
    )


SQL_TPCH_Q1 = """
WITH agg AS (
  SELECT l_returnflag, l_linestatus,
         SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sq,
         SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS sb,
         SUM(CAST(l_extendedprice AS DECIMAL(12,2))
             * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS sd,
         SUM(CAST(l_extendedprice AS DECIMAL(12,2))
             * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))
             * (CAST(1 AS DECIMAL(12,2)) + CAST(l_tax AS DECIMAL(12,2)))) AS sc,
         CAST(COUNT(*) AS BIGINT) AS count_order
  FROM lineitem
  WHERE l_shipdate <= TIMESTAMP '1998-09-02'
  GROUP BY l_returnflag, l_linestatus
)
SELECT l_returnflag, l_linestatus,
       CAST(sq AS DOUBLE) AS sum_qty,
       CAST(sb AS DOUBLE) AS sum_base_price,
       CAST(sd AS DOUBLE) AS sum_disc_price,
       CAST(sc AS DOUBLE) AS sum_charge,
       CAST(sq AS DOUBLE) / count_order AS avg_qty,
       CAST(sb AS DOUBLE) / count_order AS avg_price,
       count_order
FROM agg
"""


def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shipping priority — 3-way join + agg + top-10. The customer
    filter prunes before the join; AQE picks broadcast for the small side."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1996-01-01"))
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1996-01-01"))
    revenue = _dec("l_extendedprice") * (F.lit(1).cast("decimal(12,2)") - _dec("l_discount"))
    return (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"])
        .join(li, orders["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"))
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


SQL_TPCH_Q3 = """
SELECT o.o_orderkey,
       strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                * (CAST(1 AS DECIMAL(12,2)) - CAST(l.l_discount AS DECIMAL(12,2)))) AS DOUBLE)
         AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1996-01-01'
  AND l.l_shipdate > TIMESTAMP '1996-01-01'
GROUP BY o.o_orderkey, strftime(o.o_orderdate, '%Y-%m-%d')
ORDER BY revenue DESC, o.o_orderkey LIMIT 10
"""


def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 local-supplier revenue — 6-way join; the region/nation dims
    broadcast, the c_nationkey == s_nationkey co-location condition is the
    interesting constraint."""
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01")) & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    revenue = _dec("l_extendedprice") * (F.lit(1).cast("decimal(12,2)") - _dec("l_discount"))
    return (
        region.join(nation, region["r_regionkey"] == nation["n_regionkey"])
        .join(cust, nation["n_nationkey"] == cust["c_nationkey"])
        .join(orders, cust["c_custkey"] == orders["o_custkey"])
        .join(li, orders["o_orderkey"] == li["l_orderkey"])
        .join(
            supp,
            (li["l_suppkey"] == supp["s_suppkey"]) & (cust["c_nationkey"] == supp["s_nationkey"]),
        )
        .groupBy("n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
    )


SQL_TPCH_Q5 = """
SELECT n.n_name,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                * (CAST(1 AS DECIMAL(12,2)) - CAST(l.l_discount AS DECIMAL(12,2)))) AS DOUBLE)
         AS revenue
FROM region r
JOIN nation n ON r.r_regionkey = n.n_regionkey
JOIN customer c ON n.n_nationkey = c.c_nationkey
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01' AND o.o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n.n_name
"""


# --------------------------------------------------------------------------
# Events: time-bucketed rollup + gap sessionization (batch analogs of the
# streaming extension; SURVEY §2.9)
# --------------------------------------------------------------------------

def q_events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window rollup expressed in batch: hour bucket × event_type."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour_bucket"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_dec("value")).cast("double").alias("sum_value"),
        )
    )


SQL_EVENTS_HOURLY_ROLLUP = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_bucket,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
"""


def q_events_hourly_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window anomaly detection per event type: each hour's count
    z-scored against the previous 24 hourly buckets; |z| > 3 flags a spike
    or outage. One rollup shuffle + one window per type — the monitoring
    query every event pipeline runs.

    Determinism: counts are exact integers, so the trailing mean/variance
    (computed from SUM and SUM of squares in double) and ``sqrt`` are
    bit-identical across engines; the z-score is rounded to 6.
    NULL-timestamp events are excluded (r12 timeline-operator
    convention): an undated event belongs to no hour, and a NULL bucket
    sorts on opposite ends of the trailing window in the two engines,
    shifting every downstream running statistic by one position.
    """
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    hourly = ev.groupBy(
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour_bucket"),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("n_events"))
    win = (
        Window.partitionBy("event_type")
        .orderBy("hour_bucket")
        .rowsBetween(-24, -1)
    )
    n = F.count(F.lit(1)).over(win)
    s = F.sum("n_events").over(win)
    sq = F.sum(F.col("n_events") * F.col("n_events")).over(win)
    # try_divide everywhere: window projections evaluate before the CASE
    # gate, so with ANSI on a plain `/` throws on the history-less first
    # rows (n = 0). double-first products match the oracle's
    # CAST(s AS DOUBLE) * s — an exact-long product would round
    # differently once it passes 2^53.
    mean = F.try_divide(s.cast("double"), n)
    var = F.try_divide(sq - F.try_divide(s.cast("double") * s, n), n - 1)
    z = F.round(F.try_divide(F.col("n_events") - mean, F.sqrt(var)), 6)
    return (
        hourly.select(
            "hour_bucket",
            "event_type",
            "n_events",
            # need history to judge; constant-count windows (var = 0) give
            # no scale for a z-score
            F.when((n >= 12) & (var > 0), z).alias("zscore"),
        )
        .withColumn("is_anomaly", F.coalesce(F.abs("zscore") > 3, F.lit(False)))
    )


SQL_EVENTS_HOURLY_ANOMALY = """
WITH hourly AS (
  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_bucket,
         event_type,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
), stats AS (
  SELECT hour_bucket, event_type, n_events,
         COUNT(*) OVER w AS n,
         SUM(n_events) OVER w AS s,
         SUM(n_events * n_events) OVER w AS sq
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY hour_bucket
               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
)
SELECT hour_bucket, event_type, n_events, zscore,
       COALESCE(abs(zscore) > 3, FALSE) AS is_anomaly
FROM (
  SELECT hour_bucket, event_type, n_events,
         CASE WHEN n >= 12 AND (sq - CAST(s AS DOUBLE) * s / n) / (n - 1) > 0
              THEN round((n_events - CAST(s AS DOUBLE) / n)
                         / sqrt((sq - CAST(s AS DOUBLE) * s / n) / (n - 1)), 6)
         END AS zscore
  FROM stats
)
"""


def q_expect_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality report over ``orders``: four row-local
    rules in ONE scan/aggregate plus a key-uniqueness check
    (operators/expectations.py) — the contract gate a pipeline runs before
    trusting a table."""
    from scala_etl_test_spark.operators.expectations import (
        check_rules,
        in_range,
        non_negative,
        not_null,
    )

    orders = _t(spark, sf_dir, "orders")
    rules = [
        not_null("o_custkey"),
        non_negative("o_totalprice"),
        in_range("o_orderpriority", "1-URGENT", "5-LOW"),
        not_null("o_orderdate"),
    ]
    return check_rules(orders, rules, unique_keys=["o_orderkey"])


SQL_EXPECT_ORDERS = """
WITH wide AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(CASE WHEN o_custkey IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT) AS v1,
         CAST(SUM(CASE WHEN o_totalprice >= 0 THEN 0 ELSE 1 END) AS BIGINT) AS v2,
         CAST(SUM(CASE WHEN o_orderpriority BETWEEN '1-URGENT' AND '5-LOW' THEN 0 ELSE 1 END) AS BIGINT) AS v3,
         CAST(SUM(CASE WHEN o_orderdate IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT) AS v4
  FROM orders
), uniq AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n_rows, CAST(SUM(c) - COUNT(*) AS BIGINT) AS v
  FROM (SELECT o_orderkey, COUNT(*) AS c FROM orders GROUP BY o_orderkey)
)
SELECT rule, n_rows, n_violations, n_violations = 0 AS pass FROM (
  SELECT 'o_custkey_not_null' AS rule, n_rows, v1 AS n_violations FROM wide
  UNION ALL SELECT 'o_totalprice_non_negative', n_rows, v2 FROM wide
  UNION ALL SELECT 'o_orderpriority_in_range', n_rows, v3 FROM wide
  UNION ALL SELECT 'o_orderdate_not_null', n_rows, v4 FROM wide
  UNION ALL SELECT 'o_orderkey_unique', n_rows, v FROM uniq
)
"""


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) per user, in batch:
    lag → new-session flag → cumulative sum → per-user session stats.
    The streaming form of this operator lives in streaming/sessionize.py."""
    ev = _t(spark, sf_dir, "events")
    by_time = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.withColumn(
        "new_session",
        F.when(
            F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(by_time) > 1800 * 1_000_000,
            1,
        )
        .otherwise(0)
        .cast("long"),
    )
    # first event of a user is session 0 via sum of flags (lag NULL -> otherwise 0)
    sessions = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(by_time.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        sessions.groupBy("user_id")
        .agg(
            (F.max("session_id") + 1).cast("long").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


SQL_EVENTS_SESSIONIZE = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800 * 1000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
), sessions AS (
  SELECT user_id,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged
)
SELECT user_id,
       CAST(MAX(session_id) + 1 AS BIGINT) AS n_sessions,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM sessions GROUP BY user_id
"""


# --------------------------------------------------------------------------
# TPC-H Q6 — the pure filter+agg throughput query
# --------------------------------------------------------------------------


def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-revenue: every predicate pushes to the parquet scan; the agg
    partial-combines map-side, so shuffled bytes = one row per partition."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1994-01-01"))
            & (F.col("l_shipdate") < F.lit("1995-01-01"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(_dec("l_extendedprice") * _dec("l_discount", 4)).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


SQL_TPCH_Q6 = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(12,4))) AS DOUBLE) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem
WHERE l_shipdate >= '1994-01-01' AND l_shipdate < '1995-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""


# --------------------------------------------------------------------------
# Semi / anti joins (set-membership shapes; Spark plans LeftSemi/LeftAnti)
# --------------------------------------------------------------------------


def q_semi_join_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders having ≥1 deeply-discounted line item: left-semi join — probe
    side streams, no fact-side duplication, build side only carries the key."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_discount") > 0.08)
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


SQL_SEMI_JOIN_EXISTS = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_discount > 0.08)
GROUP BY o_orderpriority
"""


def q_anti_join_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no orders: left-anti join (NOT EXISTS)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


SQL_ANTI_JOIN_NO_ORDERS = """
SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_customers
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
GROUP BY c_mktsegment
"""


# --------------------------------------------------------------------------
# Top-k per group (training-data staple: best-k docs per source)
# --------------------------------------------------------------------------


def q_topk_docs_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 longest documents per source via ranked window. Spark plans a
    WindowGroupLimit (top-k pushed into the shuffle — partial per-partition
    top-k before the exchange), so no group ever materializes fully."""
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.col("n_chars").desc(), F.col("doc_id"))
    return (
        docs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("source", "doc_id", "n_chars", "rk")
    )


SQL_TOPK_DOCS_PER_SOURCE = """
SELECT source, doc_id, n_chars, CAST(rk AS INTEGER) AS rk
FROM (
  SELECT source, doc_id, n_chars,
         row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rk
  FROM documents
) WHERE rk <= 5
"""


# --------------------------------------------------------------------------
# Skew mitigation (operators/skew.py) — results pinned against plain SQL
# --------------------------------------------------------------------------


def q_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted fact⋈dim join (16-way hot-key spread), row-identical to the
    plain join — the oracle IS the plain join."""
    from scala_etl_test_spark.operators.skew import salted_join

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_quantity", "l_extendedprice"
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    joined = salted_join(li, orders, on=["o_orderkey"], salt=16)
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
    )


SQL_SKEW_SALTED_JOIN = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o_orderpriority
"""


def q_skew_distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted COUNT(DISTINCT user) per event_type — exact, but no
    reducer ever holds a whole hot key's value set."""
    from scala_etl_test_spark.operators.skew import salted_distinct_count

    ev = _t(spark, sf_dir, "events")
    return salted_distinct_count(ev, "event_type", "user_id", salt=16)


SQL_SKEW_DISTINCT_COUNT = """
SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct
FROM events GROUP BY event_type
"""


# --------------------------------------------------------------------------
# As-of join (operators/asof.py) — DuckDB has a native ASOF JOIN, so the
# union-window implementation is oracle-checked against the real thing
# --------------------------------------------------------------------------


def q_asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each click event joined to the user's most recent purchase value at
    or before the click (NULL if none). Right side is deduped per (user, ts)
    so tie semantics are engine-independent."""
    from scala_etl_test_spark.operators.asof import as_of_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("last_purchase_value"))
    )
    joined = as_of_join(
        clicks,
        purchases,
        partition_cols=["user_id"],
        left_ts="ts",
        right_ts="ts",
        value_cols=["last_purchase_value"],
    )
    # timestamps leave the query as formatted strings (determinism rules)
    return joined.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        "last_purchase_value",
    )


SQL_ASOF_LAST_PURCHASE = """
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
), purchases AS (
  SELECT user_id, ts, MAX(value) AS last_purchase_value
  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
)
SELECT c.event_id, c.user_id,
       strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
       p.last_purchase_value
FROM clicks c
ASOF LEFT JOIN purchases p ON c.user_id = p.user_id AND c.ts >= p.ts
"""


# --------------------------------------------------------------------------
# TPC-H Q14 shape — promo revenue share (conditional agg over a join)
# --------------------------------------------------------------------------


def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promotion revenue share for one ship month: broadcast dim join +
    conditional decimal aggregation; the ratio is derived from exact sums."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-09-01")) & (F.col("l_shipdate") < F.lit("1995-10-01"))
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = _dec("l_extendedprice") * (F.lit(1).cast("decimal(12,2)") - _dec("l_discount"))
    agg = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).agg(
        F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast("decimal(24,4)"))).alias("_promo"),
        F.sum(rev).alias("_total"),
    )
    return agg.select(
        F.col("_promo").cast("double").alias("promo_revenue"),
        F.col("_total").cast("double").alias("total_revenue"),
        (F.lit(100.0) * F.col("_promo").cast("double") / F.col("_total").cast("double")).alias(
            "promo_share_pct"
        ),
    )


SQL_TPCH_Q14 = """
WITH j AS (
  SELECT CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))) AS rev,
         p_type
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE l_shipdate >= '1995-09-01' AND l_shipdate < '1995-10-01'
)
SELECT CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev ELSE 0 END) AS DOUBLE) AS promo_revenue,
       CAST(SUM(rev) AS DOUBLE) AS total_revenue,
       100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev ELSE 0 END) AS DOUBLE)
             / CAST(SUM(rev) AS DOUBLE) AS promo_share_pct
FROM j
"""


# --------------------------------------------------------------------------
# TPC-H Q10 shape — top-20 customers by returned-item revenue
# --------------------------------------------------------------------------


def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Return-revenue ranking: fact filtered early, exact decimal revenue,
    total-order tie-break for the top-k.

    Join strategy: only ``nation`` (25 rows at every SF) carries a broadcast
    hint. ``customer`` is TPC-H's LARGEST dimension (1.5 M rows/SF — ~3 GB
    at SF100); a forced broadcast there bypasses
    ``autoBroadcastJoinThreshold`` and OOMs executors at cluster scale
    (VERDICT r5), so AQE decides from measured sizes: it still broadcasts at
    bench SF and falls back to sort-merge when customer outgrows the
    threshold."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = _dec("l_extendedprice") * (F.lit(1).cast("decimal(12,2)") - _dec("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(rev).alias("_rev"))
        .select("c_custkey", "c_name", "n_name", F.col("_rev").cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


SQL_TPCH_Q10 = """
SELECT c_custkey, c_name, n_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


# --------------------------------------------------------------------------
# TPC-H Q18 shape — large-quantity orders (group-having + join back)
# --------------------------------------------------------------------------


def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders whose total quantity exceeds a threshold: the HAVING side is a
    small aggregate joined back to the order header (semi-join-like shape;
    AQE broadcasts the filtered aggregate)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).alias("_qty"))
        .filter(F.col("_qty") > 120)
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .select(
            "o_orderkey",
            "o_custkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            F.col("_qty").cast("double").alias("total_qty"),
        )
    )


SQL_TPCH_Q18 = """
SELECT o_orderkey, o_custkey,
       strftime(o_orderdate, '%Y-%m-%d') AS order_date,
       CAST(t._qty AS DOUBLE) AS total_qty
FROM orders o
JOIN (
  SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(12,2))) AS _qty
  FROM lineitem GROUP BY l_orderkey HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 120
) t ON o.o_orderkey = t.l_orderkey
"""


# --------------------------------------------------------------------------
# CUBE — all grouping-set combinations in one pass
# --------------------------------------------------------------------------


def q_events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type × weekday) cube: leaf, both marginals, and grand total
    from a single Expand pass."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.cube("event_type", F.dayofweek("ts").alias("weekday"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce(F.col("weekday").cast("string"), F.lit("ALL")).alias("weekday"),
            "n_events",
        )
    )


SQL_EVENTS_CUBE = """
SELECT COALESCE(event_type, 'ALL') AS event_type,
       COALESCE(CAST(wd AS VARCHAR), 'ALL') AS weekday,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM (SELECT event_type, dayofweek(ts) + 1 AS wd FROM events)
GROUP BY CUBE (event_type, wd)
"""


# --------------------------------------------------------------------------
# Multi-dimensional aggregation: ROLLUP (hierarchy totals in one pass)
# --------------------------------------------------------------------------


def q_events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, day) rollup: leaf, per-type, and grand totals in ONE
    aggregation pass (Spark Expand + single shuffle, not three queries)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.rollup("event_type", F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_dec("value")).cast("double").alias("sum_value"),
        )
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce("day", F.lit("ALL")).alias("day"),
            "n_events",
            "sum_value",
        )
    )


SQL_EVENTS_ROLLUP = """
SELECT COALESCE(event_type, 'ALL') AS event_type,
       COALESCE(strftime(date_trunc('day', ts), '%Y-%m-%d'), 'ALL') AS day,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY ROLLUP (event_type, strftime(date_trunc('day', ts), '%Y-%m-%d'))
"""


# --------------------------------------------------------------------------
# Pivot: long → wide (per-user event-type counts)
# --------------------------------------------------------------------------

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q_events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user counts pivoted to one column per event type. The pivot
    values are DECLARED (not discovered) — at scale the discovery pass is a
    full extra scan, and an explicit list keeps the schema stable."""
    ev = _t(spark, sf_dir, "events")
    out = ev.groupBy("user_id").pivot("event_type", _EVENT_TYPES).count()
    return out.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}") for t in _EVENT_TYPES],
    )


SQL_EVENTS_PIVOT = f"""
SELECT user_id,
       {", ".join(f"CAST(COUNT(*) FILTER (WHERE event_type = '{t}') AS BIGINT) AS n_{t}" for t in _EVENT_TYPES)}
FROM events GROUP BY user_id
"""


_HLL_RSD = 0.01


def q_approx_distinct_users_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct-user estimate per event type — the sketch path
    for cardinalities too hot for exact distinct at corpus scale. The raw
    estimate is engine-specific by design (DuckDB's approx_count_distinct
    uses a different sketch), so this form has no cross-engine hash; it is
    bound-checked against Spark's exact distinct in tests/test_plans.py and
    wrapped for the driver gate by :func:`q_approx_distinct_users`."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=_HLL_RSD).alias("approx_users")
    )


def q_approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gate form of the HLL++ sketch: the error bound travels IN the
    result, so the ordinary hash compare verifies the sketch.

    One aggregate computes both the HLL++ estimate and the exact distinct;
    the output keeps the exact count (hash-matchable cross-engine) plus
    ``within_bound`` = |estimate − exact| ≤ 6·rsd·exact. The oracle asserts
    ``TRUE`` — a broken sketch (or a silently changed rsd) flips the boolean
    and fails the value hash. 6σ of rsd=0.01 puts a false failure at ~1e-9.
    At corpus scale you run only the estimate half
    (:func:`q_approx_distinct_users_raw`); the exact half here is the
    verification harness, sized for the gate's sf."""
    ev = _t(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=_HLL_RSD).alias("_approx"),
        F.count_distinct("user_id").alias("exact_users"),
    )
    return agg.select(
        "event_type",
        "exact_users",
        (
            # absolute floor of 1: for groups with < 1/(6·rsd) distinct
            # values the relative bound is tighter than one count, and a
            # single register collision would flip the flag spuriously
            F.abs(F.col("_approx") - F.col("exact_users"))
            <= F.greatest(F.lit(1.0), F.lit(6 * _HLL_RSD) * F.col("exact_users"))
        ).alias("within_bound"),
    )


SQL_APPROX_DISTINCT_USERS = """
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS within_bound
FROM events GROUP BY event_type
"""


def q_approx_quantiles_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GK-sketch quantiles with the error bound carried IN the result (the
    same in-band pattern as q_approx_distinct_users): percentile_approx
    (accuracy 10000 → rank error ≤ n/10000) must land between the EXACT
    interpolated percentiles at q ± 0.01 — a 100× slack over the sketch's
    guarantee, so a false failure requires a genuinely broken sketch. The
    approx values themselves are engine-specific (DuckDB has no GK sketch);
    the booleans and counts hash-match."""
    ev = _t(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.percentile_approx("value", [0.5, 0.95], 10000).alias("_ap"),
        F.expr("percentile(value, array(0.49, 0.51, 0.94, 0.96))").alias("_ex"),
        F.count(F.lit(1)).alias("n_events"),
    )
    ap, ex = F.col("_ap"), F.col("_ex")
    return agg.select(
        "event_type",
        "n_events",
        ((ap[0] >= ex[0]) & (ap[0] <= ex[1])).alias("p50_within_bound"),
        ((ap[1] >= ex[2]) & (ap[1] <= ex[3])).alias("p95_within_bound"),
    )


SQL_APPROX_QUANTILES_EVENTS = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       TRUE AS p50_within_bound,
       TRUE AS p95_within_bound
FROM events GROUP BY event_type
"""


def q_quantile_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-quantile workflow (operators/sketches.py:
    histogram_quantile_merge): per-day equi-width histogram partials over
    the event values union bin-wise into the period sketch, which answers
    p50/p90/p99 with the histogram guarantee |est − exact| ≤ bin_width
    checked in-band against the exact rank statistic — completing the
    mergeable-sketch tier (HLL distinct / theta set-algebra / CMS
    frequency / GK rank / histogram quantile)."""
    from scala_etl_test_spark.operators.sketches import histogram_quantile_merge

    ev = _t(spark, sf_dir, "events")
    return histogram_quantile_merge(
        ev, "value", F.to_date("ts"), quantiles=(0.5, 0.9, 0.99), nbins=64
    ).orderBy("quantile")


SQL_QUANTILE_SKETCH_MERGE = """
WITH ev AS (
  SELECT CAST(value AS DOUBLE) AS v, CAST(ts AS DATE) AS day
  FROM events WHERE value IS NOT NULL
),
b AS (SELECT MIN(v) AS lo, MAX(v) AS hi, COUNT(*) AS n FROM ev),
binned AS (
  SELECT day,
         CASE WHEN b.hi = b.lo THEN 0
              ELSE least(CAST(floor((v - b.lo) / ((b.hi - b.lo) / 64.0)) AS INT), 63)
         END AS bin
  FROM ev CROSS JOIN b
),
partials AS (SELECT day, bin, COUNT(*) AS c FROM binned GROUP BY 1, 2),
merged AS (SELECT bin, SUM(c) AS c FROM partials GROUP BY 1),
cum AS (
  SELECT bin, c,
         SUM(c) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM merged
),
qs(quantile) AS (
  SELECT CAST(x AS DOUBLE) FROM (VALUES (0.5), (0.9), (0.99)) v(x)
),
picked AS (
  SELECT q.quantile, b.n, b.lo, b.hi, (b.hi - b.lo) / 64.0 AS w,
         cum.bin, cum.c, cum.cum,
         CAST(ceil(q.quantile * b.n) AS BIGINT) AS target
  FROM qs q CROSS JOIN b
  JOIN cum ON cum.cum >= ceil(q.quantile * b.n)
          AND (cum.cum - cum.c) < ceil(q.quantile * b.n)
),
ranked AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM ev),
exact AS (
  SELECT q.quantile, r.v AS exact_v
  FROM qs q CROSS JOIN b
  JOIN ranked r ON r.rn = CAST(ceil(q.quantile * b.n) AS BIGINT)
)
SELECT p.quantile,
       CAST(p.n AS BIGINT) AS n,
       round(CASE WHEN p.hi = p.lo THEN p.lo
                  ELSE p.lo + p.w * p.bin + p.w * (CAST(p.target - (p.cum - p.c) AS DOUBLE) / p.c)
             END, 6) AS est_value,
       round(e.exact_v, 6) AS exact_value,
       round(CASE WHEN p.hi = p.lo THEN 0.0 ELSE p.w END, 6) AS bin_width,
       abs((CASE WHEN p.hi = p.lo THEN p.lo
                 ELSE p.lo + p.w * p.bin + p.w * (CAST(p.target - (p.cum - p.c) AS DOUBLE) / p.c)
            END) - e.exact_v)
         <= (CASE WHEN p.hi = p.lo THEN 0.0 ELSE p.w END) + 1e-9 AS within_bound
FROM picked p JOIN exact e USING (quantile)
ORDER BY p.quantile
"""


def q_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min-Sketch heavy hitters with both CMS guarantees checked
    in-band (operators/sketches.py:cms_heavy_hitters) — the frequency
    member of the bounded-sketch family next to the HLL++ and GK gates.
    Exact top-10 counts hash-match; the sketch estimate must satisfy
    exact ≤ est ≤ exact + ε·N or the boolean flips the value hash."""
    from scala_etl_test_spark.operators.sketches import cms_heavy_hitters

    return cms_heavy_hitters(
        _t(spark, sf_dir, "events"), "user_id", top_n=10, eps=0.001
    )


SQL_HEAVY_HITTERS_CMS = """
SELECT CAST(user_id AS BIGINT) AS key,
       CAST(COUNT(*) AS BIGINT) AS exact_count,
       TRUE AS within_bound
FROM events GROUP BY user_id
ORDER BY exact_count DESC, key
LIMIT 10
"""


def q_sessions_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line peak concurrency over gap-sessionized intervals: +1/-1
    boundary events, running sum, global max — capacity planning on exact
    integers. Starts sort before ends at the same instant (inclusive
    overlap). The sweep window runs over session BOUNDARIES (2 rows per
    session, ≪ events); at true stream scale the running sum becomes the
    standard two-pass parallel prefix (per-shard sums + broadcast offsets),
    same algebra."""
    ev = _t(spark, sf_dir, "events")
    by_time = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    flagged = ev.withColumn(
        "new_session",
        F.when(us - F.lag(us).over(by_time) > 1800 * 1_000_000, 1)
        .otherwise(0)
        .cast("long"),
    )
    sessions = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(by_time.rowsBetween(Window.unboundedPreceding, 0)),
    )
    intervals = sessions.groupBy("user_id", "session_id").agg(
        F.min(us).alias("s_us"), F.max(us).alias("e_us")
    )
    starts = intervals.select(
        F.col("s_us").alias("t"), F.lit(1).alias("delta"), "user_id", "session_id"
    )
    ends = intervals.select(
        F.col("e_us").alias("t"), F.lit(-1).alias("delta"), "user_id", "session_id"
    )
    sweep = Window.orderBy(
        F.col("t").asc(), F.col("delta").desc(), F.col("user_id"), F.col("session_id")
    ).rowsBetween(Window.unboundedPreceding, 0)
    running = starts.union(ends).withColumn("running", F.sum("delta").over(sweep))
    return running.agg(
        (F.count(F.lit(1)) / 2).cast("long").alias("n_sessions"),
        F.max("running").cast("long").alias("max_concurrent"),
    )


SQL_SESSIONS_MAX_CONCURRENCY = """
WITH flagged AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800 * 1000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
sessions AS (
  SELECT user_id, us,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
),
intervals AS (
  SELECT user_id, session_id, MIN(us) AS s_us, MAX(us) AS e_us
  FROM sessions GROUP BY user_id, session_id
),
deltas AS (
  SELECT s_us AS t, 1 AS delta, user_id, session_id FROM intervals
  UNION ALL
  SELECT e_us AS t, -1 AS delta, user_id, session_id FROM intervals
),
swept AS (
  SELECT SUM(delta) OVER (ORDER BY t, delta DESC, user_id, session_id
                          ROWS UNBOUNDED PRECEDING) AS running
  FROM deltas
)
SELECT CAST(COUNT(*) / 2 AS BIGINT) AS n_sessions,
       CAST(MAX(running) AS BIGINT) AS max_concurrent
FROM swept
"""


_COPURCHASE_MIN_SUPPORT = 3


def q_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: part pairs ordered together in ≥
    min_support orders, with lift = P(a,b)/(P(a)·P(b)) over order baskets.
    The within-basket self-join fans out k²/2 rows per k-item order
    (k ≈ 10 here — bounded, and the join key is the order, so no
    all-pairs blowup across orders); per-part totals broadcast back.
    Top-50 by (support desc, pair) keeps the gate output bounded."""
    # a NULL basket id is not a basket (r13 edge-corpus convention):
    # without the filter the engine's count-over-distinct includes the
    # NULL-orderkey group while the oracle's COUNT(DISTINCT ok) excludes
    # it, silently shifting every lift denominator by one
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey").isNotNull()
    ).select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()
    a = li.select("ok", F.col("pk").alias("p1"))
    b = li.select("ok", F.col("pk").alias("p2"))
    pairs = (
        a.join(b, on="ok")
        .filter(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= _COPURCHASE_MIN_SUPPORT)
    )
    part_n = li.groupBy("pk").agg(F.count(F.lit(1)).alias("n_orders_part"))
    n_orders = li.select("ok").distinct().agg(F.count(F.lit(1)).alias("_n"))
    j = (
        pairs.join(
            part_n.select(F.col("pk").alias("p1"), F.col("n_orders_part").alias("n1")),
            on="p1",
        )
        .join(
            part_n.select(F.col("pk").alias("p2"), F.col("n_orders_part").alias("n2")),
            on="p2",
        )
        .join(F.broadcast(n_orders))
    )
    lift = (F.col("support") * F.col("_n")) / (F.col("n1") * F.col("n2"))
    return (
        j.select("p1", "p2", "support", F.round(lift, 6).alias("lift"))
        .orderBy(F.col("support").desc(), "p1", "p2")
        .limit(50)
    )


SQL_COPURCHASE_PAIRS = f"""
WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
            WHERE l_orderkey IS NOT NULL),
pairs AS (
  SELECT a.pk AS p1, b.pk AS p2, COUNT(*) AS support
  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
  GROUP BY 1, 2
  HAVING COUNT(*) >= {_COPURCHASE_MIN_SUPPORT}
),
part_n AS (SELECT pk, COUNT(*) AS n FROM li GROUP BY pk),
tot AS (SELECT COUNT(DISTINCT ok) AS n_orders FROM li)
SELECT p.p1, p.p2, CAST(p.support AS BIGINT) AS support,
       round((p.support * t.n_orders) / (CAST(a.n AS DOUBLE) * b.n), 6) AS lift
FROM pairs p
JOIN part_n a ON p.p1 = a.pk
JOIN part_n b ON p.p2 = b.pk
CROSS JOIN tot t
ORDER BY support DESC, p1, p2
LIMIT 50
"""


_TREND_ORIGIN_US = 1_704_067_200_000_000  # 2024-01-01 UTC; any fixed origin works


def q_events_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type OLS trend of the value metric over time: slope per DAY and
    Pearson correlation from population co-moments — metric-regression
    monitoring in one map-side-combined aggregate. Time is rescaled to
    days from a fixed origin so the slope is O(1e-2) and the 6-digit
    rounding sits ~8 orders above both engines' one-pass central-moment
    error (raw microseconds would put the slope at 1e-12 where rounding
    is meaningless)."""
    ev = _t(spark, sf_dir, "events")
    x = (F.unix_micros("ts") - F.lit(_TREND_ORIGIN_US)) / 86_400_000_000.0
    base = ev.select("event_type", x.alias("x"), F.col("value").alias("y"))
    # try_divide / NaN-guard: a single-event (or single-instant) group has
    # var_pop = 0 — ANSI `/` would abort the whole query where the oracle
    # returns NULL, and Spark's corr yields NaN where DuckDB yields NULL
    corr = F.corr("x", "y")
    return base.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.try_divide(F.covar_pop("x", "y"), F.var_pop("x")), 6).alias(
            "slope_per_day"
        ),
        F.round(F.when(~F.isnan(corr), corr), 6).alias("pearson_r"),
    )


SQL_EVENTS_TREND = f"""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       round(covar_pop((epoch_us(ts) - {_TREND_ORIGIN_US}) / 86400000000.0, value)
             / var_pop((epoch_us(ts) - {_TREND_ORIGIN_US}) / 86400000000.0), 6)
         AS slope_per_day,
       round(corr((epoch_us(ts) - {_TREND_ORIGIN_US}) / 86400000000.0, value), 6)
         AS pearson_r
FROM events GROUP BY event_type
"""


def q_events_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-Stability-Index drift check of the value distribution
    between the early and late halves of the event stream, per event type
    (operators/drift.py:psi_drift) — the pre-ingest distribution gate a
    training pipeline runs on each new snapshot."""
    from scala_etl_test_spark.operators.drift import psi_drift

    return psi_drift(_t(spark, sf_dir, "events"), "event_type", "value", "ts")


SQL_EVENTS_DRIFT_PSI = """
WITH src AS (
  SELECT * FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
),
bounds AS (
  SELECT MIN(value) AS vmin, MAX(value) AS vmax,
         MIN(epoch_us(ts)) AS tmin, MAX(epoch_us(ts)) AS tmax
  FROM src
),
binned AS (
  SELECT event_type,
         CASE WHEN vmax = vmin THEN 0
              ELSE LEAST(9, CAST(FLOOR((value - vmin) / ((vmax - vmin) / 10)) AS INT))
         END AS bin,
         (epoch_us(ts) * 2 < tmin + tmax) AS early
  FROM src, bounds
),
counts AS (
  SELECT event_type, bin,
         SUM(CASE WHEN early THEN 1 ELSE 0 END) AS ne,
         SUM(CASE WHEN early THEN 0 ELSE 1 END) AS nl
  FROM binned GROUP BY 1, 2
),
tot AS (
  SELECT event_type, SUM(ne) AS n_early, SUM(nl) AS n_late
  FROM counts GROUP BY 1
),
grid AS (
  SELECT t.event_type, t.n_early, t.n_late, CAST(b.bin AS INT) AS bin
  FROM tot t CROSS JOIN (SELECT unnest(range(0, 10)) AS bin) b
),
filled AS (
  SELECT g.event_type, g.n_early, g.n_late,
         COALESCE(c.ne, 0) AS ne, COALESCE(c.nl, 0) AS nl
  FROM grid g LEFT JOIN counts c
    ON g.event_type = c.event_type AND g.bin = c.bin
),
terms AS (
  SELECT event_type, n_early, n_late,
         ((ne + 0.5) / (n_early + 5.0) - (nl + 0.5) / (n_late + 5.0))
         * ln(((ne + 0.5) / (n_early + 5.0))
              / ((nl + 0.5) / (n_late + 5.0))) AS term
  FROM filled
)
SELECT event_type,
       CAST(n_early AS BIGINT) AS n_early,
       CAST(n_late AS BIGINT) AS n_late,
       round(SUM(term), 6) AS psi,
       (round(SUM(term), 6) > 0.1) AS drifted
FROM terms GROUP BY event_type, n_early, n_late
"""


def q_events_trimmed_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (1%-trimmed) per-type value statistics — outlier-resistant
    monitoring over a metric column. Trimming is by integer RANK (ties
    broken by event_id), not by value threshold: rank bounds are exact
    integers in any engine, so the kept SET is cross-engine identical —
    a value-threshold winsorization would hinge on float-equality at the
    percentile boundary. One window shuffle (row_number and the group
    count share the partition spec) + one aggregate. NULL values are
    excluded up front (r12 edge-corpus sweep): a row with no metric
    carries nothing to trim or average, and NULL sorts on opposite ends
    of the value ranking in the two engines — it would shift which rows
    the rank bounds cut."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("event_type").orderBy(F.col("value").asc(), F.col("event_id").asc())
    n = F.count(F.lit(1)).over(Window.partitionBy("event_type"))
    ranked = (
        ev.select("event_type", "event_id", "value")
        .withColumn("_rn", F.row_number().over(w))
        .withColumn("_n", n)
    )
    kept = ranked.filter(
        (F.col("_rn") > F.ceil(F.col("_n") * 0.01))
        & (F.col("_rn") <= F.floor(F.col("_n") * 0.99))
    )
    return kept.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.round(F.avg("value"), 4).alias("trimmed_mean"),
        F.min("value").alias("trimmed_min"),
        F.max("value").alias("trimmed_max"),
    )


SQL_EVENTS_TRIMMED_STATS = """
WITH ranked AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events WHERE value IS NOT NULL
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_kept,
       round(AVG(value), 4) AS trimmed_mean,
       MIN(value) AS trimmed_min,
       MAX(value) AS trimmed_max
FROM ranked
WHERE rn > ceil(n * 0.01) AND rn <= floor(n * 0.99)
GROUP BY event_type
"""


def q_scd2_customer_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 dimension history from a change log
    (operators/merge.py:scd2_history): each customer's order-status
    timeline as versioned intervals. The log is pre-collapsed to one state
    per (customer, day) — min status, making the timeline tie-free so the
    windowed change detection is engine-exact."""
    from scala_etl_test_spark.operators.merge import scd2_history

    hist = _scd2_customer_history(spark, sf_dir)
    # gate rule (module docstring): timestamps leave as formatted strings —
    # raw timestamp serialization is engine-specific in the value hash
    return hist.select(
        "custkey",
        "status",
        F.date_format("valid_from", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.date_format("valid_to", "yyyy-MM-dd HH:mm:ss").alias("valid_to"),
        "is_current",
    )


def _scd2_customer_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-timestamp SCD2 history — the internal form AS-OF joins range
    over; the gate query formats its timestamps on the way out."""
    from scala_etl_test_spark.operators.merge import scd2_history

    orders = _t(spark, sf_dir, "orders")
    chg = orders.groupBy(
        F.col("o_custkey").alias("custkey"), F.col("o_orderdate").alias("ts")
    ).agg(F.min("o_orderstatus").alias("status"))
    return scd2_history(chg, ["custkey"], ["status"], "ts")


_SQL_SCD2_HISTORY_RAW = """
WITH chg AS (
  SELECT o_custkey AS custkey, o_orderdate AS ts, MIN(o_orderstatus) AS status
  FROM orders GROUP BY 1, 2
), opened AS (
  SELECT custkey, status, ts FROM (
    SELECT custkey, status, ts,
           LAG(status) OVER (PARTITION BY custkey ORDER BY ts) AS prev
    FROM chg)
  WHERE prev IS NULL OR prev <> status
)
SELECT custkey, status,
       ts AS valid_from,
       LEAD(ts) OVER (PARTITION BY custkey ORDER BY ts) AS valid_to,
       (LEAD(ts) OVER (PARTITION BY custkey ORDER BY ts) IS NULL) AS is_current
FROM opened
"""

SQL_SCD2_CUSTOMER_STATUS = f"""
SELECT custkey, status,
       strftime(valid_from, '%Y-%m-%d %H:%M:%S') AS valid_from,
       strftime(valid_to, '%Y-%m-%d %H:%M:%S') AS valid_to,
       is_current
FROM ({_SQL_SCD2_HISTORY_RAW})
"""


def q_scd2_asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal (AS-OF) enrichment of a fact table against versioned
    dimension history — the standard warehouse pattern over SCD2 output:
    each order joins the status interval active at its order date
    (``valid_from ≤ ts < valid_to``, open interval for the current
    version). Equi-join on the dimension key carries the plan (the range
    predicates are residual filters on the matched key group, never a
    cross product); history is orders-of-magnitude smaller than facts and
    broadcast-eligible."""
    hist = _scd2_customer_history(spark, sf_dir)
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_custkey").alias("custkey"), "o_orderdate"
    )
    return orders.join(
        hist,
        on=(
            (orders.custkey == hist.custkey)
            & (F.col("o_orderdate") >= F.col("valid_from"))
            & (F.col("valid_to").isNull() | (F.col("o_orderdate") < F.col("valid_to")))
        ),
    ).select(
        "o_orderkey",
        orders.custkey.alias("custkey"),
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("order_date"),
        F.col("status").alias("status_asof"),
    )


SQL_SCD2_ASOF_ENRICH = f"""
WITH hist AS ({_SQL_SCD2_HISTORY_RAW})
SELECT o.o_orderkey,
       o.o_custkey AS custkey,
       strftime(o.o_orderdate, '%Y-%m-%d %H:%M:%S') AS order_date,
       h.status AS status_asof
FROM orders o
JOIN hist h
  ON o.o_custkey = h.custkey
 AND o.o_orderdate >= h.valid_from
 AND (h.valid_to IS NULL OR o.o_orderdate < h.valid_to)
"""


def q_full_outer_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation via FULL OUTER join — which ids exist in the
    customer dimension, which in the event stream, and which in both (the
    audit query every CDC pipeline runs after a backfill). Both sides
    shuffle on the id; presence flags come from SIDE MARKERS (a literal
    on the dimension, the never-NULL group count on the stream), never
    from key null-ness (r13 cross-family edge sweep: a NULL-key row IS
    present on its side — inferring presence from ``key IS NOT NULL``
    misreports it absent, which the oracle did until pinned to the same
    marker scheme)."""
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"), F.lit(True).alias("in_customer")
    )
    ev = _t(spark, sf_dir, "events").groupBy(F.col("user_id").alias("id")).agg(
        F.count(F.lit(1)).alias("_n")
    )
    return cust.join(ev, on="id", how="full_outer").select(
        "id",
        F.coalesce("in_customer", F.lit(False)).alias("in_customer"),
        F.col("_n").isNotNull().alias("in_events"),
        F.coalesce("_n", F.lit(0)).alias("n_events"),
    )


SQL_FULL_OUTER_RECONCILE = """
-- presence = side markers, not key null-ness (r13 cross-family edge
-- sweep): a NULL-key customer row is still IN customer, and the
-- NULL-user event group is still IN events, but neither matches across
-- the join, so `key IS NOT NULL` would misreport both sides absent
SELECT COALESCE(c.id, e.id) AS id,
       COALESCE(c.in_c, FALSE) AS in_customer,
       COALESCE(e.in_e, FALSE) AS in_events,
       CAST(COALESCE(e.n, 0) AS BIGINT) AS n_events
FROM (SELECT c_custkey AS id, TRUE AS in_c FROM customer) c
FULL OUTER JOIN
     (SELECT user_id AS id, COUNT(*) AS n, TRUE AS in_e
      FROM events GROUP BY 1) e
  ON c.id = e.id
"""


def q_events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window rollup (1 h window, 15 min slide) per event type —
    the overlapping-window shape Structured Streaming uses for trailing
    rates, expressed in batch. Spark's ``window()`` replicates each row
    into its 4 covering windows JVM-side (no explode in user code); the
    oracle reproduces the same windows by unnesting slide offsets 0..3
    from each row's 15-min bucket. Spark's window() silently DROPS
    NULL-timestamp rows (no window covers them); the oracle's
    ``WHERE ts IS NOT NULL`` states the same semantics explicitly
    (r12 edge-corpus sweep — time_bucket(NULL) minted a phantom NULL
    window on the DuckDB side)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_dec("value")).cast("double").alias("sum_value"),
        )
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


SQL_EVENTS_SLIDING_WINDOW = """
WITH x AS (
  SELECT event_type, value,
         time_bucket(INTERVAL '15 minutes', ts)
           - k * (INTERVAL '15 minutes') AS win_start
  FROM (
    SELECT event_type, value, ts, unnest([0, 1, 2, 3]) AS k FROM events
    WHERE ts IS NOT NULL
  )
)
SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
FROM x GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# Window frame spec: per-user moving average over the last 4 events
# --------------------------------------------------------------------------


def q_window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit ROWS frame (3 PRECEDING..CURRENT) with a total order —
    beyond the reference's unbounded frames (SURVEY §2.5). Decimal math for
    cross-engine exactness. NULL-timestamp events are EXCLUDED (r12
    edge-corpus sweep): an event with no time has no position in a
    time-ordered frame, and the engines disagree on where NULL sorts
    (Spark NULLS FIRST, DuckDB NULLS LAST) — the timeline-operator
    convention shared with event_transitions/session_attribution."""
    ev = _t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-3, 0)
    return ev.select(
        "event_id",
        "user_id",
        (F.sum(_dec("value")).over(w) / F.count(F.lit(1)).over(w))
        .cast("decimal(16,6)")
        .cast("double")
        .alias("moving_avg"),
    )


SQL_WINDOW_MOVING_AVG = """
SELECT event_id, user_id,
       CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER w / COUNT(*) OVER w AS DECIMAL(16,6)) AS DOUBLE) AS moving_avg
FROM events
WHERE ts IS NOT NULL
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
"""


# --------------------------------------------------------------------------
# Set operations: INTERSECT / EXCEPT (distinct semantics)
# --------------------------------------------------------------------------


def q_set_ops_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers buying in BOTH halves of the year (intersect) and ONLY in
    the first half (except), labeled and unioned — Spark plans left-semi /
    left-anti under the distinct set ops."""
    orders = _t(spark, sf_dir, "orders")
    h1 = orders.filter(F.month("o_orderdate") <= 6).select("o_custkey")
    h2 = orders.filter(F.month("o_orderdate") > 6).select("o_custkey")
    both = h1.intersect(h2).withColumn("cohort", F.lit("both_halves"))
    only_h1 = h1.subtract(h2).withColumn("cohort", F.lit("h1_only"))
    return both.unionByName(only_h1).groupBy("cohort").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


SQL_SET_OPS_CUSTOMERS = """
WITH h1 AS (SELECT o_custkey FROM orders WHERE month(o_orderdate) <= 6),
     h2 AS (SELECT o_custkey FROM orders WHERE month(o_orderdate) > 6),
     labeled AS (
       SELECT o_custkey, 'both_halves' AS cohort FROM (SELECT * FROM h1 INTERSECT SELECT * FROM h2)
       UNION ALL
       SELECT o_custkey, 'h1_only' AS cohort FROM (SELECT * FROM h1 EXCEPT SELECT * FROM h2)
     )
SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_customers
FROM labeled GROUP BY cohort
"""


# --------------------------------------------------------------------------
# JSON column extraction (from_json with declared schema — no inference)
# --------------------------------------------------------------------------


def q_json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse the events.props JSON column with a DECLARED schema (inference
    would cost a full extra scan) and aggregate the extracted field. Unlike
    the reference's driver-side json4s parsing (ApplaudoETL.scala:138), this
    is a distributed column operation inside codegen."""
    from pyspark.sql import types as T

    ev = _t(spark, sf_dir, "events")
    schema = T.StructType([T.StructField("k", T.LongType())])
    parsed = ev.select(
        "event_type", F.from_json("props", schema).getField("k").alias("k")
    )
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("k").cast("long").alias("sum_k"),
        F.count(F.when(F.col("k").isNull(), 1)).alias("n_unparseable"),
    )


SQL_JSON_PROPS_EXTRACT = """
-- json_valid guard (r12 edge-corpus sweep): Spark's from_json returns
-- NULL for malformed JSON (counted n_unparseable); DuckDB's raw
-- json_extract THROWS on it — the guard states the tolerant semantics
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN json_valid(props)
                     THEN CAST(json_extract(props, '$.k') AS BIGINT) END)
            AS BIGINT) AS sum_k,
       CAST(COUNT(CASE WHEN NOT COALESCE(json_valid(props), FALSE) THEN 1
                       WHEN json_extract(props, '$.k') IS NULL THEN 1
                  END) AS BIGINT) AS n_unparseable
FROM events GROUP BY event_type
"""


# --------------------------------------------------------------------------
# Range join (operators/rangejoin.py): errors contained in user sessions
# --------------------------------------------------------------------------


def q_range_join_session_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Errors range-joined into their user's session interval [min ts,
    max ts] (bin-blocked equi-join, no cross product), counted per session.
    Sessions come from the native session_window aggregation."""
    from scala_etl_test_spark.operators.rangejoin import range_join
    from scala_etl_test_spark.streaming.sessionize import session_windows

    ev = _t(spark, sf_dir, "events")
    sessions = (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.min("ts").alias("s_start"), F.max("ts").alias("s_end"))
        .select("user_id", "s_start", "s_end")
    )
    errors = ev.filter(F.col("event_type") == "error").select("user_id", "ts", "event_id")
    joined = range_join(
        errors, sessions, "ts", "s_start", "s_end", ["user_id"], bin_width_seconds=3600
    )
    return joined.groupBy(
        "user_id", F.date_format("s_start", "yyyy-MM-dd HH:mm:ss").alias("session_start")
    ).agg(F.count(F.lit(1)).alias("n_errors"))


SQL_RANGE_JOIN_SESSION_ERRORS = """
-- boundary pinned to session_window's HALF-OPEN semantics: a gap of
-- EXACTLY the 30-min timeout starts a new session (>=, not >) — the
-- lag-formulated sibling queries use > on BOTH sides, but this oracle
-- must mirror the native session_window the Spark side aggregates with
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) >= 1800 * 1000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
), numbered AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged
), sessions AS (
  SELECT user_id, session_id, MIN(ts) AS s_start, MAX(ts) AS s_end
  FROM numbered GROUP BY user_id, session_id
)
SELECT e.user_id,
       strftime(s.s_start, '%Y-%m-%d %H:%M:%S') AS session_start,
       CAST(COUNT(*) AS BIGINT) AS n_errors
FROM events e
JOIN sessions s ON e.user_id = s.user_id AND e.ts BETWEEN s.s_start AND s.s_end
WHERE e.event_type = 'error'
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# Funnel analysis: signup → click → purchase progression per user
# --------------------------------------------------------------------------


_FUNNEL_EVENT_CAP = 100_000  # per-user per-type horizon (bot-user guard)


def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel stage per user: stage 1 = signed up, 2 = clicked
    after signup, 3 = purchased after that click.

    ONE scan and ONE shuffle: the per-user aggregate collects the signup
    min plus the (sorted) click/purchase timestamp arrays, and the ordered
    chaining (first click after signup, first purchase after that click)
    is array arithmetic on the grouped row — the join formulation rescans
    events once per stage and shuffles at every join (measured 6 scans +
    3 join exchanges for 3 stages; each added funnel step would add
    another scan).

    Bot-user safety: events are CAPPED at each user's earliest
    ``_FUNNEL_EVENT_CAP`` per type BEFORE the collect, via a windowed
    row_number — the sort-based window spills to disk, so no aggregation
    row ever holds an unbounded array (a post-collect slice would bound
    only the output, not the peak state). Below the cap the result is
    exactly the uncapped answer (the oracle SQL assumes it; the synthetic
    corpus is orders of magnitude under); above it, the funnel considers
    each user's earliest CAP events — a documented horizon, not silent
    truncation.
    """
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    rn = F.row_number().over(
        Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    )
    # capping signups too is harmless: min over a user's earliest CAP
    # signups IS the true min
    capped = ev.select("user_id", "event_type", "ts", rn.alias("_rn")).filter(
        F.col("_rn") <= _FUNNEL_EVENT_CAP
    )
    per_user = capped.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("t_signup"),
        F.sort_array(
            F.collect_list(F.when(F.col("event_type") == "click", F.col("ts")))
        ).alias("_clicks"),
        F.sort_array(
            F.collect_list(F.when(F.col("event_type") == "purchase", F.col("ts")))
        ).alias("_purchases"),
    )
    t_click = F.array_min(
        F.filter("_clicks", lambda c: c > F.col("t_signup"))
    )
    staged = per_user.withColumn("t_click", t_click).select(
        F.when(
            F.array_min(F.filter("_purchases", lambda p: p > F.col("t_click"))).isNotNull(),
            3,
        )
        .when(F.col("t_click").isNotNull(), 2)
        .when(F.col("t_signup").isNotNull(), 1)
        .otherwise(0)
        .alias("funnel_stage")
    )
    return staged.groupBy("funnel_stage").agg(F.count(F.lit(1)).alias("n_users"))


SQL_EVENTS_FUNNEL = """
WITH per_user AS (
  SELECT user_id, MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup
  FROM events GROUP BY user_id
), first_click AS (
  SELECT e.user_id, MIN(e.ts) AS t_click
  FROM events e JOIN per_user u ON e.user_id = u.user_id
  WHERE e.event_type = 'click' AND e.ts > u.t_signup
  GROUP BY e.user_id
), first_purchase AS (
  SELECT e.user_id, MIN(e.ts) AS t_purchase
  FROM events e JOIN first_click c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
  GROUP BY e.user_id
)
SELECT CASE WHEN p.t_purchase IS NOT NULL THEN 3
            WHEN c.t_click IS NOT NULL THEN 2
            WHEN u.t_signup IS NOT NULL THEN 1
            ELSE 0 END AS funnel_stage,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM per_user u
LEFT JOIN first_click c ON u.user_id = c.user_id
LEFT JOIN first_purchase p ON u.user_id = p.user_id
GROUP BY 1
"""


# --------------------------------------------------------------------------
# Cohort retention matrix (weekly cohorts × week offset)
# --------------------------------------------------------------------------

def q_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention on purchase activity: cohort = the week of a
    user's first purchase; each cell counts users from that cohort active
    ``week_offset`` weeks later. The product-analytics staple that at scale
    is two shuffles on ``user_id`` (distinct user-weeks, first-week) plus a
    cell-count aggregate over a tiny (cohorts × offsets) grid.

    Both engines truncate weeks to Monday; the offset division is exact
    (day deltas between week-truncs are multiples of 7).
    """
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    uw = ev.select("user_id", F.date_trunc("week", F.col("ts")).alias("w")).distinct()
    fw = uw.groupBy("user_id").agg(F.min("w").alias("cw"))
    return (
        uw.join(fw, on="user_id")
        .groupBy(
            F.date_format("cw", "yyyy-MM-dd").alias("cohort_week"),
            (F.datediff(F.col("w"), F.col("cw")) / 7).cast("int").alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


SQL_EVENTS_RETENTION = """
WITH uw AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS w
  FROM events WHERE event_type = 'purchase'
), fw AS (
  SELECT user_id, MIN(w) AS cw FROM uw GROUP BY user_id
)
SELECT strftime(fw.cw, '%Y-%m-%d') AS cohort_week,
       CAST(datediff('day', fw.cw, uw.w) // 7 AS INTEGER) AS week_offset,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM uw JOIN fw USING (user_id)
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# Inter-event gap analytics (lag) and revenue quartiles (ntile)
# --------------------------------------------------------------------------

def q_events_user_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event gap statistics via ``lag`` over the event-time
    order (ties broken by event_id for a total order). Gap math stays in
    exact microseconds (``unix_micros``); the average derives from the
    exact sum. One shuffle on ``user_id`` shared by the window and the
    aggregate."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    gap = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
    return (
        ev.select("user_id", gap.alias("gap_us"))
        .filter(F.col("gap_us").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.sum("gap_us").alias("_sum_gap"),
            F.max("gap_us").alias("max_gap_us"),
        )
        .select(
            "user_id",
            "n_gaps",
            (F.col("_sum_gap").cast("double") / F.col("n_gaps")).alias("avg_gap_us"),
            "max_gap_us",
        )
    )


SQL_EVENTS_USER_GAPS = """
WITH gaps AS (
  SELECT user_id,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                                ORDER BY ts, event_id) AS gap_us
  FROM events
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_gaps,
       CAST(SUM(gap_us) AS DOUBLE) / COUNT(*) AS avg_gap_us,
       MAX(gap_us) AS max_gap_us
FROM gaps WHERE gap_us IS NOT NULL
GROUP BY user_id
"""


def q_customer_revenue_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer revenue quartiles via ``ntile(4)`` over a deterministic
    total order (revenue in exact decimal DESC, custkey ASC), rolled up to
    per-quartile counts and revenue. The unpartitioned ntile degrades to a
    single-task sort at extreme scale — for 100 TB use the percentile-bound
    join variant; here the input is one row per customer (post-aggregate),
    which is already small."""
    orders = _t(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(F.sum(_dec("o_totalprice")).alias("_rev"))
    w = Window.orderBy(F.col("_rev").desc(), F.col("o_custkey").asc())
    return (
        rev.withColumn("quartile", F.ntile(4).over(w))
        .groupBy("quartile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("_rev").cast("double").alias("revenue"),
        )
    )


_PARETO_PCTS = (50, 80, 90, 99)


def q_pareto_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / contribution analysis: for each coverage target (50/80/90/
    99% of total revenue), the MINIMAL number of top customers whose
    cumulative revenue reaches it, with their customer-share and the
    exact revenue share actually covered — the 80/20 concentration
    dashboard. All comparisons run in exact decimal (``cum·100 ≥
    total·pct`` — no float thresholds), so the member counts are
    engine-exact.

    Scale: per-customer revenue is a post-aggregate table (≪ corpus);
    the cumulative window is a single total order over it (same
    single-task note as the ntile quartiles — percentile-bound join at
    extreme cardinality), and the threshold probe is a broadcast 4-row
    theta join reduced by one min/min_by aggregate."""
    orders = _t(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(F.sum(_dec("o_totalprice")).alias("_rev"))
    w = Window.orderBy(F.col("_rev").desc(), F.col("o_custkey").asc())
    # persist: the totals row and the threshold probe both consume the
    # cumulative table; uncached, each would re-run the orders scan, the
    # revenue aggregate, and the window sort
    cum = rev.select(
        F.row_number().over(w).alias("_rn"),
        F.sum("_rev").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("_cum"),
    ).transform(tracked_persist)
    tot = cum.agg(
        F.max("_cum").alias("_total"), F.max("_rn").alias("_ncust")
    )
    th = spark.createDataFrame([(p,) for p in _PARETO_PCTS], "threshold_pct int")
    probed = (
        cum.join(F.broadcast(tot))
        .join(
            F.broadcast(th),
            on=F.col("_cum") * 100 >= F.col("_total") * F.col("threshold_pct"),
        )
        .groupBy("threshold_pct")
        .agg(
            F.min("_rn").alias("n_customers"),
            F.min_by("_cum", "_rn").alias("_cov"),
            F.max("_total").alias("_total"),
            F.max("_ncust").alias("_ncust"),
        )
    )
    share = lambda num, den: F.round(  # noqa: E731
        num.cast("double") / den.cast("double"), 6
    )
    return probed.select(
        "threshold_pct",
        F.col("n_customers").cast("long").alias("n_customers"),
        share(F.col("n_customers"), F.col("_ncust")).alias("customer_share"),
        share(F.col("_cov"), F.col("_total")).alias("revenue_share"),
    ).orderBy("threshold_pct")


SQL_PARETO_REVENUE = f"""
WITH rev AS (
  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS r
  FROM orders GROUP BY o_custkey
),
cum AS (
  SELECT row_number() OVER (ORDER BY r DESC, o_custkey) AS rn,
         SUM(r) OVER (ORDER BY r DESC, o_custkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
  FROM rev
),
tot AS (SELECT MAX(c) AS total, MAX(rn) AS ncust FROM cum),
th(threshold_pct) AS (VALUES {", ".join(f"({p})" for p in _PARETO_PCTS)})
SELECT th.threshold_pct,
       CAST(MIN(cum.rn) AS BIGINT) AS n_customers,
       round(CAST(MIN(cum.rn) AS DOUBLE) / tot.ncust, 6) AS customer_share,
       round(CAST(min_by(cum.c, cum.rn) AS DOUBLE) / CAST(tot.total AS DOUBLE), 6) AS revenue_share
FROM th CROSS JOIN tot
JOIN cum ON cum.c * 100 >= tot.total * th.threshold_pct
GROUP BY th.threshold_pct, tot.ncust, tot.total
ORDER BY th.threshold_pct
"""


SQL_CUSTOMER_REVENUE_QUARTILES = """
WITH rev AS (
  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS r
  FROM orders GROUP BY o_custkey
)
SELECT quartile,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(r) AS DOUBLE) AS revenue
FROM (SELECT o_custkey, r, ntile(4) OVER (ORDER BY r DESC, o_custkey) AS quartile FROM rev)
GROUP BY quartile
"""


# --------------------------------------------------------------------------
# UNPIVOT (wide → long melt) + per-measure rollup
# --------------------------------------------------------------------------

def q_lineitem_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Melt the three lineitem money measures into (measure, value) long
    form with ``DataFrame.unpivot`` (the Expand-based reshape — rows ×
    measures with NO shuffle), then roll up per measure. The long form is
    what metric stores and chart layers consume; the aggregate keeps the
    melt honest in exact decimal."""
    li = _t(spark, sf_dir, "lineitem")
    long = li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_extendedprice", "l_discount"],
        variableColumnName="measure",
        valueColumnName="value",
    )
    return long.groupBy("measure").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(_dec("value")).cast("double").alias("total"),
    )


SQL_LINEITEM_UNPIVOT_MEASURES = """
WITH long AS (
  SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
         CAST(l_quantity AS DOUBLE) AS value FROM lineitem
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
)
SELECT measure,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
FROM long GROUP BY measure
"""


# --------------------------------------------------------------------------
# GROUPING SETS via the SQL entry path
# --------------------------------------------------------------------------

def q_grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS ((nation), (year), ()) in one aggregate pass,
    expressed through the ``spark.sql`` entry path (temp views over the same
    parquet) — the registry otherwise exercises the DataFrame API; this
    pins that the SQL surface compiles to the identical Expand → single
    HashAggregate plan the cube/rollup queries gate (one shuffle for all
    three groupings). ``grouping()`` flags disambiguate NULL group values
    from grouped-out dimensions.

    The tables are passed as ``spark.sql`` DataFrame template arguments —
    NOT ``createOrReplaceTempView`` — so building the plan mutates no
    session catalog state (fixed-name views could silently repoint views
    registered elsewhere in the same long-lived session)."""
    return spark.sql(
        """
        SELECT nation,
               o_year,
               CAST(SUM(CAST(price AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
               CAST(grouping(nation) AS INT) AS g_nation,
               CAST(grouping(o_year) AS INT) AS g_year
        FROM (
          SELECT n.n_name AS nation,
                 CAST(year(o.o_orderdate) AS INT) AS o_year,
                 o.o_totalprice AS price
          FROM {orders} o
          JOIN {customer} c ON o.o_custkey = c.c_custkey
          JOIN {nation} n ON c.c_nationkey = n.n_nationkey
        )
        GROUP BY GROUPING SETS ((nation), (o_year), ())
        """,
        orders=_t(spark, sf_dir, "orders"),
        customer=_t(spark, sf_dir, "customer"),
        nation=_t(spark, sf_dir, "nation"),
    )


SQL_GROUPING_SETS_REVENUE = """
SELECT nation,
       o_year,
       CAST(SUM(CAST(price AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
       CAST(GROUPING(nation) AS INT) AS g_nation,
       CAST(GROUPING(o_year) AS INT) AS g_year
FROM (
  SELECT n.n_name AS nation,
         CAST(EXTRACT(year FROM o.o_orderdate) AS INTEGER) AS o_year,
         o.o_totalprice AS price
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
)
GROUP BY GROUPING SETS ((nation), (o_year), ())
"""


# --------------------------------------------------------------------------
# CDC upsert (MERGE INTO semantics, anti-join + union form)
# --------------------------------------------------------------------------

def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-1 MERGE over ``customer`` with a synthesized deterministic change
    feed: every 7th customer gets a +100.00 balance update, every 13th key
    past the max inserts as a new customer. Verified by aggregate: per
    mktsegment row count and exact balance sum over the merged table."""
    from scala_etl_test_spark.operators.merge import upsert

    cust = _t(spark, sf_dir, "customer")
    updates = cust.filter(F.col("c_custkey") % 7 == 0).withColumn(
        "c_acctbal", (_dec("c_acctbal") + F.lit(100).cast("decimal(12,2)")).cast("double")
    )
    inserts = cust.filter(F.col("c_custkey") % 13 == 0).select(
        (F.col("c_custkey") + F.lit(1_000_000)).alias("c_custkey"),
        F.concat(F.lit("new_"), F.col("c_name")).alias("c_name"),
        "c_nationkey",
        "c_acctbal",
        "c_mktsegment",
    )
    merged = upsert(cust, updates.unionByName(inserts), ["c_custkey"])
    return merged.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(_dec("c_acctbal")).cast("double").alias("sum_bal"),
    )


SQL_MERGE_UPSERT = """
WITH updates AS (
  SELECT c_custkey, c_name, c_nationkey,
         CAST(CAST(c_acctbal AS DECIMAL(12,2)) + CAST(100 AS DECIMAL(12,2)) AS DOUBLE)
           AS c_acctbal,
         c_mktsegment
  FROM customer WHERE c_custkey % 7 = 0
  UNION ALL
  SELECT c_custkey + 1000000, 'new_' || c_name, c_nationkey, c_acctbal, c_mktsegment
  FROM customer WHERE c_custkey % 13 = 0
), merged AS (
  SELECT * FROM customer c
  WHERE NOT EXISTS (SELECT 1 FROM updates u WHERE u.c_custkey = c.c_custkey)
  UNION ALL
  SELECT * FROM updates
)
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_bal
FROM merged GROUP BY c_mktsegment
"""


# --------------------------------------------------------------------------
# Event-sequence analytics: Markov transitions + session attribution
# --------------------------------------------------------------------------


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of the event stream: for every
    (event_type → next event_type) step inside a user's timeline, the count
    and the row-normalized probability P(to | from) — the input to
    next-action prediction, funnel-shape monitoring, and bot detection
    (near-deterministic rows are automation fingerprints).

    Shape: one ``lead`` window partitioned by user (the SAME user_id
    shuffle every sequence feature in this file reuses), then a groupBy on
    the (from, to) pair — whose cardinality is |types|² (25 here), so the
    second shuffle moves a few dozen partially-aggregated rows per
    partition no matter the corpus size. The row-normalizing total is a
    window over the 25-row aggregate, not over events. Last event of a
    user has no successor and is excluded (lead is NULL), matching the
    standard open-boundary convention. NULL-timestamp events are
    excluded (r12 timeline-operator convention): no time ⇒ no position
    in the user's sequence, and NULL sorts on opposite ends in the two
    engines."""
    ev = _t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    by_time = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = (
        ev.withColumn("to_type", F.lead("event_type").over(by_time))
        .filter(F.col("to_type").isNotNull())
        .select(F.col("event_type").alias("from_type"), "to_type")
    )
    counts = steps.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n_steps")
    )
    row_total = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n_steps",
        F.round(F.col("n_steps") / F.sum("n_steps").over(row_total), 6).alias("p"),
    ).orderBy("from_type", "to_type")


SQL_EVENT_TRANSITIONS = """
WITH steps AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
  FROM events WHERE ts IS NOT NULL
),
counts AS (
  SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n_steps
  FROM steps WHERE to_type IS NOT NULL GROUP BY from_type, to_type
)
SELECT from_type, to_type, n_steps,
       round(n_steps / CAST(SUM(n_steps) OVER (PARTITION BY from_type) AS DOUBLE), 6) AS p
FROM counts
ORDER BY from_type, to_type
"""


def q_session_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing-style conversion attribution over gap-sessionized journeys:
    each session's purchase revenue is credited to the session's FIRST
    event type (first-touch) and separately to its LAST event type
    (last-touch); the per-type report contrasts the two models — the
    standard acquisition-vs-closing channel comparison.

    Shape: the 30-min sessionize window (one user_id shuffle), then ONE
    groupBy (user, session) computing first type, last type, and revenue
    in the same pass via min_by/max_by on the (ts, event_id) total order —
    no second window, no self-join. Two 5-row aggregates (one per model)
    full-outer-join on type; nulls mean a type never opened (resp. closed)
    a session. Revenue sums in decimal for cross-engine bit-stability.
    NULL-timestamp events are excluded (r12 timeline-operator
    convention): an undated event can neither open nor close a session,
    and the engines disagree on where NULL sorts in the (ts, event_id)
    total order the min_by/max_by keys use."""
    ev = _t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    by_time = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    flagged = ev.withColumn(
        "new_session",
        F.when(us - F.lag(us).over(by_time) > 1800 * 1_000_000, 1)
        .otherwise(0)
        .cast("long"),
    )
    sessions = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(by_time.rowsBetween(Window.unboundedPreceding, 0)),
    )
    # (ts, event_id) is a total order; a single struct key makes min_by /
    # max_by deterministic and keeps everything in one aggregate pass.
    ord_key = F.struct(F.col("ts"), F.col("event_id"))
    per_session = sessions.groupBy("user_id", "session_id").agg(
        F.min_by("event_type", ord_key).alias("first_type"),
        F.max_by("event_type", ord_key).alias("last_type"),
        F.sum(
            F.when(F.col("event_type") == "purchase", _dec("value")).otherwise(
                F.lit(0).cast("decimal(12,2)")
            )
        ).alias("revenue"),
    )
    # ONE pass over per_session (whose lineage holds the scan + two windows
    # + groupBy — running it once per attribution model would double the
    # dominant cost): explode each session into a (model, type) pair and
    # pivot the two models back out in a single aggregate. NULL-safe
    # conditional sums keep a type that never opened (resp. closed) a
    # session at NULL, matching the former full-outer-join semantics.
    touched = per_session.select(
        "revenue",
        F.explode(
            F.array(
                F.struct(F.lit("first").alias("model"), F.col("first_type").alias("event_type")),
                F.struct(F.lit("last").alias("model"), F.col("last_type").alias("event_type")),
            )
        ).alias("_t"),
    ).select("revenue", "_t.model", "_t.event_type")
    agg = touched.groupBy("event_type").agg(
        F.sum(F.when(F.col("model") == "first", 1)).cast("long").alias("sessions_opened"),
        F.round(
            F.sum(F.when(F.col("model") == "first", F.col("revenue"))).cast("double"), 2
        ).alias("first_touch_revenue"),
        F.sum(F.when(F.col("model") == "last", 1)).cast("long").alias("sessions_closed"),
        F.round(
            F.sum(F.when(F.col("model") == "last", F.col("revenue"))).cast("double"), 2
        ).alias("last_touch_revenue"),
    )
    return agg.orderBy("event_type")


SQL_SESSION_ATTRIBUTION = """
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type, value,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800 * 1000000
              THEN 1 ELSE 0 END AS new_session
  FROM events WHERE ts IS NOT NULL
),
sessions AS (
  SELECT *,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
),
ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY user_id, session_id ORDER BY ts, event_id) AS rn_asc,
         row_number() OVER (PARTITION BY user_id, session_id ORDER BY ts DESC, event_id DESC) AS rn_desc
  FROM sessions
),
per_session AS (
  SELECT user_id, session_id,
         MAX(CASE WHEN rn_asc = 1 THEN event_type END) AS first_type,
         MAX(CASE WHEN rn_desc = 1 THEN event_type END) AS last_type,
         SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(12,2))
                  ELSE CAST(0 AS DECIMAL(12,2)) END) AS revenue
  FROM ranked GROUP BY user_id, session_id
),
first_touch AS (
  SELECT first_type AS event_type, CAST(COUNT(*) AS BIGINT) AS sessions_opened,
         CAST(SUM(revenue) AS DOUBLE) AS first_touch_revenue
  FROM per_session GROUP BY first_type
),
last_touch AS (
  SELECT last_type AS event_type, CAST(COUNT(*) AS BIGINT) AS sessions_closed,
         CAST(SUM(revenue) AS DOUBLE) AS last_touch_revenue
  FROM per_session GROUP BY last_type
)
SELECT COALESCE(f.event_type, l.event_type) AS event_type,
       f.sessions_opened, round(f.first_touch_revenue, 2) AS first_touch_revenue,
       l.sessions_closed, round(l.last_touch_revenue, 2) AS last_touch_revenue
FROM first_touch f FULL OUTER JOIN last_touch l ON f.event_type = l.event_type
ORDER BY event_type
"""


# --------------------------------------------------------------------------
# Mergeable-sketch workflow: daily HLL partials unioned to a period total
# --------------------------------------------------------------------------

_HLL_LG_K = 12  # Datasketches HLL: rsd ≈ 1.04 / sqrt(2^lgK) ≈ 1.6%
_HLL_BOUND = 5 * 1.04 / (2**_HLL_LG_K) ** 0.5


def q_approx_distinct_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRE-AGGREGATED sketch workflow behind every 100 TB distinct-count
    dashboard: one Datasketches HLL partial per (type, day) — the shape a
    daily rollup job persists — then hll_union_agg merges the partials into
    the 30-day total WITHOUT rescanning events (mergeability is the whole
    point: the daily table is ~(types × days) rows, the reunion never
    touches raw data). approx_distinct_users checks one global sketch;
    this checks the merge algebra.

    Gate shape (same as approx_distinct_users): the estimate itself is
    engine-specific, so the hashed output carries the exact count and the
    IN-BAND verdict |merged/exact − 1| ≤ 5·rsd; the oracle reproduces the
    exact side and pins the verdict TRUE.

    NULL-timestamp events are excluded (r12 edge-corpus sweep): the
    query models a DAILY rollup job, which never sees undated rows — and
    DuckDB's COUNT(DISTINCT CAST(ts AS DATE)) would skip the NULL day
    Spark's groupBy materializes, off-by-one per affected type. The
    type join is NULL-SAFE so an unknown-type bucket (NULL event_type)
    stays visible like every other per-type rollup here."""
    ev = _t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id", F.lit(_HLL_LG_K)).alias("sk"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    merged = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"),
        F.count(F.lit(1)).cast("long").alias("n_daily_sketches"),
    )
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("long").alias("n_exact")
    )
    return (
        merged.alias("m")
        .join(
            exact.alias("x"),
            F.col("m.event_type").eqNullSafe(F.col("x.event_type")),
        )
        .select(
            F.col("m.event_type").alias("event_type"),
            "n_daily_sketches",
            "n_exact",
            (F.abs(F.col("est") / F.col("n_exact") - 1) <= _HLL_BOUND).alias(
                "within_bound"
            ),
        )
        .orderBy("event_type")
    )


SQL_APPROX_DISTINCT_SKETCH_MERGE = """
SELECT event_type,
       CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_daily_sketches,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact,
       TRUE AS within_bound
FROM events
WHERE ts IS NOT NULL
GROUP BY event_type
ORDER BY event_type
"""


_PIT_WINDOW_US = 7 * 86_400 * 1_000_000


def q_training_set_pit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct training-set assembly — the feature-store
    primitive: one row per PURCHASE event (the label) with features
    computed STRICTLY BEFORE the label's timestamp: the user's
    trailing-7-day event count, click count, and value sum, plus the
    static customer dimension. The leakage guard is the window frame
    itself — ``range (-7d, -1µs]`` can never see the label row or
    anything after it, which is the property every offline/online-skew
    postmortem traces back to.

    Shape: ONE range window on the user timeline computes every trailing
    feature (no per-feature self-joins), then the label filter and a
    broadcast dimension join. At 100 TB this is the same plan per
    feature group; features materialize once per entity timeline, not
    once per label."""
    ev = _t(spark, sf_dir, "events")
    cust = _t(spark, sf_dir, "customer")
    us = F.unix_micros("ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-_PIT_WINDOW_US, -1)
    )
    feat = ev.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        _dec("value").alias("_v"),
        F.count(F.lit(1)).over(w).alias("f_events_7d"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .over(w)
        .cast("long")
        .alias("f_clicks_7d"),
        F.coalesce(
            F.sum(F.col("value").cast("decimal(12,2)")).over(w),
            F.lit(0).cast("decimal(12,2)"),
        )
        .cast("double")
        .alias("f_value_7d"),
    )
    labels = feat.filter(F.col("event_type") == "purchase")
    dim = cust.select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("f_segment")
    )
    return (
        labels.join(F.broadcast(dim), on="user_id", how="left")
        .select(
            "user_id",
            "event_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("label_ts"),
            F.col("_v").cast("double").alias("label_value"),
            "f_events_7d",
            "f_clicks_7d",
            F.round("f_value_7d", 2).alias("f_value_7d"),
            "f_segment",
        )
        .orderBy("user_id", "event_id")
    )


SQL_TRAINING_SET_PIT = f"""
WITH feat AS (
  SELECT user_id, event_id, ts, event_type,
         CAST(value AS DECIMAL(12,2)) AS v,
         COUNT(*) OVER w AS f_events_7d,
         CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) OVER w AS BIGINT)
           AS f_clicks_7d,
         CAST(COALESCE(SUM(CAST(value AS DECIMAL(12,2))) OVER w,
                       CAST(0 AS DECIMAL(12,2))) AS DOUBLE) AS f_value_7d
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
               RANGE BETWEEN {_PIT_WINDOW_US} PRECEDING AND 1 PRECEDING)
)
SELECT f.user_id, f.event_id,
       strftime(f.ts, '%Y-%m-%d %H:%M:%S') AS label_ts,
       CAST(f.v AS DOUBLE) AS label_value,
       f.f_events_7d, f.f_clicks_7d,
       round(f.f_value_7d, 2) AS f_value_7d,
       c.c_mktsegment AS f_segment
FROM feat f LEFT JOIN customer c ON f.user_id = c.c_custkey
WHERE f.event_type = 'purchase'
ORDER BY f.user_id, f.event_id
"""


_THETA_BOUND = 0.05  # intersection/difference error ≥ plain-union rsd; generous


def q_approx_overlap_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch SET ALGEBRA — the capability HLL lacks: estimate the
    distinct-user INTERSECTION (clicked AND purchased) and DIFFERENCE
    (clicked, never purchased) from two independently-built sketches, no
    raw-data rejoin — audience-overlap analysis over pre-aggregated
    per-segment sketch tables at 100 TB. In-band contract like the HLL
    rows: hashed output carries the exact counts and the
    |est/exact − 1| ≤ 5% verdicts; the oracle reproduces the exact sides
    and pins the verdicts TRUE."""
    ev = _t(spark, sf_dir, "events")
    # one groupBy-free agg with conditional inputs (ADVICE r4): filtering
    # per-type sketch ROWS and cross-joining annihilates to zero rows when
    # either event type is absent, while the oracle always returns one row;
    # theta_sketch_agg over an all-NULL column is the empty sketch
    # (estimate 0), which is exactly the degenerate-input answer
    ests_sk = ev.agg(
        F.theta_sketch_agg(
            F.when(F.col("event_type") == "click", F.col("user_id"))
        ).alias("sk_click"),
        F.theta_sketch_agg(
            F.when(F.col("event_type") == "purchase", F.col("user_id"))
        ).alias("sk_buy"),
    )
    ests = ests_sk.select(
        F.theta_sketch_estimate(
            F.theta_intersection("sk_click", "sk_buy")
        ).alias("est_both"),
        F.theta_sketch_estimate(F.theta_difference("sk_click", "sk_buy")).alias(
            "est_click_only"
        ),
    )
    clickers = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("u")
    ).distinct()
    buyers = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("u")
    ).distinct()
    exact = (
        clickers.join(buyers, on="u", how="left_semi")
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
        .crossJoin(
            clickers.join(buyers, on="u", how="left_anti").agg(
                F.count(F.lit(1)).cast("long").alias("n_click_only")
            )
        )
    )
    def _ok(est, n):
        # exact side can be 0 (every clicker buys at small SF): then the
        # sketch must estimate 0 too; try_divide keeps ANSI mode happy
        return F.when(F.col(n) == 0, F.col(est) == 0.0).otherwise(
            F.abs(F.try_divide(F.col(est), F.col(n)) - 1) <= _THETA_BOUND
        )

    return ests.crossJoin(F.broadcast(exact)).select(
        "n_both",
        "n_click_only",
        _ok("est_both", "n_both").alias("both_within_bound"),
        _ok("est_click_only", "n_click_only").alias("diff_within_bound"),
    )


SQL_APPROX_OVERLAP_SKETCH = """
WITH clickers AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
buyers AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
SELECT CAST((SELECT COUNT(*) FROM clickers c WHERE EXISTS
              (SELECT 1 FROM buyers b WHERE b.user_id = c.user_id)) AS BIGINT) AS n_both,
       CAST((SELECT COUNT(*) FROM clickers c WHERE NOT EXISTS
              (SELECT 1 FROM buyers b WHERE b.user_id = c.user_id)) AS BIGINT) AS n_click_only,
       TRUE AS both_within_bound,
       TRUE AS diff_within_bound
"""


# --------------------------------------------------------------------------
# Event-series smoothing, conversion latency, path mining
# --------------------------------------------------------------------------

_EWMA_ALPHA = 0.5
_EWMA_WINDOW = 7


def q_events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day windowed EWMA of the daily revenue series per event type —
    the smoothing behind every ops dashboard's trend line. The bounded
    window makes the recursion EXACT and engine-portable: ewma_t =
    Σ_{j=0..6} αʲ·v_{t−j} / Σ_{j present} αʲ, unrolled as 7 lag() terms
    over one (type, day) window (an unbounded EWMA is a true recursion —
    not expressible as a window aggregate, and α^t rescaling explodes
    numerically; the 7-term truncation is standard and its tail weight is
    α⁷ < 1%). The series is gap-filled to the dense calendar FIRST
    (ADVICE r4): a day with no events is revenue 0, and lagging over
    observed days only would misalign the αʲ weights with calendar time
    on sparse series. The calendar axis comes from one min/max aggregate
    and is broadcast — the grid build adds no shuffle beyond the daily
    agg. Missing LEADING days (before the global range start) contribute
    nothing and drop out of the normalizer, so the series starts
    unbiased."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.sum(_dec("value")).cast("double").alias("v"))
    day = F.to_date("ts")
    days = ev.agg(F.min(day).alias("_d0"), F.max(day).alias("_d1")).select(
        F.explode(F.sequence("_d0", "_d1")).alias("day")
    )
    types = ev.select("event_type").distinct()
    daily = (
        types.crossJoin(F.broadcast(days))
        .join(daily, on=["event_type", "day"], how="left")
        .withColumn("v", F.coalesce("v", F.lit(0.0)))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    num = F.lit(0.0)
    den = F.lit(0.0)
    for j in range(_EWMA_WINDOW):
        term = F.lag("v", j).over(w)
        num = num + F.coalesce(term * F.lit(_EWMA_ALPHA**j), F.lit(0.0))
        den = den + F.when(term.isNotNull(), F.lit(_EWMA_ALPHA**j)).otherwise(F.lit(0.0))
    return daily.select(
        "event_type",
        F.col("day").cast("string").alias("day"),
        F.round("v", 2).alias("day_value"),
        F.round(num / den, 6).alias("ewma7"),
    ).orderBy("event_type", "day")


SQL_EVENTS_EWMA = (
    """
WITH obs AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS v
  FROM events GROUP BY 1, 2
),
bounds AS (SELECT MIN(CAST(ts AS DATE)) AS d0, MAX(CAST(ts AS DATE)) AS d1 FROM events),
days AS (
  SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day FROM bounds
),
types AS (SELECT DISTINCT event_type FROM events),
daily AS (
  SELECT t.event_type, d.day, COALESCE(o.v, 0.0) AS v
  FROM types t CROSS JOIN days d
  LEFT JOIN obs o ON o.event_type = t.event_type AND o.day = d.day
)
SELECT event_type, CAST(day AS VARCHAR) AS day, round(v, 2) AS day_value,
       round(("""
    + " + ".join(
        f"COALESCE(lag(v, {j}) OVER w * {_EWMA_ALPHA**j!r}, 0.0)"
        for j in range(_EWMA_WINDOW)
    )
    + ") / ("
    + " + ".join(
        f"CASE WHEN lag(v, {j}) OVER w IS NOT NULL THEN {_EWMA_ALPHA**j!r} ELSE 0.0 END"
        for j in range(_EWMA_WINDOW)
    )
    + """), 6) AS ewma7
FROM daily
WINDOW w AS (PARTITION BY event_type ORDER BY day)
ORDER BY event_type, day
"""
)


def q_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert: per user, the delay from FIRST signup to the first
    purchase AFTER it; the report is conversion count + exact
    median/p90 delay in hours — the latency half of the funnel (the
    events_funnel count tells how many convert, this tells how fast).
    Two min-aggregates on the user shuffle (no window needed: first
    signup = min ts over signups, first purchase after = min ts over
    purchases past it), then a 1-row exact-quantile rollup."""
    ev = _t(spark, sf_dir, "events")
    signup = ev.filter(F.col("event_type") == "signup").groupBy("user_id").agg(
        F.min("ts").alias("signup_ts")
    )
    joined = (
        ev.filter(F.col("event_type") == "purchase")
        .join(signup, on="user_id")
        .filter(F.col("ts") >= F.col("signup_ts"))
        .groupBy("user_id", "signup_ts")
        .agg(F.min("ts").alias("purchase_ts"))
    )
    delays = joined.select(
        ((F.unix_micros("purchase_ts") - F.unix_micros("signup_ts")) / 3_600_000_000.0).alias(
            "delay_h"
        )
    )
    return delays.agg(
        F.count(F.lit(1)).cast("long").alias("n_converted"),
        F.round(F.expr("percentile(delay_h, 0.5)"), 6).alias("median_hours"),
        F.round(F.expr("percentile(delay_h, 0.9)"), 6).alias("p90_hours"),
    )


SQL_FUNNEL_LATENCY = """
WITH signup AS (
  SELECT user_id, MIN(ts) AS signup_ts FROM events WHERE event_type = 'signup' GROUP BY user_id
),
conv AS (
  SELECT e.user_id, s.signup_ts, MIN(e.ts) AS purchase_ts
  FROM events e JOIN signup s ON e.user_id = s.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= s.signup_ts
  GROUP BY e.user_id, s.signup_ts
),
delays AS (
  SELECT (epoch_us(purchase_ts) - epoch_us(signup_ts)) / 3600000000.0 AS delay_h FROM conv
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
       round(quantile_cont(delay_h, 0.5), 6) AS median_hours,
       round(quantile_cont(delay_h, 0.9), 6) AS p90_hours
FROM delays
"""


def q_event_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path mining: the 20 most common 3-event sequences inside a user's
    30-min session — the second-order upgrade of event_transitions (which
    sees only adjacent pairs): common trigrams surface scripted flows and
    UX loops that pair counts blur. Two lead() calls on the SAME
    (user, session) window (no extra shuffle), trigrams crossing a
    session boundary excluded, then one small groupBy."""
    ev = _t(spark, sf_dir, "events")
    by_time = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    flagged = ev.withColumn(
        "new_session",
        F.when(us - F.lag(us).over(by_time) > 1800 * 1_000_000, 1).otherwise(0).cast("long"),
    )
    sess = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(by_time.rowsBetween(Window.unboundedPreceding, 0)),
    )
    in_session = Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    tri = sess.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(in_session).alias("e2"),
        F.lead("event_type", 2).over(in_session).alias("e3"),
    ).filter(F.col("e2").isNotNull() & F.col("e3").isNotNull())
    return (
        tri.groupBy("e1", "e2", "e3")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "e1", "e2", "e3")
        .limit(20)
    )


SQL_EVENT_PATH_TRIGRAMS = """
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800 * 1000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
sess AS (
  SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
),
tri AS (
  SELECT event_type AS e1,
         lead(event_type, 1) OVER w AS e2,
         lead(event_type, 2) OVER w AS e3
  FROM sess
  WINDOW w AS (PARTITION BY user_id, session_id ORDER BY ts, event_id)
)
SELECT e1, e2, e3, CAST(COUNT(*) AS BIGINT) AS n
FROM tri WHERE e2 IS NOT NULL AND e3 IS NOT NULL
GROUP BY e1, e2, e3
ORDER BY n DESC, e1, e2, e3
LIMIT 20
"""


# --------------------------------------------------------------------------
# Ranked-distribution window functions
# --------------------------------------------------------------------------


def q_customer_balance_ntiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ranked-distribution window family in one pass per segment:
    decile (ntile), percent_rank, and cume_dist of account balance within
    each market segment — the per-cohort percentile placement behind
    credit banding and fair-comparison features. One window shuffle on
    the segment key serves all three functions (they share the same sort).
    Scale caveat (same as customer_revenue_quartiles): 5 segments means
    each window partition funnels ~20% of the table through one task's
    sort — fine to hundreds of millions of customers, beyond that switch
    the rank basis to percentile_approx bands (segmentation_rules' plan);
    the output keeps one representative row per (segment, decile): the
    decile's boundary customer (max balance), a bounded 5×10-row report.
    (ts, id)-free total order: (balance, custkey) breaks ties. NULLS
    LAST throughout (r13 edge-corpus convention: NULL sorts last in
    every explicit total ordering — an unknown balance ranks after every
    real one and never becomes a decile's boundary representative;
    Spark's ASC default is NULLS FIRST, DuckDB's NULLS LAST, so an
    implicit ordering shifts every ntile/percent_rank/cume in a segment
    containing one NULL balance)."""
    cust = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").asc_nulls_last(), F.col("c_custkey").asc_nulls_last()
    )
    ranked = cust.select(
        "c_mktsegment",
        "c_custkey",
        "c_acctbal",
        F.ntile(10).over(w).alias("decile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )
    top_in_decile = Window.partitionBy("c_mktsegment", "decile").orderBy(
        F.col("c_acctbal").desc_nulls_last(), F.col("c_custkey").desc_nulls_last()
    )
    return (
        ranked.withColumn("_rn", F.row_number().over(top_in_decile))
        .filter(F.col("_rn") == 1)
        .select(
            "c_mktsegment",
            "decile",
            F.col("c_custkey").alias("boundary_custkey"),
            F.round("c_acctbal", 2).alias("boundary_balance"),
            "pct_rank",
            "cume",
        )
        .orderBy("c_mktsegment", "decile")
    )


SQL_CUSTOMER_BALANCE_NTILES = """
WITH ranked AS (
  SELECT c_mktsegment, c_custkey, c_acctbal,
         ntile(10) OVER w AS decile,
         round(percent_rank() OVER w, 6) AS pct_rank,
         round(cume_dist() OVER w, 6) AS cume
  FROM customer
  WINDOW w AS (PARTITION BY c_mktsegment
               ORDER BY c_acctbal NULLS LAST, c_custkey NULLS LAST)
),
top_in_decile AS (
  SELECT *, row_number() OVER (PARTITION BY c_mktsegment, decile
                               ORDER BY c_acctbal DESC NULLS LAST,
                                        c_custkey DESC NULLS LAST) AS rn
  FROM ranked
)
SELECT c_mktsegment, decile, c_custkey AS boundary_custkey,
       round(c_acctbal, 2) AS boundary_balance, pct_rank, cume
FROM top_in_decile WHERE rn = 1
ORDER BY c_mktsegment, decile
"""


# --------------------------------------------------------------------------
# Referential integrity + pseudonymization
# --------------------------------------------------------------------------


def q_fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit of the whole star schema in one report:
    for every foreign-key edge, how many child rows point at a missing
    parent (orphans) — the cross-TABLE complement of the single-table
    expectations gate (expect_orders). Dimension-parent edges are
    left-anti probes against a BROADCAST of the parent's distinct keys
    (the fact side never shuffles); the one fact-parent edge
    (lineitem→orders, billions of keys at scale) is a shuffle anti-join
    on the key instead — broadcasting a fact would blow the limit. The
    per-edge counts union into a fixed 6-row report."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    c = _t(spark, sf_dir, "customer")
    p = _t(spark, sf_dir, "part")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")

    def edge(name, child, fk, parent, pk, broadcast_parent=True):
        keys = parent.select(F.col(pk).alias(fk)).distinct()
        # broadcast only DIMENSION parents; a fact-scale parent (orders,
        # at billions of keys) would blow the broadcast limit — its edge
        # runs as a shuffle anti-join on the key instead
        build = F.broadcast(keys) if broadcast_parent else keys
        orphans = child.join(build, on=fk, how="left_anti")
        return orphans.agg(
            F.lit(name).alias("fk_edge"),
            F.count(F.lit(1)).cast("long").alias("n_orphans"),
        )

    edges = [
        edge("orders.o_custkey->customer", o, "o_custkey", c, "c_custkey"),
        edge("lineitem.l_orderkey->orders", li, "l_orderkey", o, "o_orderkey",
             broadcast_parent=False),
        edge("lineitem.l_partkey->part", li, "l_partkey", p, "p_partkey"),
        edge("lineitem.l_suppkey->supplier", li, "l_suppkey", s, "s_suppkey"),
        edge("customer.c_nationkey->nation", c, "c_nationkey", n, "n_nationkey"),
        edge("supplier.s_nationkey->nation", s, "s_nationkey", n, "n_nationkey"),
    ]
    out = edges[0]
    for e in edges[1:]:
        out = out.unionByName(e)
    return out.orderBy("fk_edge")


def _fk_edge_sql(name: str, child: str, fk: str, parent: str, pk: str) -> str:
    return f"""
  SELECT '{name}' AS fk_edge,
         CAST(COUNT(*) AS BIGINT) AS n_orphans
  FROM {child} ch
  WHERE NOT EXISTS (SELECT 1 FROM {parent} pa WHERE pa.{pk} = ch.{fk})"""


SQL_FK_INTEGRITY_AUDIT = (
    "SELECT * FROM ("
    + "\n  UNION ALL".join(
        [
            _fk_edge_sql("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
            _fk_edge_sql("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
            _fk_edge_sql("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
            _fk_edge_sql("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
            _fk_edge_sql("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
            _fk_edge_sql("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
        ]
    )
    + ") ORDER BY fk_edge"
)


_PSEUDO_SALT = "release-2024Q1"


def q_pseudonymize_referential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed pseudonymization with referential consistency: customer and
    orders both replace the customer key with md5(salt | key) surrogates —
    the same function on both tables, so joins still line up after the
    real identifiers are gone (the GDPR-style export contract). The gated
    report proves it: the surrogate-join row count equals the raw-join
    count, surrogate cardinality equals key cardinality (no collisions at
    this scale), and no raw key survives in the surrogate column. Scale:
    pseudonymization is a row-local projection (zero shuffles added); the
    verification joins are the only exchanges, and ship only keys."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    surr = lambda col: F.md5(F.concat_ws("|", F.lit(_PSEUDO_SALT), F.col(col).cast("string")))  # noqa: E731
    pc = c.select(surr("c_custkey").alias("sk"), "c_mktsegment")
    po = o.select(surr("o_custkey").alias("sk"), "o_orderkey")
    # all three scalars ride along as broadcast 1-row aggregates — no eager
    # action at plan-build time, the query stays one lazy DataFrame
    raw_join = F.broadcast(
        o.join(c, o.o_custkey == c.c_custkey)
        .agg(F.count(F.lit(1)).cast("long").alias("n_joined_raw"))
    )
    # surrogate cardinality from the pseudonymized DIMENSION itself: the
    # join would undercount whenever a customer has no orders and fake a
    # collision
    key_counts = F.broadcast(
        c.agg(
            F.count_distinct(surr("c_custkey")).cast("long").alias("n_surrogate_keys"),
            F.count_distinct("c_custkey").cast("long").alias("n_raw_keys"),
        )
    )
    return (
        po.join(pc, on="sk")
        .agg(F.count(F.lit(1)).cast("long").alias("n_joined_surrogate"))
        .crossJoin(raw_join)
        .crossJoin(key_counts)
        .select(
            "n_joined_surrogate",
            "n_joined_raw",
            (F.col("n_joined_surrogate") == F.col("n_joined_raw")).alias("join_preserved"),
            "n_surrogate_keys",
            "n_raw_keys",
            (F.col("n_surrogate_keys") == F.col("n_raw_keys")).alias("no_collisions"),
        )
    )


SQL_PSEUDONYMIZE_REFERENTIAL = f"""
WITH pc AS (
  SELECT md5(concat_ws('|', '{_PSEUDO_SALT}', CAST(c_custkey AS VARCHAR))) AS sk
  FROM customer
),
po AS (
  SELECT md5(concat_ws('|', '{_PSEUDO_SALT}', CAST(o_custkey AS VARCHAR))) AS sk,
         o_orderkey
  FROM orders
),
raw AS (
  SELECT COUNT(*) AS n FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
surr AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_joined_surrogate
  FROM po JOIN pc ON po.sk = pc.sk
),
keys AS (
  SELECT CAST(COUNT(DISTINCT md5(concat_ws('|', '{_PSEUDO_SALT}', CAST(c_custkey AS VARCHAR)))) AS BIGINT)
           AS n_surrogate_keys,
         CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_raw_keys
  FROM customer
)
SELECT s.n_joined_surrogate,
       CAST(r.n AS BIGINT) AS n_joined_raw,
       s.n_joined_surrogate = r.n AS join_preserved,
       k.n_surrogate_keys,
       k.n_raw_keys,
       k.n_surrogate_keys = k.n_raw_keys AS no_collisions
FROM surr s CROSS JOIN raw r CROSS JOIN keys k
"""


# --------------------------------------------------------------------------
# Join-cardinality profile (pre-flight join sizing)
# --------------------------------------------------------------------------


def q_join_size_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-flight sizing of the M:N events ⋈ orders join on the user key
    (operators/diagnostics.py:join_cardinality_profile): the exact output
    cardinality from Σ cnt·cnt — computed WITHOUT running the join — plus
    the 10 keys contributing the most output rows. The diagnostic you run
    before any join whose output size you cannot bound a priori."""
    from scala_etl_test_spark.operators.diagnostics import join_cardinality_profile

    ev = _t(spark, sf_dir, "events")
    o = _t(spark, sf_dir, "orders")
    return join_cardinality_profile(ev, o, "user_id", "o_custkey", top_k=10)


SQL_JOIN_SIZE_PROFILE = """
WITH lc AS (SELECT user_id AS join_key, COUNT(*) AS n_left FROM events GROUP BY 1),
rc AS (SELECT o_custkey AS join_key, COUNT(*) AS n_right FROM orders GROUP BY 1),
per AS (
  SELECT join_key, n_left, n_right, n_left * n_right AS n_pairs
  FROM lc JOIN rc USING (join_key)
),
tot AS (SELECT SUM(n_pairs) AS total_join_rows FROM per)
SELECT per.join_key,
       CAST(per.n_left AS BIGINT) AS n_left,
       CAST(per.n_right AS BIGINT) AS n_right,
       CAST(per.n_pairs AS BIGINT) AS n_pairs,
       CAST(tot.total_join_rows AS BIGINT) AS total_join_rows
FROM per CROSS JOIN tot
ORDER BY per.n_pairs DESC, per.join_key
LIMIT 10
"""


# --------------------------------------------------------------------------
# Exact proration (largest-remainder allocation)
# --------------------------------------------------------------------------


def q_prorate_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prorate each 1995-Q1 order's total back onto its lineitems
    proportionally to extended price, in EXACT integer cents
    (operators/allocate.py:largest_remainder_allocation) — the
    billing/revenue-recognition allocation where Σ line allocations must
    equal the order amount to the cent, floats not invited. All-int64
    arithmetic makes the result bit-identical across engines."""
    from scala_etl_test_spark.operators.allocate import largest_remainder_allocation

    o = (
        _t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01"))
            & (F.col("o_orderdate") < F.lit("1995-04-01"))
        )
        .select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("_amt"),
        )
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    joined = li.join(o, on=li.l_orderkey == o.o_orderkey).select(
        "l_orderkey",
        "l_linenumber",
        "_amt",
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("_w"),
    )
    return largest_remainder_allocation(
        joined, "l_orderkey", F.col("_amt"), F.col("_w"), "l_linenumber"
    ).orderBy("l_orderkey", "l_linenumber")


SQL_PRORATE_ORDER_TOTALS = """
WITH o AS (
  SELECT o_orderkey, CAST(round(o_totalprice * 100, 0) AS BIGINT) AS amt
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1995-04-01'
),
base AS (
  SELECT l.l_orderkey, l.l_linenumber, o.amt,
         CAST(round(l.l_extendedprice * 100, 0) AS BIGINT) AS w,
         SUM(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT))
           OVER (PARTITION BY l.l_orderkey) AS wsum
  FROM lineitem l JOIN o ON l.l_orderkey = o.o_orderkey
),
stepped AS (
  -- FLOOR division via positive modulus (mirrors the operator): '//'
  -- truncates toward zero and would lose a cent on negative amounts
  SELECT *,
         CASE WHEN wsum = 0 THEN 0
              ELSE (amt * w - (((amt * w) % wsum + wsum) % wsum)) // wsum
         END AS base_c,
         CASE WHEN wsum = 0 THEN 0
              ELSE ((amt * w) % wsum + wsum) % wsum
         END AS rem
  FROM base
),
ranked AS (
  SELECT *,
         SUM(base_c) OVER (PARTITION BY l_orderkey) AS floor_sum,
         row_number() OVER (PARTITION BY l_orderkey ORDER BY rem DESC, l_linenumber) AS rk
  FROM stepped
)
SELECT l_orderkey, l_linenumber,
       w AS weight_cents,
       CAST(CASE WHEN wsum = 0 THEN CASE WHEN rk = 1 THEN amt ELSE 0 END
                 ELSE base_c + CASE WHEN rk <= amt - floor_sum THEN 1 ELSE 0 END
            END AS BIGINT) AS alloc_cents,
       amt AS group_amount_cents
FROM ranked
ORDER BY l_orderkey, l_linenumber
"""


# --------------------------------------------------------------------------
# Content-integrity checksum
# --------------------------------------------------------------------------


def q_orders_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent content checksum of the orders table
    (operators/integrity.py:table_checksum) — the one-scan equality
    certificate run on both sides of any copy/compaction/engine migration
    (including this repo's own sinks). Every column is canonicalized to a
    cross-engine-stable string first: decimals at fixed scale, the
    timestamp via an explicit strftime (raw timestamp→string rendering
    differs between engines)."""
    from scala_etl_test_spark.operators.integrity import table_checksum

    o = _t(spark, sf_dir, "orders")
    cols = [
        F.col("o_orderkey"),
        F.col("o_custkey"),
        F.col("o_orderstatus"),
        _dec("o_totalprice"),
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss"),
        F.col("o_orderpriority"),
    ]
    return table_checksum(o, cols)


SQL_ORDERS_CHECKSUM = """
WITH digest AS (
  SELECT CAST(concat('0x', substr(md5(concat(
           md5(COALESCE(CAST(o_orderkey AS VARCHAR), '<NULL>')),
           md5(COALESCE(CAST(o_custkey AS VARCHAR), '<NULL>')),
           md5(COALESCE(o_orderstatus, '<NULL>')),
           md5(COALESCE(CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR), '<NULL>')),
           md5(COALESCE(strftime(o_orderdate, '%Y-%m-%d %H:%M:%S'), '<NULL>')),
           md5(COALESCE(o_orderpriority, '<NULL>'))
         )), 1, 15)) AS BIGINT) AS h
  FROM orders
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COALESCE(bit_xor(h), 0) AS BIGINT) AS xor60,
       CAST(COALESCE(SUM(h % 2147483648), 0) AS BIGINT) AS sum31
FROM digest
"""


# --------------------------------------------------------------------------
# Changepoint detection + one-pass correlation matrix
# --------------------------------------------------------------------------


def q_events_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-changepoint detection per event type: the split day that
    minimizes SSE_left + SSE_right of the daily mean-value series (the
    binary-segmentation step of classic changepoint analysis / CUSUM's
    offline twin) — "did this metric's level SHIFT, and when?", sharper
    than the Welch gate's fixed midpoint split.

    All from prefix sums: daily (n, Σv, Σv²) per type, cumulated by one
    window; each candidate split's two-segment SSE is row-local algebra on
    (prefix, total − prefix), and the argmin is a row_number over the
    per-type day grid — the candidate axis is DAYS (bounded), never rows.
    SSE = Σv² − (Σv)²/n per segment, in fixed decimal until the final
    division so both engines agree bit-for-bit; ties break to the
    earliest day. NULL-timestamp events are excluded with the NULL
    values (r12 timeline-operator convention): an undated value has no
    day on the series, and the NULL day group shifts the prefix sums
    differently per engine."""
    ev = _t(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    )
    day = F.to_date("ts")
    daily = ev.groupBy("event_type", day.alias("day")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_dec("value")).alias("s"),
        F.sum(_dec("value") * _dec("value")).alias("s2"),
    )
    w = Window.partitionBy("event_type").orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot = Window.partitionBy("event_type")
    cum = daily.select(
        "event_type",
        "day",
        F.sum("n").over(w).alias("nl"),
        F.sum("s").over(w).alias("sl"),
        F.sum("s2").over(w).alias("s2l"),
        F.sum("n").over(tot).alias("nt"),
        F.sum("s").over(tot).alias("st"),
        F.sum("s2").over(tot).alias("s2t"),
    ).filter(F.col("nl") < F.col("nt"))  # split must leave a non-empty right
    # decimal sums are exact; cast to double BEFORE multiplying — decimal
    # multiplication at these widths overflows DuckDB's 38-digit cap and
    # hits Spark's precision-loss rounding, while the doubles are exact
    # (every sum is an integer number of cents far below 2^53)
    sl_d = F.col("sl").cast("double")
    sse_l = F.col("s2l").cast("double") - sl_d * sl_d / F.col("nl")
    nr = F.col("nt") - F.col("nl")
    sr_d = (F.col("st") - F.col("sl")).cast("double")
    sse_r = (F.col("s2t") - F.col("s2l")).cast("double") - sr_d * sr_d / nr
    scored = cum.select(
        "event_type",
        "day",
        F.round(sse_l + sse_r, 4).alias("sse"),
        F.round(sl_d / F.col("nl"), 6).alias("mean_left"),
        F.round(sr_d / nr, 6).alias("mean_right"),
    )
    best = scored.withColumn(
        "_rk",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy(F.col("sse").asc(), F.col("day").asc())
        ),
    ).filter(F.col("_rk") == 1)
    return best.select(
        "event_type",
        F.col("day").cast("string").alias("change_day"),
        "sse",
        "mean_left",
        "mean_right",
        F.round(F.col("mean_right") - F.col("mean_left"), 6).alias("shift"),
    ).orderBy("event_type")


SQL_EVENTS_CHANGEPOINT = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         COUNT(*) AS n,
         SUM(CAST(value AS DECIMAL(12,2))) AS s,
         SUM(CAST(value AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2))) AS s2
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
  GROUP BY 1, 2
),
cum AS (
  SELECT event_type, day,
         SUM(n)  OVER (PARTITION BY event_type ORDER BY day ROWS UNBOUNDED PRECEDING) AS nl,
         SUM(s)  OVER (PARTITION BY event_type ORDER BY day ROWS UNBOUNDED PRECEDING) AS sl,
         SUM(s2) OVER (PARTITION BY event_type ORDER BY day ROWS UNBOUNDED PRECEDING) AS s2l,
         SUM(n)  OVER (PARTITION BY event_type) AS nt,
         SUM(s)  OVER (PARTITION BY event_type) AS st,
         SUM(s2) OVER (PARTITION BY event_type) AS s2t
  FROM daily
),
scored AS (
  SELECT event_type, day,
         round(CAST(s2l AS DOUBLE) - CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE) / nl
               + CAST(s2t - s2l AS DOUBLE)
               - CAST(st - sl AS DOUBLE) * CAST(st - sl AS DOUBLE) / (nt - nl),
               4) AS sse,
         round(CAST(sl AS DOUBLE) / nl, 6) AS mean_left,
         round(CAST(st - sl AS DOUBLE) / (nt - nl), 6) AS mean_right
  FROM cum WHERE nl < nt
),
best AS (
  SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY sse, day) AS rk
  FROM scored
)
SELECT event_type, CAST(day AS VARCHAR) AS change_day, sse, mean_left, mean_right,
       round(mean_right - mean_left, 6) AS shift
FROM best WHERE rk = 1
ORDER BY event_type
"""


_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def q_lineitem_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations among the lineitem measures, ALL from
    ONE aggregate pass: a single scan computes every co-moment
    (n, Σx, Σx², Σxy for the 6 pairs) with map-side combine, and the
    6-row long-form matrix is driver-free arithmetic on that one row —
    the profiling query a feature-engineering pipeline runs per snapshot.
    Population-correlation algebra shared with events_trend."""
    li = _t(spark, sf_dir, "lineitem")
    cols = _CORR_COLS
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in cols:
        aggs.append(F.sum(F.col(c)).alias(f"s_{c}"))
        aggs.append(F.sum(F.col(c) * F.col(c)).alias(f"ss_{c}"))
    for i, a in enumerate(cols):
        for b in cols[i + 1 :]:
            aggs.append(F.sum(F.col(a) * F.col(b)).alias(f"sp_{a}_{b}"))
    one = li.agg(*aggs)

    def _r(a: str, b: str) -> F.Column:
        cov = F.col(f"sp_{a}_{b}") / F.col("n") - (F.col(f"s_{a}") / F.col("n")) * (
            F.col(f"s_{b}") / F.col("n")
        )
        var_a = F.col(f"ss_{a}") / F.col("n") - (F.col(f"s_{a}") / F.col("n")) * (
            F.col(f"s_{a}") / F.col("n")
        )
        var_b = F.col(f"ss_{b}") / F.col("n") - (F.col(f"s_{b}") / F.col("n")) * (
            F.col(f"s_{b}") / F.col("n")
        )
        return F.round(cov / F.sqrt(var_a * var_b), 6)

    # one explode over literal structs, NOT a 6-way union of selects over
    # `one` — each union branch would re-run the scan + aggregate
    pairs = F.array(
        *[
            F.struct(
                F.lit(a).alias("col_a"), F.lit(b).alias("col_b"), _r(a, b).alias("pearson_r")
            )
            for i, a in enumerate(cols)
            for b in cols[i + 1 :]
        ]
    )
    return (
        one.select(F.explode(pairs).alias("_p"))
        .select("_p.col_a", "_p.col_b", "_p.pearson_r")
        .orderBy("col_a", "col_b")
    )


def _corr_pair_sql(a: str, b: str) -> str:
    return f"""
  SELECT '{a}' AS col_a, '{b}' AS col_b,
         round((sp_{a}_{b} / n - (s_{a} / n) * (s_{b} / n))
               / sqrt((ss_{a} / n - (s_{a} / n) * (s_{a} / n))
                      * (ss_{b} / n - (s_{b} / n) * (s_{b} / n))), 6) AS pearson_r
  FROM one"""


SQL_LINEITEM_CORR_MATRIX = (
    """
WITH one AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
"""
    + ",\n".join(
        f"         SUM({c}) AS s_{c}, SUM({c} * {c}) AS ss_{c}" for c in _CORR_COLS
    )
    + ",\n"
    + ",\n".join(
        f"         SUM({a} * {b}) AS sp_{a}_{b}"
        for i, a in enumerate(_CORR_COLS)
        for b in _CORR_COLS[i + 1 :]
    )
    + """
  FROM lineitem
)
SELECT * FROM ("""
    + "\n  UNION ALL".join(
        _corr_pair_sql(a, b)
        for i, a in enumerate(_CORR_COLS)
        for b in _CORR_COLS[i + 1 :]
    )
    + """
) ORDER BY col_a, col_b
"""
)


# --------------------------------------------------------------------------
# Governance + stream-health audits
# --------------------------------------------------------------------------

_KANON_K = 5


def q_kanon_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the customer quasi-identifier tuple
    (nation, market segment, coarsened balance band): how many
    quasi-identifier groups exist, how many fall below k=5, and how many
    ROWS sit in those re-identifiable groups — the release gate a
    governance pipeline runs before sharing a "de-identified" extract.
    One groupBy on the quasi-id tuple, then a 1-row rollup; the banding
    (floor(bal/1000)) is the generalization knob — rerun with coarser
    bands until n_rows_at_risk is acceptable."""
    cust = _t(spark, sf_dir, "customer")
    qid = cust.select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_band"),
    )
    groups = qid.groupBy("c_nationkey", "c_mktsegment", "bal_band").agg(
        F.count(F.lit(1)).alias("sz")
    )
    return groups.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.min("sz").cast("long").alias("k_min"),
        F.sum(F.when(F.col("sz") < _KANON_K, 1).otherwise(0))
        .cast("long")
        .alias("n_violating_groups"),
        F.sum(F.when(F.col("sz") < _KANON_K, F.col("sz")).otherwise(0))
        .cast("long")
        .alias("n_rows_at_risk"),
    )


SQL_KANON_AUDIT = f"""
WITH groups AS (
  SELECT c_nationkey, c_mktsegment, CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
         COUNT(*) AS sz
  FROM customer GROUP BY 1, 2, 3
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(MIN(sz) AS BIGINT) AS k_min,
       CAST(SUM(CASE WHEN sz < {_KANON_K} THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_groups,
       CAST(SUM(CASE WHEN sz < {_KANON_K} THEN sz ELSE 0 END) AS BIGINT) AS n_rows_at_risk
FROM groups
"""


def q_events_lateness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-order-arrival audit — THE input to choosing a streaming
    watermark: an event is late when its event time is behind the running
    max event time among everything that ARRIVED before it; the per-type
    report gives the late fraction and the max/p95 lateness in seconds,
    i.e. the watermark delay that would have admitted 100% / 95% of this
    history. The generator's stream is perfectly ordered (event_id order
    == time order, all-zero lateness), so arrival is simulated with a
    DETERMINISTIC md5-derived network jitter of 0–300 s per event — the
    md5 hash family every sketch in this repo uses, so both engines see
    the identical arrival permutation and the audit hash-checks.

    The running max is one global window over arrival order (the same
    single-task-at-gate-scale / two-pass-parallel-prefix-at-stream-scale
    tradeoff documented on sessions_max_concurrency); p95 is the exact
    interpolating quantile (Spark ``percentile`` == DuckDB
    ``quantile_cont``, the repo convention)."""
    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    jitter = (
        F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
        % 300_000_000
    )
    arr = (us + jitter).alias("_arr")
    arrival = Window.orderBy(F.col("_arr"), F.col("event_id")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    flagged = ev.select("event_type", "event_id", us.alias("_t"), arr).select(
        "event_type",
        (F.max("_t").over(arrival) - F.col("_t")).alias("_late_us"),
    )
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(F.col("_late_us") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_late"),
            F.round(
                F.sum(F.when(F.col("_late_us") > 0, 1).otherwise(0))
                / F.count(F.lit(1)),
                6,
            ).alias("late_frac"),
            (F.max("_late_us") / F.lit(1_000_000.0)).alias("max_late_s"),
            (F.expr("percentile(_late_us, 0.95)") / F.lit(1_000_000.0)).alias(
                "p95_late_s"
            ),
        )
        .select(
            "event_type",
            "n_events",
            "n_late",
            "late_frac",
            F.round("max_late_s", 6).alias("max_late_s"),
            F.round("p95_late_s", 6).alias("p95_late_s"),
        )
        .orderBy("event_type")
    )


SQL_EVENTS_LATENESS_AUDIT = """
WITH arr AS (
  SELECT event_type, event_id, epoch_us(ts) AS t,
         epoch_us(ts)
           + CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT) % 300000000
           AS arr_us
  FROM events
),
flagged AS (
  SELECT event_type,
         MAX(t) OVER (ORDER BY arr_us, event_id ROWS UNBOUNDED PRECEDING) - t AS late_us
  FROM arr
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
       round(SUM(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE), 6) AS late_frac,
       round(MAX(late_us) / 1000000.0, 6) AS max_late_s,
       round(quantile_cont(late_us, 0.95) / 1000000.0, 6) AS p95_late_s
FROM flagged
GROUP BY event_type
ORDER BY event_type
"""


# --------------------------------------------------------------------------
# Temporal regularization + two-sample inference
# --------------------------------------------------------------------------


def q_events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense per-(user, day) calendar grid with LOCF fill
    (operators/timeseries.py:gap_fill_daily): silent-absence days become
    explicit rows (n_events 0, day_value NULL ≠ observed zero) and
    filled_value carries the last observed daily sum forward — the
    regularization step before any per-user forecasting/feature join."""
    ev = _t(spark, sf_dir, "events")
    from scala_etl_test_spark.operators.timeseries import gap_fill_daily

    return gap_fill_daily(ev, "ts", "user_id", "value").orderBy("user_id", "day")


SQL_EVENTS_GAPFILL = """
WITH obs AS (
  SELECT user_id AS key, CAST(ts AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         SUM(CAST(value AS DECIMAL(12,2))) AS day_value
  FROM events GROUP BY 1, 2
),
bounds AS (SELECT MIN(CAST(ts AS DATE)) AS d0, MAX(CAST(ts AS DATE)) AS d1 FROM events),
days AS (
  SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day FROM bounds
),
keys AS (SELECT DISTINCT user_id AS key FROM events),
grid AS (SELECT k.key, d.day FROM keys k CROSS JOIN days d),
j AS (
  SELECT g.key, g.day, o.n_events, o.day_value
  FROM grid g LEFT JOIN obs o ON g.key = o.key AND g.day = o.day
)
SELECT key AS user_id,
       CAST(day AS VARCHAR) AS day,
       CAST(COALESCE(n_events, 0) AS BIGINT) AS n_events,
       round(CAST(day_value AS DOUBLE), 2) AS day_value,
       round(CAST(last_value(day_value IGNORE NULLS) OVER (
                PARTITION BY key ORDER BY day ROWS UNBOUNDED PRECEDING
             ) AS DOUBLE), 2) AS filled_value
FROM j
ORDER BY user_id, day
"""


def q_events_ab_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t between the early and late halves of the
    stream, per event type — the significance companion to the PSI drift
    gate (events_drift_psi flags SHAPE movement; this tests whether the
    MEAN value moved more than sampling noise explains). One scan: the
    midpoint comes from a broadcast min/max row, then a single grouped
    aggregate computes both halves' (n, mean, s²) side by side; t and the
    Welch–Satterthwaite df are row-local arithmetic on the 5-row result."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    t_us = F.unix_micros("ts")
    bounds = ev.agg(F.min(t_us).alias("_t0"), F.max(t_us).alias("_t1"))
    tagged = ev.join(F.broadcast(bounds)).select(
        "event_type",
        "value",
        (t_us * 2 < F.col("_t0") + F.col("_t1")).alias("early"),
    )
    half = lambda flag, f, c: f(F.when(F.col("early") == flag, F.col(c)))  # noqa: E731
    g = tagged.groupBy("event_type").agg(
        half(True, F.count, "value").alias("n1"),
        half(True, F.avg, "value").alias("m1"),
        half(True, F.var_samp, "value").alias("s1"),
        half(False, F.count, "value").alias("n2"),
        half(False, F.avg, "value").alias("m2"),
        half(False, F.var_samp, "value").alias("s2"),
    )
    se2 = F.col("s1") / F.col("n1") + F.col("s2") / F.col("n2")
    t_stat = (F.col("m1") - F.col("m2")) / F.sqrt(se2)
    df_ws = (se2 * se2) / (
        (F.col("s1") / F.col("n1")) * (F.col("s1") / F.col("n1")) / (F.col("n1") - 1)
        + (F.col("s2") / F.col("n2")) * (F.col("s2") / F.col("n2")) / (F.col("n2") - 1)
    )
    return g.select(
        "event_type",
        F.col("n1").cast("long").alias("n_early"),
        F.col("n2").cast("long").alias("n_late"),
        F.round("m1", 6).alias("mean_early"),
        F.round("m2", 6).alias("mean_late"),
        F.round(t_stat, 6).alias("t_stat"),
        F.round(df_ws, 2).alias("welch_df"),
    ).orderBy("event_type")


SQL_EVENTS_AB_WELCH = """
WITH ev AS (SELECT * FROM events WHERE value IS NOT NULL),
bounds AS (SELECT MIN(epoch_us(ts)) AS t0, MAX(epoch_us(ts)) AS t1 FROM ev),
tagged AS (
  SELECT event_type, value, (epoch_us(ts) * 2 < b.t0 + b.t1) AS early
  FROM ev CROSS JOIN bounds b
),
g AS (
  SELECT event_type,
         COUNT(CASE WHEN early THEN value END) AS n1,
         AVG(CASE WHEN early THEN value END) AS m1,
         var_samp(CASE WHEN early THEN value END) AS s1,
         COUNT(CASE WHEN NOT early THEN value END) AS n2,
         AVG(CASE WHEN NOT early THEN value END) AS m2,
         var_samp(CASE WHEN NOT early THEN value END) AS s2
  FROM tagged GROUP BY event_type
)
SELECT event_type,
       CAST(n1 AS BIGINT) AS n_early,
       CAST(n2 AS BIGINT) AS n_late,
       round(m1, 6) AS mean_early,
       round(m2, 6) AS mean_late,
       round((m1 - m2) / sqrt(s1 / n1 + s2 / n2), 6) AS t_stat,
       round(((s1 / n1 + s2 / n2) * (s1 / n1 + s2 / n2))
             / ((s1 / n1) * (s1 / n1) / (n1 - 1) + (s2 / n2) * (s2 / n2) / (n2 - 1)),
             2) AS welch_df
FROM g
ORDER BY event_type
"""


def q_events_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov D between the early and late
    halves of the stream, per event type — the DISTRIBUTION-FREE member of
    the drift family (PSI needs binning, Welch assumes a mean shift
    matters; KS catches any shape change with no parameters at all).

    Exactness under ties: both empirical CDFs are evaluated with a RANGE
    window frame (all rows equal to the current value are inside the
    frame), which is the right-continuous ECDF — the textbook D over the
    pooled jump points, not a row-frame approximation.

    Plan: one scan, one broadcast min/max midpoint row, ONE shuffle (the
    per-type window), and the final max reuses the window's partitioning
    (no second exchange). Values within one type order through a single
    task at gate scale — same note as the other per-type global windows:
    at stream scale this becomes the standard two-pass parallel prefix.
    The 5%-level decision is in-band: D > 1.358·√((n1+n2)/(n1·n2))."""
    from scala_etl_test_spark.operators.drift import ks_two_sample

    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    t_us = F.unix_micros("ts")
    bounds = ev.agg(F.min(t_us).alias("_t0"), F.max(t_us).alias("_t1"))
    tagged = ev.join(F.broadcast(bounds)).select(
        "event_type",
        "value",
        (t_us * 2 < F.col("_t0") + F.col("_t1")).alias("early"),
    )
    ks = ks_two_sample(tagged, "event_type", "value", "early")
    return ks.select(
        "event_type",
        F.col("n_true").alias("n_early"),
        F.col("n_false").alias("n_late"),
        "ks_stat",
        "ks_crit_05",
        "drifted",
    ).orderBy("event_type")


SQL_EVENTS_KS_DRIFT = """
WITH ev AS (SELECT * FROM events WHERE value IS NOT NULL),
bounds AS (SELECT MIN(epoch_us(ts)) AS t0, MAX(epoch_us(ts)) AS t1 FROM ev),
tagged AS (
  SELECT event_type, value, (epoch_us(ts) * 2 < b.t0 + b.t1) AS early
  FROM ev CROSS JOIN bounds b
),
stepped AS (
  SELECT event_type,
         SUM(CASE WHEN early THEN 1 ELSE 0 END) OVER (
           PARTITION BY event_type ORDER BY value
           RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c1,
         SUM(CASE WHEN NOT early THEN 1 ELSE 0 END) OVER (
           PARTITION BY event_type ORDER BY value
           RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c2,
         SUM(CASE WHEN early THEN 1 ELSE 0 END) OVER (PARTITION BY event_type) AS n1,
         SUM(CASE WHEN NOT early THEN 1 ELSE 0 END) OVER (PARTITION BY event_type) AS n2
  FROM tagged
),
g AS (
  SELECT event_type, MAX(n1) AS n1, MAX(n2) AS n2,
         MAX(CASE WHEN n1 > 0 AND n2 > 0
                  THEN abs(CAST(c1 AS DOUBLE) / n1 - CAST(c2 AS DOUBLE) / n2)
             END) AS d
  FROM stepped GROUP BY event_type
)
SELECT event_type,
       CAST(n1 AS BIGINT) AS n_early,
       CAST(n2 AS BIGINT) AS n_late,
       round(CASE WHEN n1 > 0 AND n2 > 0 THEN d ELSE 1.0 END, 6) AS ks_stat,
       round(CASE WHEN n1 > 0 AND n2 > 0
                  THEN 1.358 * sqrt(CAST(n1 + n2 AS DOUBLE) / CAST(n1 * n2 AS DOUBLE))
             END, 6) AS ks_crit_05,
       CASE WHEN n1 > 0 AND n2 > 0
            THEN d > 1.358 * sqrt(CAST(n1 + n2 AS DOUBLE) / CAST(n1 * n2 AS DOUBLE))
            ELSE TRUE END AS drifted
FROM g
ORDER BY event_type
"""


# --------------------------------------------------------------------------
# Registry
# --------------------------------------------------------------------------

from scala_etl_test_spark.plans.queries_data import DATA_ORACLE_SQL, DATA_QUERIES
from scala_etl_test_spark.plans.queries_tpch2 import TPCH2_ORACLE_SQL, TPCH2_QUERIES


# --------------------------------------------------------------------------
# Corpus release report (capstone: ship/no-ship governance dashboard)
# --------------------------------------------------------------------------

from scala_etl_test_spark.plans.queries_data import (  # noqa: E402
    REL_DUP_RATE_MAX as _REL_DUP_RATE_MAX,
    REL_JACCARD_MAX as _REL_JACCARD_MAX,
    REL_OOV_MAX as _REL_OOV_MAX,
    REL_RETENTION_MIN as _REL_RETENTION_MIN,
    document_release_gates,
)


def q_corpus_release_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ship/no-ship release dashboard: the five corpus-governance gates
    reduced to one row each — (check, value, passed) — in a single gated
    result, the artifact a curation run logs (and a release pipeline
    blocks on) per snapshot. The four document gates come from the ONE
    shared builder (queries_data.document_release_gates — also behind
    `corpus_cli --release-report`); this query adds the events-based KS
    gate. Every input is an existing oracle-checked query, so the report
    is itself an oracle-checkable fact, same evaluation-as-artifact
    pattern as dedup_method_report.

    Scale: each branch is an aggregate of an already-scale-shaped query;
    the union is five 1-row plans."""
    docs = _t(spark, sf_dir, "documents")
    ks = (
        q_events_ks_drift(spark, sf_dir)
        .agg(F.sum(F.col("drifted").cast("int")).cast("double").alias("value"))
        .select(
            F.lit("ks_drifted_types").alias("check"),
            F.round("value", 6).alias("value"),
            (F.col("value") == 0).alias("passed"),
        )
    )
    return document_release_gates(docs).unionByName(ks).orderBy("check")


SQL_CORPUS_RELEASE_REPORT = f"""
WITH dup AS (
  SELECT 'exact_dup_rate' AS "check",
         round(SUM(CASE WHEN is_duplicate THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE), 6) AS value,
         SUM(CASE WHEN is_duplicate THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE) < {_REL_DUP_RATE_MAX} AS passed
  FROM ({{dedup_exact}})
),
ret AS (
  SELECT 'quality_retention_at_075' AS "check", doc_share AS value,
         doc_share >= {_REL_RETENTION_MIN} AS passed
  FROM ({{quality_filter_sweep}}) WHERE threshold = 0.75
),
oov AS (
  SELECT 'oov_token_rate_max' AS "check", round(MAX(oov_token_rate), 6) AS value,
         MAX(oov_token_rate) < {_REL_OOV_MAX} AS passed
  FROM ({{oov_rate}})
),
ks AS (
  SELECT 'ks_drifted_types' AS "check",
         round(CAST(SUM(CASE WHEN drifted THEN 1 ELSE 0 END) AS DOUBLE), 6) AS value,
         SUM(CASE WHEN drifted THEN 1 ELSE 0 END) = 0 AS passed
  FROM ({{events_ks_drift}})
),
leak AS (
  SELECT 'cross_source_jaccard_max' AS "check", round(MAX(jaccard), 6) AS value,
         MAX(jaccard) < {_REL_JACCARD_MAX} AS passed
  FROM ({{source_overlap_matrix}})
)
SELECT * FROM dup UNION ALL SELECT * FROM ret UNION ALL SELECT * FROM oov
UNION ALL SELECT * FROM ks UNION ALL SELECT * FROM leak
ORDER BY "check"
"""
SQL_CORPUS_RELEASE_REPORT = (
    SQL_CORPUS_RELEASE_REPORT
    .replace("{dedup_exact}", DATA_ORACLE_SQL["dedup_exact"])
    .replace("{quality_filter_sweep}", DATA_ORACLE_SQL["quality_filter_sweep"])
    .replace("{oov_rate}", DATA_ORACLE_SQL["oov_rate"])
    .replace("{events_ks_drift}", SQL_EVENTS_KS_DRIFT)
    .replace("{source_overlap_matrix}", DATA_ORACLE_SQL["source_overlap_matrix"])
)

_BASE_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "scan_filter_project": q_scan_filter_project,
    "union_positional": q_union_positional,
    "split_explode": q_split_explode,
    "broadcast_left_join": q_broadcast_left_join,
    "inner_join_using": q_inner_join_using,
    "window_sum": q_window_sum,
    "conditional_window_sum": q_conditional_window_sum,
    "dedup_first_order": q_dedup_first_order,
    "groupby_count": q_groupby_count,
    "quantiles_per_group": q_quantiles_per_group,
    "category_rules": q_category_rules,
    "segmentation_rules": q_segmentation_rules,
    "validate_normalize": q_validate_normalize,
    "topk_customers": q_topk_customers,
    "tpch_q1": q_tpch_q1,
    "tpch_q3": q_tpch_q3,
    "tpch_q5": q_tpch_q5,
    "events_hourly_rollup": q_events_hourly_rollup,
    "events_hourly_anomaly": q_events_hourly_anomaly,
    "expect_orders": q_expect_orders,
    "events_sessionize": q_events_sessionize,
    "tpch_q6": q_tpch_q6,
    "semi_join_exists": q_semi_join_exists,
    "anti_join_no_orders": q_anti_join_no_orders,
    "topk_docs_per_source": q_topk_docs_per_source,
    "skew_salted_join": q_skew_salted_join,
    "skew_distinct_count": q_skew_distinct_count,
    "asof_last_purchase": q_asof_last_purchase,
    "tpch_q14": q_tpch_q14,
    "tpch_q10": q_tpch_q10,
    "tpch_q18": q_tpch_q18,
    "events_cube": q_events_cube,
    "events_rollup": q_events_rollup,
    "events_pivot": q_events_pivot,
    "approx_distinct_users": q_approx_distinct_users,
    "approx_quantiles_events": q_approx_quantiles_events,
    "heavy_hitters_cms": q_heavy_hitters_cms,
    "quantile_sketch_merge": q_quantile_sketch_merge,
    "corpus_release_report": q_corpus_release_report,
    "events_drift_psi": q_events_drift_psi,
    "sessions_max_concurrency": q_sessions_max_concurrency,
    "events_trend": q_events_trend,
    "copurchase_pairs": q_copurchase_pairs,
    "events_sliding_window": q_events_sliding_window,
    "scd2_customer_status": q_scd2_customer_status,
    "scd2_asof_enrich": q_scd2_asof_enrich,
    "events_trimmed_stats": q_events_trimmed_stats,
    "event_transitions": q_event_transitions,
    "session_attribution": q_session_attribution,
    "events_gapfill": q_events_gapfill,
    "events_ab_welch": q_events_ab_welch,
    "events_ks_drift": q_events_ks_drift,
    "kanon_audit": q_kanon_audit,
    "events_lateness_audit": q_events_lateness_audit,
    "events_changepoint": q_events_changepoint,
    "lineitem_corr_matrix": q_lineitem_corr_matrix,
    "orders_checksum": q_orders_checksum,
    "customer_balance_ntiles": q_customer_balance_ntiles,
    "events_ewma": q_events_ewma,
    "approx_distinct_sketch_merge": q_approx_distinct_sketch_merge,
    "approx_overlap_sketch": q_approx_overlap_sketch,
    "training_set_pit": q_training_set_pit,
    "funnel_latency": q_funnel_latency,
    "event_path_trigrams": q_event_path_trigrams,
    "fk_integrity_audit": q_fk_integrity_audit,
    "pseudonymize_referential": q_pseudonymize_referential,
    "join_size_profile": q_join_size_profile,
    "prorate_order_totals": q_prorate_order_totals,
    "full_outer_reconcile": q_full_outer_reconcile,
    "json_props_extract": q_json_props_extract,
    "window_moving_avg": q_window_moving_avg,
    "set_ops_customers": q_set_ops_customers,
    "range_join_session_errors": q_range_join_session_errors,
    "events_funnel": q_events_funnel,
    "events_retention": q_events_retention,
    "events_user_gaps": q_events_user_gaps,
    "customer_revenue_quartiles": q_customer_revenue_quartiles,
    "pareto_revenue": q_pareto_revenue,
    "merge_upsert": q_merge_upsert,
    "grouping_sets_revenue": q_grouping_sets_revenue,
    "lineitem_unpivot_measures": q_lineitem_unpivot_measures,
    **TPCH2_QUERIES,
    **DATA_QUERIES,
}

_BASE_ORACLE_SQL: dict[str, str] = {
    "scan_filter_project": SQL_SCAN_FILTER_PROJECT,
    "union_positional": SQL_UNION_POSITIONAL,
    "split_explode": SQL_SPLIT_EXPLODE,
    "broadcast_left_join": SQL_BROADCAST_LEFT_JOIN,
    "inner_join_using": SQL_INNER_JOIN_USING,
    "window_sum": SQL_WINDOW_SUM,
    "conditional_window_sum": SQL_CONDITIONAL_WINDOW_SUM,
    "dedup_first_order": SQL_DEDUP_FIRST_ORDER,
    "groupby_count": SQL_GROUPBY_COUNT,
    "quantiles_per_group": SQL_QUANTILES_PER_GROUP,
    "category_rules": SQL_CATEGORY_RULES,
    "segmentation_rules": SQL_SEGMENTATION_RULES,
    "validate_normalize": SQL_VALIDATE_NORMALIZE,
    "topk_customers": SQL_TOPK_CUSTOMERS,
    "tpch_q1": SQL_TPCH_Q1,
    "tpch_q3": SQL_TPCH_Q3,
    "tpch_q5": SQL_TPCH_Q5,
    "events_hourly_rollup": SQL_EVENTS_HOURLY_ROLLUP,
    "events_hourly_anomaly": SQL_EVENTS_HOURLY_ANOMALY,
    "expect_orders": SQL_EXPECT_ORDERS,
    "events_sessionize": SQL_EVENTS_SESSIONIZE,
    "tpch_q6": SQL_TPCH_Q6,
    "semi_join_exists": SQL_SEMI_JOIN_EXISTS,
    "anti_join_no_orders": SQL_ANTI_JOIN_NO_ORDERS,
    "topk_docs_per_source": SQL_TOPK_DOCS_PER_SOURCE,
    "skew_salted_join": SQL_SKEW_SALTED_JOIN,
    "skew_distinct_count": SQL_SKEW_DISTINCT_COUNT,
    "asof_last_purchase": SQL_ASOF_LAST_PURCHASE,
    "tpch_q14": SQL_TPCH_Q14,
    "tpch_q10": SQL_TPCH_Q10,
    "tpch_q18": SQL_TPCH_Q18,
    "events_cube": SQL_EVENTS_CUBE,
    "events_rollup": SQL_EVENTS_ROLLUP,
    "events_pivot": SQL_EVENTS_PIVOT,
    "approx_distinct_users": SQL_APPROX_DISTINCT_USERS,
    "approx_quantiles_events": SQL_APPROX_QUANTILES_EVENTS,
    "heavy_hitters_cms": SQL_HEAVY_HITTERS_CMS,
    "quantile_sketch_merge": SQL_QUANTILE_SKETCH_MERGE,
    "corpus_release_report": SQL_CORPUS_RELEASE_REPORT,
    "events_drift_psi": SQL_EVENTS_DRIFT_PSI,
    "sessions_max_concurrency": SQL_SESSIONS_MAX_CONCURRENCY,
    "events_trend": SQL_EVENTS_TREND,
    "copurchase_pairs": SQL_COPURCHASE_PAIRS,
    "events_sliding_window": SQL_EVENTS_SLIDING_WINDOW,
    "scd2_customer_status": SQL_SCD2_CUSTOMER_STATUS,
    "scd2_asof_enrich": SQL_SCD2_ASOF_ENRICH,
    "events_trimmed_stats": SQL_EVENTS_TRIMMED_STATS,
    "full_outer_reconcile": SQL_FULL_OUTER_RECONCILE,
    "json_props_extract": SQL_JSON_PROPS_EXTRACT,
    "window_moving_avg": SQL_WINDOW_MOVING_AVG,
    "set_ops_customers": SQL_SET_OPS_CUSTOMERS,
    "range_join_session_errors": SQL_RANGE_JOIN_SESSION_ERRORS,
    "events_funnel": SQL_EVENTS_FUNNEL,
    "events_retention": SQL_EVENTS_RETENTION,
    "events_user_gaps": SQL_EVENTS_USER_GAPS,
    "customer_revenue_quartiles": SQL_CUSTOMER_REVENUE_QUARTILES,
    "pareto_revenue": SQL_PARETO_REVENUE,
    "event_transitions": SQL_EVENT_TRANSITIONS,
    "session_attribution": SQL_SESSION_ATTRIBUTION,
    "events_gapfill": SQL_EVENTS_GAPFILL,
    "events_ab_welch": SQL_EVENTS_AB_WELCH,
    "events_ks_drift": SQL_EVENTS_KS_DRIFT,
    "kanon_audit": SQL_KANON_AUDIT,
    "events_lateness_audit": SQL_EVENTS_LATENESS_AUDIT,
    "events_changepoint": SQL_EVENTS_CHANGEPOINT,
    "lineitem_corr_matrix": SQL_LINEITEM_CORR_MATRIX,
    "orders_checksum": SQL_ORDERS_CHECKSUM,
    "customer_balance_ntiles": SQL_CUSTOMER_BALANCE_NTILES,
    "events_ewma": SQL_EVENTS_EWMA,
    "approx_distinct_sketch_merge": SQL_APPROX_DISTINCT_SKETCH_MERGE,
    "approx_overlap_sketch": SQL_APPROX_OVERLAP_SKETCH,
    "training_set_pit": SQL_TRAINING_SET_PIT,
    "funnel_latency": SQL_FUNNEL_LATENCY,
    "event_path_trigrams": SQL_EVENT_PATH_TRIGRAMS,
    "fk_integrity_audit": SQL_FK_INTEGRITY_AUDIT,
    "pseudonymize_referential": SQL_PSEUDONYMIZE_REFERENTIAL,
    "join_size_profile": SQL_JOIN_SIZE_PROFILE,
    "prorate_order_totals": SQL_PRORATE_ORDER_TOTALS,
    "merge_upsert": SQL_MERGE_UPSERT,
    "grouping_sets_revenue": SQL_GROUPING_SETS_REVENUE,
    "lineitem_unpivot_measures": SQL_LINEITEM_UNPIVOT_MEASURES,
    **TPCH2_ORACLE_SQL,
    **DATA_ORACLE_SQL,
}

# Driver-gate ordering: the driver's correctness gate covers roughly the
# first ~50 registry entries in insertion order per round, so this list
# puts first the queries that most need a fresh driver row: (1) every
# query whose implementation changed in the latest round (r14), then
# (2) the stalest remaining tier, staleness being the latest round with a
# green row per query name in CORRECTNESS_r*.json. Done-bar for the r14
# head: every r14-changed query has a post-change driver row, and no green
# row is older than two rounds. The tier comments below name the changes
# and the staleness each tier covers.
_GATE_PRIORITY: list[str] = [
    # (1) code changed THIS round (r14) — every optimization site needs a
    # fresh driver correctness row on the optimized code: the
    # cross_source_overlap single-lineage fold (overlap matrix + release
    # report), the item-CF zero-join rewrite, the PPJoin verification
    # pin + per_doc persist (prefix_jaccard and its two consumers), the
    # BFS erasure closure (forget trio), the corpus_clean metrics spread,
    # the lsh collect_set guard (minhash pairs + clusters +
    # split_leakage), and the PQ int64 fast path (whole PQ/ANN family).
    "source_overlap_matrix",
    "corpus_release_report",
    "item_cf_neighbors",
    "dedup_prefix_jaccard",
    "lsh_recall_audit",
    "dedup_method_report",
    "forget_documents",
    "forget_from_ivf",
    "erasure_audit",
    "corpus_clean",
    "corpus_prepare",
    "dedup_minhash_pairs",
    "dedup_clusters",
    "split_leakage_audit",
    "pq_codes",
    "ann_pq_topk",
    "ann_ivfpq_topk",
    "ann_ivfpq_residual_topk",
    "ann_recall_report",
    "pq_rotation_recall",
    # (2) stalest remaining tier (VERDICT r13 item 10): the relational +
    # events families last gated in r10 or earlier, registry order — no
    # green row ages past two rounds without re-validation. The rest of
    # the r10-stale tier (tpch_q13..q22 tail, simhash/winnow families,
    # entity_resolution, release_diff) queues next; all are doc-/events-
    # only or TPC-H-only paths untouched since their last green row and
    # re-checked locally by the edge-corpus parity sweeps on every pytest
    # run.
    "scan_filter_project",
    "union_positional",
    "broadcast_left_join",
    "asof_last_purchase",
    "tpch_q14",
    "tpch_q10",
    "tpch_q18",
    "events_cube",
    "events_rollup",
    "events_pivot",
    "json_props_extract",
    "window_moving_avg",
    "set_ops_customers",
    "range_join_session_errors",
    "events_funnel",
    "events_retention",
    "events_user_gaps",
    "customer_revenue_quartiles",
    "merge_upsert",
    "grouping_sets_revenue",
    "lineitem_unpivot_measures",
    "tpch_q2",
    "tpch_q9",
    "tpch_q11",
    "tpch_q20",
    "tpch_q21",
    "tpch_q4",
    "tpch_q7",
    "tpch_q8",
    "tpch_q12",
]

assert set(_GATE_PRIORITY) <= set(_BASE_QUERIES), sorted(set(_GATE_PRIORITY) - set(_BASE_QUERIES))

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    **{name: _BASE_QUERIES[name] for name in _GATE_PRIORITY},
    **{name: fn for name, fn in _BASE_QUERIES.items() if name not in set(_GATE_PRIORITY)},
}

ORACLE_SQL: dict[str, str] = {
    **{name: _BASE_ORACLE_SQL[name] for name in _GATE_PRIORITY if name in _BASE_ORACLE_SQL},
    **{name: sql for name, sql in _BASE_ORACLE_SQL.items() if name not in set(_GATE_PRIORITY)},
}

assert set(QUERIES) == set(_BASE_QUERIES)
assert set(ORACLE_SQL) == set(_BASE_ORACLE_SQL)
