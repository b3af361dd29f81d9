"""JDBC source with order_id-watermark pushdown.

Reference: ``getDataFromSQLServer`` (ApplaudoETL.scala:110-127) — the
watermark predicate is embedded in a subquery passed as the JDBC ``dbtable``
option, so the RDBMS evaluates it (true pushdown). A post-hoc
``.filter(CAST(order_id AS int) > n)`` would NOT push through the JDBC source
(the cast blocks pushdown), so the subquery formulation is load-bearing and
kept. The JDBC driver delivers every column as a string; a schema-coercion
fold casts field-by-field to the canonical schema (``:124-126``) — here one
``select`` (see :func:`scala_etl_test_spark.schemas.cast_to_schema`).

Scale note: for a 100 TB RDBMS extract you'd add ``partitionColumn`` /
``lowerBound`` / ``upperBound`` / ``numPartitions`` so the scan parallelizes
across executors; exposed as optional kwargs (the reference reads
single-stream).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from scala_etl_test_spark.schemas import PRODUCT_SCHEMA, cast_to_schema


def jdbc_watermark_query(table: str, order_id: int = -1, watermark_col: str = "order_id") -> str:
    """The pushdown subquery (ApplaudoETL.scala:112-113).

    ``order_id=-1`` returns the full table; new records are consumed
    incrementally because ``order_id`` is unique and monotonically growing.
    """
    return f"(select * from {table} where CAST({watermark_col} AS int) > {order_id}) as t"


def read_orders_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    order_id: int = -1,
    driver: str | None = None,
    user: str | None = None,
    password: str | None = None,
    schema: T.StructType = PRODUCT_SCHEMA,
    partition_options: dict[str, str] | None = None,
) -> DataFrame:
    """Watermarked JDBC scan + schema-coercion to the canonical schema."""
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", jdbc_watermark_query(table, order_id))
    )
    if driver:
        reader = reader.option("driver", driver)
    if user is not None:
        reader = reader.option("user", user)
    if password is not None:
        reader = reader.option("password", password)
    for k, v in (partition_options or {}).items():
        reader = reader.option(k, v)
    return cast_to_schema(reader.load(), schema)
