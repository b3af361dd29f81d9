"""Source/sink library (SURVEY.md §2.1 S1-S8).

Each cloud-bound source of the reference (Azure Blob CSV, SQL Server JDBC,
REST API) is rebuilt behind the same watermark contracts but against any
Hadoop-visible filesystem / any JDBC URL / any HTTP or file URL, so the
driver's local testdata substitutes cleanly for cloud sources.
"""

from scala_etl_test_spark.sources.csv_source import list_files_above_watermark, read_orders_csv
from scala_etl_test_spark.sources.jdbc_source import jdbc_watermark_query, read_orders_jdbc
from scala_etl_test_spark.sources.api_source import fetch_product_details, read_product_details_api
from scala_etl_test_spark.sources.parquet_source import read_table
from scala_etl_test_spark.sources.sinks import store_parquet, show_console

__all__ = [
    "list_files_above_watermark",
    "read_orders_csv",
    "jdbc_watermark_query",
    "read_orders_jdbc",
    "fetch_product_details",
    "read_product_details_api",
    "read_table",
    "store_parquet",
    "show_console",
]
