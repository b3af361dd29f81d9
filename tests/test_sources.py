from __future__ import annotations

import json

from pyspark.sql import functions as F

from scala_etl_test_spark.schemas import PRODUCT_SCHEMA, cast_to_schema
from scala_etl_test_spark.sources.api_source import read_product_details_api
from scala_etl_test_spark.sources.csv_source import list_files_above_watermark, read_orders_csv
from scala_etl_test_spark.sources.jdbc_source import jdbc_watermark_query

from tests.fixtures import orders_rows, product_details_rows, write_csv_files


def test_file_watermark_listing(spark, tmp_path):
    write_csv_files(tmp_path, n_files=5)
    all_files = list_files_above_watermark(spark, str(tmp_path), -1)
    assert [f.split("/")[-1] for f in all_files] == ["00.csv", "01.csv", "02.csv", "03.csv", "04.csv"]
    pruned = list_files_above_watermark(spark, str(tmp_path), 2)
    assert [f.split("/")[-1] for f in pruned] == ["03.csv", "04.csv"]


def test_csv_scan_dropmalformed_and_watermark(spark, tmp_path):
    rows = write_csv_files(tmp_path, n_files=5, malformed_in_last=2)
    full = read_orders_csv(spark, str(tmp_path))
    # malformed rows dropped at scan; all good rows survive. The filter on a
    # parsed column forces the parser to run (bare count() short-circuits
    # parsing under CSV column pruning — see csv_source.py docstring).
    assert full.filter(F.col("order_id").isNotNull()).count() == len(rows)
    assert full.schema == PRODUCT_SCHEMA
    # watermark=3 keeps only 04.csv's rows (round-robin: indices 4, 9, ...)
    tail = read_orders_csv(spark, str(tmp_path), file_number=3)
    expected = {r[0] for i, r in enumerate(rows) if i % 5 == 4}
    assert {r["order_id"] for r in tail.collect()} == expected
    # empty result for watermark beyond all files
    assert read_orders_csv(spark, str(tmp_path), file_number=99).count() == 0


def test_jdbc_subquery_form():
    q = jdbc_watermark_query("dbo.order_details", 146023)
    assert q == "(select * from dbo.order_details where CAST(order_id AS int) > 146023) as t"
    assert jdbc_watermark_query("t").endswith("> -1) as t")


def test_all_string_coercion(spark):
    rows = [tuple(str(v) for v in r) for r in orders_rows()]
    df = spark.createDataFrame(rows, PRODUCT_SCHEMA.fieldNames())
    out = cast_to_schema(df, PRODUCT_SCHEMA)
    assert out.schema == PRODUCT_SCHEMA
    assert out.count() == len(rows)
    assert out.filter(F.col("order_id").isNull()).count() == 0


def test_api_source_file_url(spark, tmp_path):
    items = [
        {"product_name": name, "aisle": aisle, "department": dep}
        for name, aisle, dep in product_details_rows()
    ]
    payload = {"count": len(items), "results": {"items": items}}
    p = tmp_path / "api.json"
    p.write_text(json.dumps(payload))
    df = read_product_details_api(spark, f"file://{p}")
    assert df.count() == len(items)
    assert df.columns == ["product_name", "aisle", "department"]


def test_parquet_schema_evolution_merge_and_pushdown(spark, tmp_path):
    """Long-lived table directories accumulate file generations with added
    columns; mergeSchema must unify them (old files read NULL for new
    columns) and filters on the NEW column must still push to the scan."""
    from pyspark.sql import functions as F

    p = str(tmp_path / "evolve")
    spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string").write.mode(
        "append"
    ).parquet(p)
    spark.createDataFrame(
        [(3, "c", 0.5)], "id long, v string, score double"
    ).write.mode("append").parquet(p)

    df = spark.read.option("mergeSchema", "true").parquet(p)
    assert set(df.columns) == {"id", "v", "score"}
    rows = {r["id"]: r["score"] for r in df.collect()}
    assert rows == {1: None, 2: None, 3: 0.5}
    # the evolved column is a first-class citizen of the scan: its filter
    # reaches PushedFilters, not a post-scan Filter-only plan
    plan = df.filter(F.col("score") > 0.1)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(score), GreaterThan(score,0.1)]" in plan, plan


def test_format_matrix_round_trip(spark, tmp_path):
    """write_table -> read_files round-trips the same rows through every
    file format the sink surface offers; ORC (columnar) must also push
    filters to its scan like parquet does."""
    from scala_etl_test_spark.sources.parquet_source import read_files
    from scala_etl_test_spark.sources.sinks import write_table

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", None), (3, "c", -2.25)],
        "id long, name string, score double",
    )
    want = {tuple(r) for r in df.collect()}
    for fmt in ("parquet", "orc", "json", "csv"):
        path = str(tmp_path / f"rt_{fmt}")
        opts = {"header": "true"} if fmt == "csv" else {}
        write_table(df, fmt, path=path, options=opts)
        back = read_files(spark, path, fmt, schema=df.schema, options=opts)
        assert {tuple(r) for r in back.collect()} == want, fmt
    # columnar read path keeps pushdown
    plan = (
        read_files(spark, str(tmp_path / "rt_orc"), "orc", schema=df.schema)
        .filter("id > 1")._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters: [IsNotNull(id), GreaterThan(id,1)]" in plan, plan


def test_azure_sas_conf_applied(spark, tmp_path):
    """M1 reference parity (ApplaudoETL.scala:33): the SAS key from the
    properties file must land on the session conf under the exact
    fs.azure.sas.<container>.<account>.blob.core.windows.net key the
    Hadoop wasbs connector reads; absent keys must be a no-op."""
    from scala_etl_test_spark.config import load_properties
    from scala_etl_test_spark.session import apply_azure_sas

    props_file = tmp_path / "app.properties"
    props_file.write_text(
        "azure.sas_key=?sv=2020-01-01&sig=abc123\n"
        "azure.storage.container.name=sourcedata\n"
        "azure.storage.account.name=applaudostudios\n"
    )
    key = apply_azure_sas(spark, load_properties(str(props_file)))
    assert key == "fs.azure.sas.sourcedata.applaudostudios.blob.core.windows.net"
    assert spark.conf.get(key) == "?sv=2020-01-01&sig=abc123"
    spark.conf.unset(key)
    # any missing key -> no-op (local file:// runs carry no azure.* keys)
    assert apply_azure_sas(spark, {"azure.sas_key": "x"}) is None
    assert apply_azure_sas(spark, {}) is None


def test_footer_row_count_layouts_and_failures(spark, tmp_path, sf_dir):
    """ADVICE r7: footer_row_count must handle nested (hive-partitioned)
    layouts recursively and FAIL LOUDLY on a directory with no parquet
    files — returning 0 would silently collapse plan-time sizing (IVF k,
    simhash pieces, blocking width) to its floor."""
    import pytest

    from scala_etl_test_spark.sources.parquet_source import footer_row_count

    # single-file layout (the testdata shape) agrees with COUNT(*)
    n = footer_row_count(sf_dir, "region")
    assert n == spark.read.parquet(f"{sf_dir}/region.parquet").count()

    # hive-partitioned nested layout: part files live one level down
    df = spark.range(100).withColumn("k", (F.col("id") % 4).cast("int"))
    df.write.partitionBy("k").mode("overwrite").parquet(str(tmp_path / "nested.parquet"))
    assert footer_row_count(str(tmp_path), "nested") == 100

    # empty directory: raise, never return 0
    (tmp_path / "empty.parquet").mkdir()
    with pytest.raises(FileNotFoundError, match="no .parquet files"):
        footer_row_count(str(tmp_path), "empty")


def test_schema_cache_detects_rewrite(spark, tmp_path):
    """ADVICE r7: the declared-schema cache must not survive a table being
    rewritten at the same path with a different schema — the freshness
    token (mtime+size of the part files) forces re-inference."""
    from pyspark.sql import types as T

    from scala_etl_test_spark.sources.parquet_source import read_table

    d = str(tmp_path)
    spark.range(5).select(F.col("id").alias("a")).write.parquet(f"{d}/t.parquet")
    first = read_table(spark, d, "t")
    assert first.schema == T.StructType([T.StructField("a", T.LongType())])
    # rewrite in place with a DIFFERENT schema
    spark.range(3).select(
        F.col("id").cast("int").alias("b"), F.lit("x").alias("c")
    ).write.mode("overwrite").parquet(f"{d}/t.parquet")
    second = read_table(spark, d, "t")
    assert set(second.columns) == {"b", "c"}, "stale cached schema survived a rewrite"
    assert second.count() == 3


def test_schema_cache_detects_partitioned_rewrite(spark, tmp_path):
    """Regression (round-8 review): the freshness token must walk
    hive-partitioned layouts recursively — a top-level-only listing
    yields a constant empty token and never detects the rewrite."""
    from scala_etl_test_spark.sources.parquet_source import read_table

    d = str(tmp_path)
    spark.range(8).select(
        F.col("id").alias("a"), (F.col("id") % 2).cast("int").alias("k")
    ).write.partitionBy("k").parquet(f"{d}/pt.parquet")
    first = read_table(spark, d, "pt")
    assert set(first.columns) == {"a", "k"}
    spark.range(4).select(
        F.lit("x").alias("b"), (F.col("id") % 2).cast("int").alias("k")
    ).write.partitionBy("k").mode("overwrite").parquet(f"{d}/pt.parquet")
    second = read_table(spark, d, "pt")
    assert set(second.columns) == {"b", "k"}, "stale schema survived a partitioned rewrite"
