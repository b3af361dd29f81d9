"""Sinks: compaction collapses a many-partition write into few size-targeted
files; sort_by clusters rows for row-group pruning; data round-trips."""

from __future__ import annotations

import glob

from pyspark.sql import functions as F

from scala_etl_test_spark.sources.parquet_source import read_table
from scala_etl_test_spark.sources.sinks import write_compacted, write_table


def test_compacted_write_few_files_roundtrip(spark, sf_dir, tmp_path):
    li = read_table(spark, sf_dir, "lineitem").repartition(64)  # simulate fragmented input
    out = str(tmp_path / "compact")
    n = write_compacted(li, out, target_mb=128)
    files = glob.glob(f"{out}/*.parquet")
    assert len(files) == n
    assert n < 8  # sf0.001 lineitem is far under one 128 MB target file
    back = spark.read.parquet(out)
    assert back.count() == li.count()
    assert sorted(back.columns) == sorted(li.columns)


def test_compacted_sorted_write_clusters_rows(spark, sf_dir, tmp_path):
    li = read_table(spark, sf_dir, "lineitem")
    out = str(tmp_path / "sorted")
    write_compacted(li, out, target_mb=1024, sort_by=["l_shipdate"])
    back = spark.read.parquet(out)
    # rows within the (single) file are non-decreasing on the sort key
    ts = [r["l_shipdate"] for r in back.select("l_shipdate").collect()]
    assert ts == sorted(ts)


def test_write_table_passthrough_roundtrip(spark, sf_dir, tmp_path):
    """The generic format/options passthrough (S9 parity surface) must honor
    format, writer options, mode, and partitionBy for a file format — the
    same call shape a connector format (e.g. bigquery) takes via options."""
    nation = read_table(spark, sf_dir, "nation")
    out = str(tmp_path / "generic")
    write_table(
        nation,
        fmt="json",
        path=out,
        options={"compression": "gzip"},
        partition_by=["n_regionkey"],
    )
    assert glob.glob(f"{out}/n_regionkey=*/*.json.gz")
    back = spark.read.json(out)
    assert back.count() == nation.count()
    # append mode doubles the rows through the same passthrough
    write_table(nation, fmt="json", path=out, mode="append", partition_by=["n_regionkey"])
    assert spark.read.json(out).count() == 2 * nation.count()


def test_zorder_key_interleaves_and_clusters(spark):
    from scala_etl_test_spark.operators.layout import z_value

    df = spark.createDataFrame([(x, y) for x in range(8) for y in range(8)], "x int, y int")
    rows = df.select("x", "y", z_value([F.col("x"), F.col("y")], bits=3).alias("z")).collect()
    z = {(r["x"], r["y"]): r["z"] for r in rows}
    # known Morton values: (0,0)=0 (1,0)=1 (0,1)=2 (1,1)=3 (2,2)=12 (7,7)=63
    assert z[(0, 0)] == 0 and z[(1, 0)] == 1 and z[(0, 1)] == 2
    assert z[(1, 1)] == 3 and z[(2, 2)] == 12 and z[(7, 7)] == 63
    assert len(set(z.values())) == 64  # bijective on the grid


def test_zorder_sorted_write_prunes_both_dims(spark, tmp_path):
    """Sorting by the z-key bounds BOTH dimensions per file; a plain x-sort
    leaves y unconstrained (full range in every file)."""
    from scala_etl_test_spark.operators.layout import z_value

    df = spark.createDataFrame(
        [(x, y) for x in range(64) for y in range(64)], "x int, y int"
    ).withColumn("z", z_value([F.col("x"), F.col("y")], bits=6))
    out = str(tmp_path / "zorder")
    df.repartitionByRange(4, "z").sortWithinPartitions("z").write.parquet(out)
    spans = (
        spark.read.parquet(out)
        .withColumn("f", F.input_file_name())
        .groupBy("f")
        .agg((F.max("y") - F.min("y")).alias("y_span"), (F.max("x") - F.min("x")).alias("x_span"))
        .collect()
    )
    # a plain x-sort leaves y_span = 63 in EVERY file; z-ordering must bound
    # both dimensions on average (sampled range boundaries may straddle one
    # quadrant edge, so assert the mean, not each file)
    mean_y = sum(r["y_span"] for r in spans) / len(spans)
    mean_x = sum(r["x_span"] for r in spans) / len(spans)
    assert mean_y < 48, spans
    assert mean_x < 48, spans


def test_partitioned_write_prunes_on_read(spark, sf_dir, tmp_path):
    """Hive-style partitionBy layout: a filter on the partition column must
    become a PartitionFilter (directory pruning — the scan never lists, let
    alone reads, the other partitions' files). This is THE layout lever for
    a 100 TB table with a dominant access predicate."""
    from scala_etl_test_spark.sources.sinks import store_parquet

    li = read_table(spark, sf_dir, "lineitem")
    store_parquet(li, str(tmp_path), "li_part", partition_by=["l_returnflag"])

    back = spark.read.parquet(f"{tmp_path}/li_part").filter(F.col("l_returnflag") == "R")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "l_returnflag" in plan.split("PartitionFilters")[1].split("]")[0], plan

    # physical check, not just plan text: with the other partitions' files
    # deleted AFTER the file index was built, the filtered count can only
    # succeed if the scan truly never opens them (ignoreMissingFiles=false)
    exact = li.filter(F.col("l_returnflag") == "R").count()
    import shutil

    for d in glob.glob(f"{tmp_path}/li_part/l_returnflag=*"):
        if not d.endswith("l_returnflag=R"):
            shutil.rmtree(d)
    assert back.count() == exact
