"""SparkSession bootstrap.

Reference: ``StartETL.scala:30`` builds ``local[*]`` with a fixed appName.
Here the builder also turns on the Spark-3 features the reference could not
use (AQE, skew-join handling) — these are the scale levers that let the same
logical plans survive a 100 TB cluster run (SURVEY.md §4.2).

It also sizes Spark's generated-code cache (``CODEGEN_CACHE_ENTRIES``).
Spark's default holds 100 compiled classes, far below what this engine
reuses. Distinct classes measured at sf0.001 on 4 cores: one ``perfbench``
corpus pass uses 281 (268 since the connected-components and closure-BFS
rounds stopped running probe queries), one incremental pass 59, and the
whole 184-query registry ~2,600 (2,794 compiles on a cold registry pass,
179 on a warm one). At the default size every warm corpus pass recompiled
350-435 classes with Janino (a warm registry pass 4,468), and the
recompiles kept the C2 JIT busy as well; with the cache sized, a warm
corpus pass compiles 4. An unbounded cache costs ~24 MB of metaspace for the whole registry; the
bound below holds the registry, the tests and the benchmark.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

APP_NAME = "scala-etl-test-spark"

# spark.sql.codegen.cache.maxEntries: a static conf, read once when the JVM
# first generates code, so it only applies when this builder starts Spark
CODEGEN_CACHE_ENTRIES = 4096


def build_session(
    master: str | None = None,
    app_name: str = APP_NAME,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-sane defaults.

    - AQE on: runtime shuffle coalescing + skew-join splitting replaces the
      reference's fixed ``spark.sql.shuffle.partitions=200``.
    - Arrow on: any pandas-UDF extension point transfers via Arrow batches.
    - Codegen cache sized to ``CODEGEN_CACHE_ENTRIES`` (module docstring):
      every generated class is compiled once per JVM, not once per pass.
    - Local mode sizes shuffle partitions to the local core count; on a real
      cluster leave ``shuffle_partitions=None`` and let AQE coalesce from a
      high initial value.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # read TIMESTAMP(NANOS) parquet (events.ts) as long nanos; converted
        # to micro-precision timestamps in sources.parquet_source.read_table
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # local mode runs driver+executors in ONE JVM whose heap defaults to
        # 1g regardless of machine RAM — at 10× the gate SF that OOMs the
        # first broadcast build. Only takes effect when THIS process starts
        # the JVM (ignored on an already-running session).
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        )
    )
    if master:
        builder = builder.master(master)
    elif not SparkSession.getActiveSession():
        builder = builder.master(f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def apply_azure_sas(spark: SparkSession, props: dict[str, str]) -> str | None:
    """Apply the Azure blob SAS credential from the properties file to the
    session conf — reference parity with ``ApplaudoETL.scala:33``::

        spark.conf.set(
          s"fs.azure.sas.$blobContainer.$blobStorageName.blob.core.windows.net",
          blobSas)

    Uses the reference's exact property keys (``azure.sas_key``,
    ``azure.storage.container.name``, ``azure.storage.account.name`` —
    ``application.properties:1-3``). Runtime ``spark.conf.set`` is the
    documented way to hand wasbs:// credentials to the Hadoop connector
    per-session (Spark copies ``fs.*`` session confs into the per-query
    Hadoop configuration), so a ``source.csv.path`` pointing at the
    reference's container authenticates exactly as the Scala job did.

    No-op (returns None) when any of the three keys is absent — local runs
    and tests use file:// paths. Returns the conf key that was set."""
    sas = props.get("azure.sas_key")
    container = props.get("azure.storage.container.name")
    account = props.get("azure.storage.account.name")
    if not (sas and container and account):
        return None
    key = f"fs.azure.sas.{container}.{account}.blob.core.windows.net"
    spark.conf.set(key, sas)
    return key
