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

It turns off PySpark's per-call call-site capture
(``spark.python.sql.dataFrameDebugging.enabled=false``). With it on,
every ``Column`` method and ``F.col`` call is wrapped by
``pyspark.errors.utils._with_origin``, which records the calling Python
file and line for error messages and costs about ten Py4J round trips per
call (``getActiveSession``, a JVM class lookup, ``spark.conf.get``,
``PySparkCurrentOrigin.set`` and ``.clear``). The flag only decides
whether expressions carry that Python origin; logical and physical plans,
job and stage names, and results are unchanged. Measured at sf0.001 on
4 cores: a warm build of ``q_dedup_minhash_pairs`` sends 982 Py4J
commands instead of 2,722, makes 77 K Python function calls instead of
244 K and takes 0.31 s instead of 0.50 s. Over the eight ``perfbench``
corpus operations (sf0.002, one warm JVM, capture toggled between passes,
medians of 8) the DataFrame builds of a pass take 5.31 s instead of
7.15 s, with the same jobs. Those are plan-build layer measurements. End
to end, the benchmark's corpus ``wall_s`` (one measured pass of a fresh
JVM that is still JIT-compiling) shows no resolved gain: over 30
alternating pairs on the same machine its median went from 12.43 s to
11.34 s, but 7 pairs went the other way and the quartile spread of the
runs without the flag (2.31 s) is wider than that gap.
To get Python line numbers back in error messages, pass
``extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"}``.
PySpark reads the flag once per Python process, on the first wrapped call
(and treats it as off when no session is active then), so it must be set
when the session is built.
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
    - Python call-site capture off (module docstring): building a plan
      costs a third of the Py4J round trips; re-enable it through
      ``extra_conf`` for Python line numbers in error messages.
    - ``spark.sql.shuffle.partitions`` is ``shuffle_partitions``, else the
      ``SPARK_GRAFT_CPUS`` env var (default 32, also the local master's
      core count). AQE coalesces down from it, and
      ``operators.partitioning.pin_by_key`` pins at least that many tasks.
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
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
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
