"""How wide a compute-heavy stage runs: the one module that decides it.

A fan-out (shingle explode, k-cosine projection, pairwise verification)
costs compute, not input bytes, so it runs in too few tasks when a small
input scans into few splits (:func:`spread` fixes that) or when AQE
coalesces its small-in-bytes exchange into one task (:func:`pin_by_key`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _output_partitions(df: DataFrame) -> int:
    """Partition count the physical plan declares for its output — the
    initial plan under AQE (with its exchanges, not executed), so reading
    it runs no job. 0 when the plan declares none (a file scan, or a narrow
    operator over one) and for a streaming frame, which has no batch plan."""
    if df.isStreaming:
        return 0
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    return plan.outputPartitioning().numPartitions()


def _scan_size_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate for the plan (file-size total for scans,
    selectivity-scaled upward through operators) — plan metadata, no job;
    0 when unknown."""
    try:
        return int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    except Exception:
        return 0


def _max_partition_bytes(df: DataFrame) -> int:
    """``spark.sql.files.maxPartitionBytes`` in bytes, size suffixes
    ('128m', '128MB') resolved by Spark's own conf reader."""
    return df.sparkSession._jsparkSession.sessionState().conf().filesMaxPartitionBytes()


def spread(df: DataFrame, key: str | None = None) -> DataFrame:
    """Repartition by ``key`` (round-robin when None) before a
    fanout-heavy stage — but ONLY when the input underuses the cluster.

    Document tables are small on disk relative to their shingle fanout, so
    a scan can land in far fewer partitions than cores (the local testdata
    is ONE file ⇒ one task does every hash); one cheap shuffle of the
    compact rows buys full parallelism for the expensive stage.

    The guard must never cost work at plan time (ADVICE r5: probing
    ``df.rdd`` under AQE executes the upstream stages of a shuffle-bearing
    plan), so it reads the partition count the physical plan declares
    (:func:`_output_partitions`, planned, never executed):

    - ≥ cores (an exchange sized by ``spark.sql.shuffle.partitions``, or
      an explicit wide repartition) ⇒ pass through;
    - 0 (no declared partitioning: a file scan and the narrow operators
      over it, a broadcast join streaming such a scan) ⇒ estimate the
      scan's split count from Catalyst's size statistic over
      ``maxPartitionBytes``: a scan that splits into ≥ cores partitions
      passes through; a small one — many tiny files included, which the
      reader packs into few splits — gets the spread. The estimate errs
      low, toward one redundant-but-compact shuffle. It is read only here:
      over a join without statistics it is the product of the inputs;
    - anything else (coalesce, a narrow repartition, a limit, a window
      without a partition spec) ⇒ spread.

    Known gaps. (1) AQE can coalesce a tiny join/groupBy exchange to 1-2
    partitions at runtime, which the initial plan cannot show; a stage
    that needs its width past such an exchange takes :func:`pin_by_key`.
    (2) Operators that declare no partitioning (Generate, Sample, a cached
    relation) read as 0 even over an exchange, so they get one extra
    compact shuffle.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        declared = _output_partitions(df)
    except Exception:  # plans that refuse physical planning: never risk work
        return df
    if declared >= target:
        return df
    if declared == 0 and _scan_size_bytes(df) // _max_partition_bytes(df) + 1 >= target:
        return df
    if key is None:
        # round-robin: deterministic under retries (Spark sorts before it),
        # and immune to the skew of a few-distinct-values key
        return df.repartition(target)
    return df.repartition(target, key)


def pin_by_key(df: DataFrame, key: str, n_keys: int | None = None) -> DataFrame:
    """Hash-partition ``df`` by ``key`` at an explicit count, for the keyed
    stage after it (a join, a window, an ``applyInPandas``). AQE coalesces
    the implicit exchange that stage would insert by bytes, so a
    heavy-in-compute one ran in ONE task (the sf0.1 label_spread kNN:
    5.3 s vs ~1 s pinned); it leaves an explicit count alone. The count is
    ``max(defaultParallelism, <shuffle partitions>)``, never fewer than
    the implicit exchange would plan, and at most ``n_keys`` when the
    caller knows the key count. One conf read, no planning."""
    spark = df.sparkSession
    width = max(
        spark.sparkContext.defaultParallelism,
        spark._jsparkSession.sessionState().conf().numShufflePartitions(),
    )
    if n_keys is not None:
        width = max(1, min(width, n_keys))
    return df.repartition(width, key)


def below_advisory_size(df: DataFrame) -> bool:
    """Whether Catalyst estimates ``df`` under
    ``spark.sql.adaptive.advisoryPartitionSizeInBytes``, i.e. AQE would
    coalesce an exchange of it into ONE task. False when unknown."""
    spark = df.sparkSession
    advisory = spark._jsparkSession.sessionState().conf().getConf(
        spark._jvm.org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES()
    )
    return 0 < _scan_size_bytes(df) < advisory
