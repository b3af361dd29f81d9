"""Streaming maintenance of the persisted IVF ANN index — the missing
quadrant of the ANN artifact's lifecycle (beyond-reference; the batch
pieces live in operators/similarity.py):

- **build**: ``ivf_assign`` + ``partitionBy(cluster_id)`` (write-time
  partition key, plan-gated pruning);
- **serve**: ``ivf_topk`` over the partitioned corpus — nprobe cells of
  partition pruning, not a scan;
- **append (this module)**: each micro-batch of new embeddings is assigned
  to its cell (narrow row-local argmax against the FROZEN centroid set)
  and appended under ``cluster_id=K/batch_id=N/`` — per-batch work is
  O(batch·k) compute + an O(batch) write, INDEPENDENT of corpus size
  (``tools/stress_streaming.py --twin ann_append`` pins the flat trend).
  The centroids are read once per append on the driver
  (:func:`_frozen_centroids`, pyarrow, no Spark job) and, while the set
  is small, ride in the plan as one folded literal, so an append runs no
  job to re-read, aggregate or broadcast them: 3 jobs (the batch spread,
  the cell-routing exchange and the write) instead of 6, and a small
  batch's write runs on up to one task per cell
  (:func:`_route_by_cell`);
- **erase**: ``forget_from_ivf`` with ``sub_partition_cols=["batch_id"]``
  — cell-local rewrite that preserves the delta spine;
- **compact**: :func:`compact_ivf_index` collapses the per-cell batch
  dirs into one generation under a ``_COMPACTLOG`` watermark (the
  small-file answer for a long-running stream; replays of compacted
  batches stay no-ops); :func:`compact_ivf_cells` is the incremental
  100 TB form — only cells whose spine outgrew a generation budget are
  rewritten, markers untouched, cost ∝ compacted cells.

Serving reads COMMITTED batches only (marker present, or at/below the
compaction watermark): an in-flight append or a crash-orphaned partial
must not surface phantom vectors in probe results.

Centroids are frozen at index creation (the standard IVF contract:
retraining re-clusters the corpus, which is an offline rebuild, not
maintenance) and stored as a parquet sidecar, so any session — including
a restarted stream — assigns against the identical cell geometry.

Exactly-once: the corpus dir itself cannot say whether batch N fully
committed (a crashed job leaves partials; an erased batch leaves
nothing), so a marker under ``_APPENDLOG/`` — written only AFTER the
data job commits — is the replay guard. A replayed batch whose marker
exists is SKIPPED (this is also what keeps a fully-erased batch from
resurrecting forgotten vectors on replay); a replayed batch whose marker
is missing first WIPES any partial ``batch_id=N`` remnants, then
re-appends — idempotent under a crash on either side of the marker.
"""

from __future__ import annotations

import pathlib

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from scala_etl_test_spark.operators.partitioning import below_advisory_size, pin_by_key
from scala_etl_test_spark.streaming.compaction import (
    _finish_pending_cell_swaps_unlocked,
    compaction_watermark,
    collapse_stream_markers,
    finish_cell_swap as _finish_cell_swap,
    finish_pending_cell_swaps,
    marker_ids,
    marker_path,
    swap_lock,
    write_watermark,
)


# The frozen centroids fold into the plan as one literal only while they
# hold fewer Arrow bytes than this (K=16 x 64 doubles is ~8.5 KB). Past it
# the broadcast path appends faster: measured with 500-row appends on 4
# cores, the fold wins up to K=128 x 64 (68 KB) and loses from K=256 x 64
# (136 KB) on, by 1.2 s at K=2048 x 64 (1.1 MB).
_FOLD_MAX_BYTES = 128 << 10


def _centroids_dir(index_dir: str) -> str:
    return str(pathlib.Path(index_dir) / "centroids")


def _corpus_dir(index_dir: str) -> str:
    return str(pathlib.Path(index_dir) / "corpus")


def _committed_filter(index_dir: str):
    """(filter Column | None) selecting committed corpus rows — None when
    nothing has ever committed. The serve path applies this so an
    in-flight append (or a crash-orphaned partial whose marker never
    landed) can never surface phantom vectors in probe results — the
    moments-store lesson (streaming/moments.py) applied to the vector
    artifact."""
    markers = marker_ids(index_dir)
    wm = compaction_watermark(index_dir)
    if wm is None and not markers:
        return None
    cond = F.col("batch_id").isin([int(b) for b in markers])
    if wm is not None:
        cond = cond | (F.col("batch_id") <= int(wm))
    return cond


def init_ivf_index(
    spark: SparkSession,
    index_dir: str,
    seed: DataFrame,
    n_centroids: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Materialize the IVF index at ``index_dir``: frozen centroids
    (stride-seeded here; any (centroid_id, centroid_vec) frame drops in)
    and the seed corpus partitioned by cell with the ``batch_id=-1`` delta
    spine the appends will extend, written through :func:`_route_by_cell`."""
    from scala_etl_test_spark.operators.similarity import ivf_assign, stride_centroids

    cents = stride_centroids(seed, n_centroids, vec_col=vec_col, id_col=id_col)
    cents.write.mode("errorifexists").parquet(_centroids_dir(index_dir))
    frozen, n_cells = _frozen_centroids(spark, index_dir)
    (
        ivf_assign(seed, frozen, vec_col=vec_col, id_col=id_col)
        .withColumn("batch_id", F.lit(-1))
        .transform(_route_by_cell, n_cells)
        .write.partitionBy("cluster_id", "batch_id")
        .parquet(_corpus_dir(index_dir))
    )
    marker_path(index_dir, -1).mkdir(parents=True, exist_ok=True)


def _route_by_cell(assigned: DataFrame, n_cells: int) -> DataFrame:
    """Route assigned rows by cell before a ``partitionBy(cluster_id, ...)``
    write. Straight from the spread assignment, every task writes one file
    per cell it holds (up to tasks × cells files per write). The routing is
    picked from Catalyst's size estimate of the write (plan metadata, no
    job):

    - below ``spark.sql.adaptive.advisoryPartitionSizeInBytes``: pin the
      ``n_cells`` cells (the caller's count) with ``pin_by_key``, so AQE
      cannot coalesce the sub-MB exchange into ONE write task (as it does a
      small rebalance). No cell is large enough for a rebalance to split
      it, so this is still one file per cell;
    - otherwise, or when the estimate is unknown (0): the rebalance hint.
      It hashes by cell too, but AQE splits any cell past the advisory
      size across tasks, so a huge cell (K=1 is the whole corpus) is never
      one write task: advisory-sized files at large cells.

    A ``foreachBatch`` micro-batch of a file source (``stream_append_ivf``)
    carries its files' size, so a small micro-batch takes the hash branch
    like a direct append."""
    if below_advisory_size(assigned):
        return pin_by_key(assigned, "cluster_id", n_cells)
    return assigned.hint("rebalance", "cluster_id")


def read_centroids(spark: SparkSession, index_dir: str) -> DataFrame:
    return spark.read.parquet(_centroids_dir(index_dir))


def _frozen_centroids(spark: SparkSession, index_dir: str) -> tuple[Column | DataFrame, int]:
    """The frozen centroids as :func:`ivf_assign` takes them, and how many
    there are. The sidecar is read on the driver with pyarrow (no Spark
    job). While it holds under ``_FOLD_MAX_BYTES`` in memory it is returned
    as one folded literal
    (:func:`~scala_etl_test_spark.operators.similarity.centroid_array`);
    a larger set is returned as :func:`read_centroids`, for the broadcast
    path."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_type

    from scala_etl_test_spark.operators.similarity import centroid_array

    table = pq.read_table(_centroids_dir(index_dir))
    if table.nbytes >= _FOLD_MAX_BYTES:
        return read_centroids(spark, index_dir), table.num_rows
    field = table.schema.field
    folded = centroid_array(
        table.column("centroid_id").to_pylist(),
        table.column("centroid_vec").to_pylist(),
        from_arrow_type(field("centroid_id").type),
        from_arrow_type(field("centroid_vec").type),
    )
    return folded, table.num_rows


def read_ivf_corpus(spark: SparkSession, index_dir: str) -> DataFrame:
    """Read the cell-partitioned corpus — after finishing any per-cell
    compaction swap a crash left staged (ADVICE r10: a cell mid-swap holds
    its committed rows in an invisible ``_merged_hi_N`` dir; without this
    heal, serving under-counts that cell indefinitely, since only the next
    compaction call would otherwise run the recovery pass). One glob when
    nothing is pending."""
    finish_pending_cell_swaps(pathlib.Path(_corpus_dir(index_dir)))
    return spark.read.parquet(_corpus_dir(index_dir))


def append_batch_to_ivf(
    spark: SparkSession,
    index_dir: str,
    batch: DataFrame,
    batch_id: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> bool:
    """The per-micro-batch body: assign against the frozen centroids and
    append under the batch's delta dirs. Returns False (no-op) when the
    batch's marker says it already committed — the replay guard. Public
    (not a closure) so replay/crash paths are directly testable."""
    marker = marker_path(index_dir, batch_id)
    if marker.exists():
        return False
    wm = compaction_watermark(index_dir)
    if wm is not None and batch_id <= wm:
        # compaction collapsed this batch's marker into the watermark; a
        # replay must stay a no-op or it would re-append merged vectors
        return False
    corpus = pathlib.Path(_corpus_dir(index_dir))
    # wipe partial remnants of a crashed earlier attempt BEFORE re-appending
    for leftover in corpus.glob(f"cluster_id=*/batch_id={batch_id}"):
        import shutil

        shutil.rmtree(leftover, ignore_errors=True)
    from scala_etl_test_spark.operators.similarity import ivf_assign

    frozen, n_cells = _frozen_centroids(spark, index_dir)
    (
        ivf_assign(batch, frozen, vec_col=vec_col, id_col=id_col)
        .withColumn("batch_id", F.lit(batch_id))
        .transform(_route_by_cell, n_cells)
        .write.mode("append")
        .partitionBy("cluster_id", "batch_id")
        .parquet(str(corpus))
    )
    marker.mkdir(parents=True, exist_ok=True)
    return True


def stream_append_ivf(
    changes: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
):
    """Start (availableNow) the continuous IVF maintenance stream: each
    micro-batch of new embeddings lands cell-routed in the partitioned
    corpus. The checkpoint dedups source files; the _APPENDLOG marker
    dedups the append itself (module docstring)."""

    def _append(batch_df: DataFrame, batch_id: int) -> None:
        append_batch_to_ivf(
            batch_df.sparkSession, index_dir, batch_df, int(batch_id), vec_col, id_col
        )

    return (
        changes.writeStream.foreachBatch(_append)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def ivf_index_topk(
    spark: SparkSession,
    index_dir: str,
    query: list[float],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
) -> DataFrame:
    """Serve path over the maintained index: probe ``nprobe`` cells of the
    partitioned corpus (partition pruning carries the cell predicate —
    same plan the batch ``ivf_topk`` gate pins) against the frozen
    centroids. Serves COMMITTED batches only (marker present or at/below
    the compaction watermark — both partition-prunable predicates): an
    in-flight or crash-orphaned append must not surface phantom vectors."""
    from scala_etl_test_spark.operators.similarity import ivf_topk

    committed = _committed_filter(index_dir)
    if committed is None:
        raise ValueError(f"IVF index at {index_dir} has no committed batches")
    return ivf_topk(
        read_ivf_corpus(spark, index_dir).filter(committed),
        read_centroids(spark, index_dir),
        query,
        k=k,
        nprobe=nprobe,
        id_col=id_col,
    )


def forget_from_ivf_index(
    spark: SparkSession,
    index_dir: str,
    forget_ids: DataFrame,
    id_col: str = "vec_id",
) -> DataFrame:
    """Erasure over the maintained index: the batch cell-local rewrite
    (operators/similarity.py:forget_from_ivf) with the delta spine
    preserved, so committed-batch markers stay valid and a replay of a
    fully-erased batch cannot resurrect forgotten vectors (the marker,
    not the data dir, is the replay guard)."""
    from scala_etl_test_spark.operators.similarity import forget_from_ivf

    return forget_from_ivf(
        spark,
        _corpus_dir(index_dir),
        forget_ids,
        id_col=id_col,
        sub_partition_cols=["batch_id"],
    )


def compact_ivf_index(spark: SparkSession, index_dir: str) -> int | None:
    """Collapse the WHOLE delta spine: every cell's committed
    ``batch_id=N`` dirs merge into that cell's own highest committed
    generation (delegating to :func:`compact_ivf_cells` at
    ``min_generations=2`` — crash-safe per-cell swaps, so there is never
    a corpus-wide serve gap), then the ``_COMPACTLOG/upto=N`` watermark
    (N = the highest committed batch anywhere) is recorded and the
    per-batch markers it subsumes are deleted — the small-file answer
    for a long-running stream, same protocol as
    streaming/moments.py:compact_moments. Probe results before and
    after are identical (test-pinned); the watermark keeps replays of
    compacted batches no-ops. Cells with a single committed generation
    are not rewritten at all (the watermark alone keeps them committed
    once their marker collapses).

    NOT concurrent-safe with a running stream. Crash-orphaned
    uncommitted batch dirs are wiped BEFORE the watermark lands so it
    can never adopt them; a crash at any point is healed by re-running
    (per-cell recovery + idempotent watermark/marker collapse).

    Returns the new watermark, or None when fewer than two committed
    batch generations exist on disk.
    """
    import shutil

    corpus = pathlib.Path(_corpus_dir(index_dir))
    if not corpus.is_dir():
        return None
    markers = set(marker_ids(index_dir))
    wm = compaction_watermark(index_dir)
    on_disk = {
        int(p.name.split("=", 1)[1])
        for p in corpus.glob("cluster_id=*/batch_id=*")
        if p.is_dir()
    }
    committed = {b for b in on_disk if b in markers or (wm is not None and b <= wm)}
    # wipe uncommitted orphans so the watermark can never adopt them
    for b in on_disk - committed:
        for leftover in corpus.glob(f"cluster_id=*/batch_id={b}"):
            shutil.rmtree(leftover, ignore_errors=True)
    if len(committed) < 2:
        return None
    hi = max(committed)

    compact_ivf_cells(spark, index_dir, min_generations=2)

    write_watermark(index_dir, hi)
    collapse_stream_markers(index_dir, hi)
    return hi


def compact_ivf_cells(
    spark: SparkSession, index_dir: str, min_generations: int = 3
) -> dict[int, int]:
    """INCREMENTAL per-cell compaction — the 100 TB form of
    :func:`compact_ivf_index`: only cells whose delta spine has grown to
    ``min_generations`` committed generation dirs are rewritten (one
    partition-pruned read + one cell-co-located staged write for all
    planned cells together), everything else stays byte-identical on
    disk, and per-batch markers are UNTOUCHED — each cell's generations
    merge under that cell's own highest committed batch id, so replay
    guards and the committed-serve filter keep working with no watermark
    involved. Run it on whatever cadence keeps file counts sane; cost is
    proportional to the compacted cells, never the corpus.

    Per-cell swap is crash-safe: the merged generation first lands
    INSIDE the cell as an invisible ``_merged_hi_N`` dir, then old
    generations ≤ N are deleted, then the merge is renamed to
    ``batch_id=N`` (:func:`_finish_cell_swap`, idempotent — re-running
    after a crash at any step converges; a serve inside the crash window
    under-counts the mid-swap cell transiently, never double-counts).
    Heal-vs-compactor races are excluded by the store's
    :func:`~scala_etl_test_spark.streaming.compaction.swap_lock` (ADVICE
    r11). Still NOT concurrent-safe with a running stream's APPENDS.

    Returns {cell: generations merged} for the cells actually compacted.
    """
    corpus = pathlib.Path(_corpus_dir(index_dir))
    if not corpus.is_dir():
        return {}
    # ADVICE r11: hold the store's swap lock across plan+stage+swap so a
    # serve/append-path healer can never interleave with the per-cell
    # swaps below (the TOCTOU where a stale healer rmtree's the
    # freshly-renamed merged generation). Serve healers use wait=False
    # and skip while this runs; reads stay correct throughout because
    # raw generations are deleted only inside finish_cell_swap, after
    # the merge covering them is staged in the same cell.
    with swap_lock(corpus, wait=True):
        return _compact_ivf_cells_locked(spark, index_dir, corpus, min_generations)


def _compact_ivf_cells_locked(
    spark: SparkSession,
    index_dir: str,
    corpus: pathlib.Path,
    min_generations: int,
) -> dict[int, int]:
    import shutil

    # recovery pass: finish any swap a crashed previous run left behind
    # (the serve path runs the same sweep — streaming/compaction.py)
    _finish_pending_cell_swaps_unlocked(corpus)

    markers = set(marker_ids(index_dir))
    wm = compaction_watermark(index_dir)

    def _committed(b: int) -> bool:
        return b in markers or (wm is not None and b <= wm)

    plan: dict[int, list[int]] = {}
    for cell_dir in corpus.glob("cluster_id=*"):
        cell = int(cell_dir.name.split("=", 1)[1])
        gens = [
            int(p.name.split("=", 1)[1])
            for p in cell_dir.glob("batch_id=*")
            if p.is_dir()
        ]
        cgens = sorted(b for b in gens if _committed(b))
        if len(cgens) >= min_generations:
            plan[cell] = cgens
    if not plan:
        return {}

    staging = pathlib.Path(index_dir) / "_cell_compacting"
    shutil.rmtree(staging, ignore_errors=True)
    # one job stages every planned cell: partition-pruned read (cell +
    # committed-generation predicates are both partition columns),
    # per-cell hi assigned from a bounded literal map, cell-routed write
    # (_route_by_cell) so the merge is also the small-file consolidation:
    # one file per cell while the merge is small, advisory-sized files
    # for a cell too large for one write task
    hi_map = F.create_map(
        *[F.lit(v) for cell, gens in plan.items() for v in (cell, max(gens))]
    )
    cond = None
    for cell, gens in plan.items():
        c = (F.col("cluster_id") == cell) & F.col("batch_id").isin(gens)
        cond = c if cond is None else (cond | c)
    (
        spark.read.parquet(str(corpus))
        .filter(cond)
        .withColumn("batch_id", hi_map[F.col("cluster_id")])
        .transform(_route_by_cell, len(plan))
        .write.mode("overwrite")
        .partitionBy("cluster_id", "batch_id")
        .parquet(str(staging))
    )
    for cell, gens in plan.items():
        hi = max(gens)
        cell_dir = corpus / f"cluster_id={cell}"
        staged = staging / f"cluster_id={cell}" / f"batch_id={hi}"
        staged.rename(cell_dir / f"_merged_hi_{hi}")
        _finish_cell_swap(cell_dir)
    shutil.rmtree(staging, ignore_errors=True)
    return {cell: len(gens) for cell, gens in plan.items()}
