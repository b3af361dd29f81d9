"""Streaming maintenance of exact covariance moments.

The batch operator (operators/similarity.py:embedding_covariance) reduces
the corpus to INTEGER moment sums and divides once at the end — and integer
sums are exactly mergeable (associative + commutative), the same algebra
that makes the HLL/CMS/histogram tier a streaming citizen. So the streaming
twin appends each micro-batch's partial moment table (pair sums, first
moments, row count — all int64/DECIMAL(38,0)) under a ``batch_id=N`` delta
spine, and serve-time covariance is ONE bounded merge: a groupBy-SUM over
≤ batches × (d(d+1)/2 + d + 1) rows — d²-scale, independent of how many
vectors ever streamed — followed by the batch operator's own finalization.
The served matrix is therefore BIT-IDENTICAL to running the batch operator
over the union of all batches (test-pinned): no float enters before the
single final division, so merge order cannot matter.

Exactly-once: the ``_APPENDLOG`` marker protocol of streaming/ann.py — the
marker is written only AFTER the partials' write commits, so a replayed
committed batch is a no-op and a crashed partial append is wiped and
redone. Serving reads ONLY committed partials (marker present, or at/below
the compaction watermark): a serve concurrent with an in-flight append, or
after a crash that left a partial without its marker, must not leak
uncommitted moment rows into the matrix. Work per batch is
O(batch_rows × d²) map-side + one d²-bounded shuffle; serve cost never
grows with stream length beyond the batch count in the delta spine.

Compaction: :func:`compact_moments` rewrites the merged committed partials
under the single highest committed ``batch_id`` dir and records a
``_COMPACTLOG/upto=N`` watermark; markers at/below the watermark are then
collapsed (deleted) — the watermark is what keeps a replay of a compacted
batch a no-op. NOT safe concurrent with a running stream (it rewrites the
partials dir wholesale); run it between availableNow passes, like
streaming/dedup.py's compact_index. The merge IS the compaction — the
helper just makes the delta spine's batch count stop growing.

Erasure: integer sums form an abelian GROUP (exact subtraction), so
right-to-be-forgotten reaches this artifact as one append of NEGATED
partials (:func:`forget_from_moments`) at a negative ``batch_id`` — no
committed partial is ever rewritten, and the served matrix afterwards is
bit-identical to recomputing over the survivors. Erasure markers survive
compaction as tombstones so a retried request stays a no-op.

Dimensionality: both operators assume fixed d. WITHIN a batch, mixed
widths fail loud at append time (the second_moments guard). ACROSS
batches, each partial records its batch's width as a ``kind='d'``
sentinel row (i=width, val=0 so the merge SUM is inert); serving raises
if more than one width ever committed, instead of silently merging
moment sums from incompatible spaces.

Partial-table layout: one parquet table with rows
``(kind ∈ {pair, first, n, d}, i, j, val DECIMAL(38,0))`` — pair rows carry
(i=dim_i, j=dim_j, val=Σ q_i·q_j), first rows (i=dim, j=-1, val=Σ q_i),
the single n row (i=-1, j=-1, val=contributing-row count), and the width
sentinel (i=width, j=-1, val=0).
"""

from __future__ import annotations

import pathlib
import shutil

from pyspark.sql import DataFrame, SparkSession, functions as F

from scala_etl_test_spark.operators.similarity import (
    finalize_covariance,
    first_moments,
    quantized_base,
    second_moments,
)
from scala_etl_test_spark.streaming.compaction import (
    compaction_watermark,
    collapse_stream_markers,
    heal_interrupted_swap,
    marker_ids,
    marker_path,
    swap_lock,
    write_watermark,
)

MOMENTS_SCALE = 1_000_000


def _partials_dir(moments_dir: str) -> str:
    return f"{moments_dir}/partials"


def _swap_paths(moments_dir: str) -> tuple[pathlib.Path, pathlib.Path, pathlib.Path]:
    """(live, tmp, retired) of the staged whole-dir compaction swap."""
    base = pathlib.Path(moments_dir)
    return (
        pathlib.Path(_partials_dir(moments_dir)),
        base / "partials_compacting",
        base / "partials_retired",
    )


def _heal(moments_dir: str) -> None:
    """Finish any compaction swap a crash left half-done — run before
    EVERY read or append (streaming/compaction.py module docstring /
    ADVICE r10: an append that re-creates the live dir mid-swap makes
    serving silently drop all pre-compaction moments, and the next
    compaction then deletes the only surviving copies).

    Lock-aware (ADVICE r11): when a LIVE ``compact_moments`` holds the
    store's swap lock, healing is skipped — racing its renames is the
    r11 TOCTOU; the compactor finishes its own swap. A DEAD owner's lock
    is stolen, so crash recovery still happens on the next read/append."""
    with swap_lock(moments_dir, wait=False) as acquired:
        if acquired:
            heal_interrupted_swap(*_swap_paths(moments_dir))


def _committed_filter(moments_dir: str):
    """(filter Column | None) selecting committed partial rows — None when
    NOTHING has ever committed (serve returns None then). The watermark
    adopts only STREAM batches (0..wm): erasure batches live at negative
    ids (:func:`forget_from_moments`) and are committed by marker alone,
    so an orphaned crashed erasure can never be adopted as committed."""
    markers = marker_ids(moments_dir)
    wm = compaction_watermark(moments_dir)
    if wm is None and not markers:
        return None
    cond = F.col("batch_id").isin([int(b) for b in markers])
    if wm is not None:
        cond = cond | ((F.col("batch_id") >= 0) & (F.col("batch_id") <= int(wm)))
    return cond


def batch_moment_partials(
    batch: DataFrame, vec_col: str = "embedding", scale: int = MOMENTS_SCALE
) -> DataFrame:
    """One micro-batch reduced to its long-form partial moments — built
    from the SAME quantize/pair-product expressions as the batch operator
    (operators/similarity.py:quantized_base/second_moments/first_moments),
    which is the whole bit-identity argument. NULL/empty vectors are
    dropped by quantized_base itself, so ``n`` counts exactly the rows
    that contributed moments; the batch's width ships as the ``kind='d'``
    sentinel (module docstring)."""
    base = quantized_base(batch, vec_col, scale)
    pairs = second_moments(base).select(
        F.lit("pair").alias("kind"),
        F.col("dim_i").alias("i"),
        F.col("dim_j").alias("j"),
        F.col("_s_ij").alias("val"),
    )
    firsts = first_moments(base).select(
        F.lit("first").alias("kind"),
        F.col("dim").alias("i"),
        F.lit(-1).cast("long").alias("j"),
        F.col("_s").alias("val"),
    )
    n = base.agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("val")).select(
        F.lit("n").alias("kind"),
        F.lit(-1).cast("long").alias("i"),
        F.lit(-1).cast("long").alias("j"),
        F.col("val"),
    )
    # width sentinel: val=0 keeps the serve-time SUM-merge inert; the
    # width itself rides in `i`, so distinct widths are distinct groups
    dims = (
        base.select(F.size("_q").cast("long").alias("i"))
        .distinct()
        .select(
            F.lit("d").alias("kind"),
            "i",
            F.lit(-1).cast("long").alias("j"),
            F.lit(0).cast("decimal(38,0)").alias("val"),
        )
    )
    return pairs.unionByName(firsts).unionByName(n).unionByName(dims)


def append_batch_moments(
    spark: SparkSession,
    moments_dir: str,
    batch: DataFrame,
    batch_id: int,
    vec_col: str = "embedding",
    scale: int = MOMENTS_SCALE,
) -> bool:
    """The per-micro-batch body: reduce the batch to its partial moments
    and append them under ``batch_id=N``. Returns False (no-op) when the
    batch already committed — marker present OR at/below the compaction
    watermark (whose collapse of old markers must not reopen them). Public
    so replay/crash paths are directly testable."""
    marker = marker_path(moments_dir, batch_id)
    if marker.exists():
        return False
    wm = compaction_watermark(moments_dir)
    if wm is not None and 0 <= batch_id <= wm:
        return False
    _append_partials(batch_moment_partials(batch, vec_col, scale), moments_dir, batch_id)
    return True


def _append_partials(partials: DataFrame, moments_dir: str, batch_id: int) -> None:
    """Shared append body (stream batches and erasure batches): finish any
    half-done compaction swap (the parquet append would otherwise
    re-create the live dir and orphan all pre-compaction moments — ADVICE
    r10), wipe crashed remnants, write under ``batch_id=N``, THEN mark
    committed."""
    _heal(moments_dir)
    leftover = pathlib.Path(_partials_dir(moments_dir)) / f"batch_id={batch_id}"
    shutil.rmtree(leftover, ignore_errors=True)
    (
        partials.withColumn("batch_id", F.lit(int(batch_id)))
        .write.mode("append")
        .partitionBy("batch_id")
        .parquet(_partials_dir(moments_dir))
    )
    marker_path(moments_dir, batch_id).mkdir(parents=True, exist_ok=True)


def forget_from_moments(
    spark: SparkSession,
    moments_dir: str,
    forgotten: DataFrame,
    erasure_id: int | None = None,
    vec_col: str = "embedding",
    scale: int = MOMENTS_SCALE,
) -> int | None:
    """Right-to-be-forgotten for the covariance moment store — the last
    leg of the moments artifact lifecycle (build → serve → append →
    compact → ERASE), the streaming/ann.py + forget_from_ivf story
    applied to derived statistics: a served covariance still RETAINS the
    erased vectors' second moments, so deletion requests must reach this
    artifact too.

    Integer moment sums are an abelian group, not just a monoid —
    subtraction is exact — so erasure is ONE append of the forgotten
    vectors' NEGATED partials (pair/first/n rows negated; the width
    sentinel rides unnegated, so forgetting wrong-width vectors trips the
    serve-time width guard instead of corrupting sums). After the append,
    serving is BIT-identical to recomputing the batch operator over the
    survivors (test-pinned) — no rewrite of any committed partial, O(|forgotten| × d²) work.

    Exactly-once: erasure batches live at NEGATIVE batch_ids (stream ids
    are Spark epoch ids ≥ 0, so the id spaces never collide), committed
    by the same ``_APPENDLOG`` marker protocol. Pass a stable
    ``erasure_id`` (0, 1, 2, …) to make retries of the SAME request
    no-ops — returns None when that request already committed; with the
    default None, the next free id is allocated (callers that may retry
    after a crash must pass the explicit id, or a re-run subtracts
    twice). Markers of erasure batches survive compaction as tombstones
    for exactly this reason.

    Contract: ``forgotten`` must be vectors that actually contributed to
    the store (the corpus rows being erased). Forgetting more rows than
    were ever streamed drives ``n`` ≤ 0 and serving fails loud.
    """
    committed_neg = [b for b in marker_ids(moments_dir) if b < 0]
    if erasure_id is None:
        erasure_id = max([-(b + 1) for b in committed_neg], default=-1) + 1
    batch_id = -(int(erasure_id) + 1)
    if marker_path(moments_dir, batch_id).exists():
        return None
    partials = batch_moment_partials(forgotten, vec_col, scale)
    negated = partials.select(
        "kind",
        "i",
        "j",
        F.when(F.col("kind") == "d", F.col("val")).otherwise(-F.col("val")).alias("val"),
    )
    _append_partials(negated, moments_dir, batch_id)
    return int(erasure_id)


def stream_covariance(
    changes: DataFrame,
    moments_dir: str,
    checkpoint_dir: str,
    vec_col: str = "embedding",
    scale: int = MOMENTS_SCALE,
):
    """Start (availableNow) the continuous moment-maintenance stream: the
    checkpoint dedups source files; the _APPENDLOG marker dedups the
    append itself (module docstring)."""

    def _append(batch_df: DataFrame, batch_id: int) -> None:
        append_batch_moments(
            batch_df.sparkSession, moments_dir, batch_df, int(batch_id), vec_col, scale
        )

    return (
        changes.writeStream.foreachBatch(_append)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_covariance(
    spark: SparkSession,
    moments_dir: str,
    scale: int = MOMENTS_SCALE,
    round_digits: int = 9,
) -> DataFrame | None:
    """Serve the covariance from the accumulated partials: merge (exact
    integer groupBy-SUM, d²-bounded) then the batch operator's own
    finalization. None when no batch has ever committed. Reads ONLY
    committed partials — an in-flight append (or a crash-orphaned partial
    whose marker never landed) must not bleed into the served matrix, or
    the exactly-once/bit-identity contract breaks during that window.
    Raises at action time if committed batches disagree on embedding
    width (the ``kind='d'`` sentinel — module docstring)."""
    # serve-path recovery first: a half-done compaction swap leaves the
    # committed spine under partials_compacting/partials_retired — reading
    # without healing would serve None (or a post-crash fragment) while
    # markers and watermark still claim the data committed (ADVICE r10)
    _heal(moments_dir)
    pdir = _partials_dir(moments_dir)
    # never-written store → None; a CORRUPT store must raise, not read as
    # "no data" (a broad except here would silently serve an empty matrix)
    if not pathlib.Path(pdir).is_dir():
        return None
    committed = _committed_filter(moments_dir)
    if committed is None:
        return None
    partials = spark.read.parquet(pdir).filter(committed)
    merged = partials.groupBy("kind", "i", "j").agg(F.sum("val").alias("val"))
    # cross-batch width guard: >1 distinct 'd' sentinel ⇒ incompatible
    # moment spaces were merged — raise instead of serving garbage. The
    # 1-row count broadcast-joins onto the 1-row n frame, and the guard is
    # folded into the consumed _n column so it cannot be pruned. Stores
    # written before the sentinel existed have 0 'd' rows and pass.
    n_widths = merged.filter(F.col("kind") == "d").agg(
        F.count(F.lit(1)).alias("_n_widths")
    )
    n_df = (
        merged.filter(F.col("kind") == "n")
        .select(F.col("val").cast("long").alias("_n"))
        .join(F.broadcast(n_widths))
        .select(
            F.when(
                F.col("_n_widths") > 1,
                F.raise_error(
                    F.concat_ws(
                        " ",
                        F.lit("moment store corrupt: committed batches carry"),
                        F.col("_n_widths").cast("string"),
                        F.lit("distinct embedding widths — refusing to merge"),
                    )
                ),
            )
            .when(
                F.col("_n") <= 0,
                F.raise_error(
                    F.concat_ws(
                        " ",
                        F.lit("moment store has"),
                        F.col("_n").cast("string"),
                        F.lit(
                            "contributing rows (fully erased, or erasures "
                            "exceeded the streamed corpus) — nothing to serve"
                        ),
                    )
                ),
            )
            .otherwise(F.col("_n"))
            .alias("_n")
        )
    )
    second = (
        merged.filter(F.col("kind") == "pair")
        .select(
            F.col("i").alias("dim_i"),
            F.col("j").alias("dim_j"),
            F.col("val").cast("decimal(38,0)").alias("_s_ij"),
        )
        .join(F.broadcast(n_df))
    )
    firsts = merged.filter(F.col("kind") == "first").select(
        F.col("i").alias("dim"), F.col("val").cast("decimal(38,0)").alias("_s")
    )
    return finalize_covariance(second, firsts, scale, round_digits)


def compact_moments(spark: SparkSession, moments_dir: str) -> int | None:
    """Collapse the delta spine: merge ALL committed partials (the exact
    integer groupBy-SUM serving already does) and rewrite them under the
    single highest committed ``batch_id`` dir, then record the
    ``_COMPACTLOG/upto=N`` watermark and delete the per-batch markers it
    subsumes. Serving before and after is BIT-identical (test-pinned) —
    the merge is associative, so pre-merging changes nothing but the
    partial-row count, which stops growing with stream length.

    NOT concurrent-safe with a running stream (module docstring): the
    partials dir is rewritten wholesale. Crash-orphaned UNCOMMITTED
    partial dirs are wiped first — they are garbage a replay would rewrite
    anyway, and wiping them before the watermark lands keeps the
    "everything ≤ watermark is committed" invariant true in every crash
    window of this function.

    Returns the new watermark, or None when there is nothing to compact
    (fewer than two committed batches on disk).
    """
    # ADVICE r11: hold the store's swap lock for the whole merge+swap so
    # a serve/append-path heal can never interleave with the renames
    # below (they skip with wait=False while this runs)
    with swap_lock(moments_dir, wait=True):
        return _compact_moments_locked(spark, moments_dir)


def _compact_moments_locked(spark: SparkSession, moments_dir: str) -> int | None:
    pdir, tmp, retired = _swap_paths(moments_dir)
    # crash recovery: a previous run that died mid-swap left the live dir
    # renamed away (or a later append re-created it) — finish the swap
    # before anything else; the shared heal only drops the retired copy
    # after the merge is confirmed live (streaming/compaction.py). Raw
    # heal, not _heal — the lock is already held on this thread.
    heal_interrupted_swap(*_swap_paths(moments_dir))
    if not pdir.is_dir():
        return None
    markers = set(marker_ids(moments_dir))
    wm = compaction_watermark(moments_dir)
    on_disk = {
        int(p.name.split("=", 1)[1]) for p in pdir.glob("batch_id=*") if p.is_dir()
    }
    committed = {
        b for b in on_disk if b in markers or (wm is not None and 0 <= b <= wm)
    }
    # step 0: wipe uncommitted orphans so the watermark can't adopt them
    for b in on_disk - committed:
        shutil.rmtree(pdir / f"batch_id={b}", ignore_errors=True)
    if len(committed) < 2:
        return None
    hi = max(committed)
    if hi < 0:
        # erasure-only store (no stream batch ever committed): nothing a
        # non-negative watermark could subsume — leave the spine alone
        return None

    shutil.rmtree(tmp, ignore_errors=True)
    committed_rows = spark.read.parquet(str(pdir)).filter(
        F.col("batch_id").isin([int(b) for b in committed])
    )
    (
        committed_rows.groupBy("kind", "i", "j")
        .agg(F.sum("val").alias("val"))
        .withColumn("batch_id", F.lit(int(hi)))
        .write.mode("overwrite")
        .partitionBy("batch_id")
        .parquet(str(tmp))
    )
    # watermark BEFORE the swap: if we crash mid-swap, every committed
    # batch is still readable (either its old dir or the merged one) and
    # still counted committed; a re-run (or the heal on the next
    # read/append) converges
    write_watermark(moments_dir, hi)
    # swap via retire-then-rename so no crash window loses data
    pdir.rename(retired)
    tmp.rename(pdir)
    shutil.rmtree(retired, ignore_errors=True)
    # collapse subsumed state: STREAM markers in [0, hi] (the watermark
    # takes over for them) and older watermarks. Erasure markers (negative
    # ids) are KEPT as tombstones — their partials merged into the hi dir,
    # but a caller retrying the same erasure_id must still see a no-op.
    collapse_stream_markers(moments_dir, hi, keep_negative=True)
    return hi
