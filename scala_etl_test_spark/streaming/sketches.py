"""Continuous heavy hitters: mergeable Count-Min state over a stream.

CMS is a linear sketch — counter grids ADD — so the streaming form needs
no special algorithm: each micro-batch reduces to one ``d×w`` grid
(map-side combined inside the batch), and merging the per-batch grids is
exact, order-independent, and equals the single-pass sketch over the
concatenated data. That equality is pinned in
``tests/test_streaming.py`` (stream-vs-batch estimate parity), the same
verification stance as the batch operator's in-band ε·N bound
(:mod:`operators.sketches`).

Replay safety (``foreachBatch`` is at-least-once): each batch's sketch
lands in its own ``batch_id=N`` partition via the same idempotent
overwrite as the LSH-index deltas (:func:`streaming.dedup._write_delta`)
— a replayed batch REPLACES its grid instead of double-counting into an
accumulated state. State size is one ``d×w`` grid (a few KB) per batch,
foldable at any time because merge is associative.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from scala_etl_test_spark.operators.sketches import cms_sketch_agg, read_cms
from scala_etl_test_spark.streaming.dedup import _write_delta

CMS_EPS = 0.001
CMS_CONFIDENCE = 0.99
CMS_SEED = 42


def _batch_sketch(df: DataFrame, col: str, eps: float, confidence: float, seed: int):
    return df.agg(
        cms_sketch_agg(col, eps, confidence, seed).alias("sketch"),
        F.count(F.lit(1)).alias("n"),
    )


def stream_absorb_cms(
    stream_df: DataFrame,
    col: str,
    state_dir: str,
    checkpoint_dir: str,
    eps: float = CMS_EPS,
    confidence: float = CMS_CONFIDENCE,
    seed: int = CMS_SEED,
) -> None:
    """Drain the stream (AvailableNow), reducing each micro-batch to one
    CMS grid + row count, written idempotently per batch."""

    def absorb(batch_df: DataFrame, batch_id: int) -> None:
        _write_delta(
            _batch_sketch(batch_df, col, eps, confidence, seed),
            state_dir,
            batch_id,
            single_file=True,
        )

    q = (
        stream_df.writeStream.foreachBatch(absorb)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def read_merged_cms(spark: SparkSession, state_dir: str):
    """Fold all per-batch grids into one sketch: returns (jvm CountMinSketch,
    total rows). Driver-side model-artifact work — each grid is a few KB."""
    rows = spark.read.parquet(state_dir).select("sketch", "n").collect()
    merged = None
    total = 0
    for r in rows:
        # defensive only: count_min_sketch over ZERO rows still returns a
        # serialized (empty) sketch, not NULL — verified in this env
        if r["sketch"] is None:
            continue
        s = read_cms(spark, r["sketch"])
        total += int(r["n"])
        if merged is None:
            merged = s
        else:
            merged.mergeInPlace(s)
    return merged, total


def streaming_heavy_hitters(
    spark: SparkSession,
    state_dir: str,
    candidates: list[int],
) -> DataFrame:
    """Point-query the merged stream state for candidate keys:
    (key, estimate, stream_total). Estimates inherit the absorbing
    sketch's CMS guarantee relative to ``stream_total`` rows (exact ≤ est
    ≤ exact + ε·N w.p. 1−δ for the ε the state was built with); the bound
    itself is checked batch-side by
    :func:`operators.sketches.cms_heavy_hitters`, which has the exact
    counts this point query deliberately avoids."""
    sketch, total = read_merged_cms(spark, state_dir)
    jvm = spark._jvm
    out = []
    for key in candidates:
        est = 0 if sketch is None else sketch.estimateCount(jvm.java.lang.Long(int(key)))
        out.append((int(key), int(est), int(total)))
    return spark.createDataFrame(out, "key long, estimate long, stream_total long")
