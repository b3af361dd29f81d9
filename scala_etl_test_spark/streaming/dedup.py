"""Continuous corpus dedup: incremental LSH dedup over a document stream.

Each micro-batch dedups against the persisted MinHash/LSH index (probing
only the buckets the batch touches — work ∝ batch size, never corpus size,
see :func:`operators.dedup.incremental_near_duplicates`) and is then
absorbed into the index, so later batches see it. Because every batch
dedups against the-corpus-so-far, the union of all emitted pairs equals
what one full-corpus run would produce — exact streaming/batch
equivalence, test-pinned.

``foreachBatch`` is the right streaming primitive here (not a stateful
operator): the LSH index is far too large for stream state and already
lives as partitioned parquet; each trigger is a bounded batch job against
it.

Replay safety (foreachBatch is at-least-once): both writes are
batch-scoped and idempotent under re-run —

- pair output: ``batch_id=N`` partition, dynamic partition overwrite, so
  a replayed batch REPLACES its own pairs instead of appending duplicates;
- index absorption: the batch's shingle/band deltas land in their own
  ``batch_id=N`` partition the same way. A plain append here would be a
  real corruption bug: duplicated shingle rows inflate set sizes in the
  Jaccard verification of every later batch.

The batch is shingled/hashed ONCE: the delta tables are built first,
localCheckpoint'ed, passed into the dedup (which otherwise recomputes
them), and then written as the absorption delta.

Scale note: per-batch deltas mean many small files over time; compact
periodically (``write_compacted``) so the band table's file count stays
bounded — the probe is an equi-join on (band_idx, band_hash), which
partition-prunes when the compacted index is bucketed on those keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from scala_etl_test_spark.operators.cluster import _checkpoint_counted, _grow_to_fixpoint
from scala_etl_test_spark.operators.dedup import (
    build_minhash_index,
    incremental_near_duplicates,
)


def _write_delta(df: DataFrame, path: str, batch_id: int, single_file: bool = False) -> None:
    """Idempotent batch-scoped write: each batch owns the
    ``batch_id=<n>`` subdirectory and a replay overwrites exactly that
    directory (partition discovery exposes ``batch_id`` as a prunable
    column on read). ``single_file`` forces one task so an EMPTY frame
    still writes a schema-bearing parquet file — ``partitionBy`` on an
    empty frame writes nothing at all, which would leave the seed index
    unreadable."""
    out = df.repartition(1) if single_file else df
    out.write.mode("overwrite").parquet(f"{path}/batch_id={int(batch_id)}")


def init_index(
    spark: SparkSession,
    index_dir: str,
    seed_docs: DataFrame | None,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    rows: int = 4,
    shingle_n: int = 3,
) -> None:
    """Materialize the persistent LSH index at ``index_dir`` (shingles/ +
    bands/), from a seed corpus or empty. The empty form derives its
    schemas from :func:`build_minhash_index` over an empty frame — a
    hand-written schema that drifts from the real shingle table would make
    the first absorption produce a mixed-schema parquet directory."""
    empty_seed = seed_docs is None
    if empty_seed:
        seed_docs = spark.createDataFrame([], f"{id_col} BIGINT, {text_col} STRING")
    shingles, band_t = build_minhash_index(
        seed_docs, text_col, id_col, num_hashes, bands, rows, shingle_n
    )
    # single_file only for the empty seed: it guarantees a schema-bearing
    # file; a real seed corpus keeps its parallel write
    _write_delta(shingles, f"{index_dir}/shingles", -1, single_file=empty_seed)
    _write_delta(band_t, f"{index_dir}/bands", -1, single_file=empty_seed)


def compact_index(
    spark: SparkSession,
    index_dir: str,
    out_dir: str,
    through_batch_id: int,
    target_mb: int = 128,
) -> None:
    """Fold the index's per-batch deltas UP TO ``through_batch_id``
    (inclusive — pass the last batch the checkpoint has COMMITTED) into one
    size-targeted baseline at ``out_dir``; newer deltas are carried over
    verbatim, keeping their own ``batch_id=N`` directories. Written to a
    fresh directory the caller swaps when ready — side-effect-free on the
    live index.

    ``through_batch_id`` is the replay-safety boundary, not a convenience:
    folding a not-yet-committed batch into the ``batch_id=-1`` baseline
    would put it out of reach of the probe's ``batch_id < N`` replay guard
    (stream_incremental_dedup), so a post-crash replay of that batch would
    see its own shingles in the index and double-count set sizes.

    Run periodically: every micro-batch adds a delta directory, and a year
    of 5-minute batches is ~100k directories whose listing alone throttles
    an object store. The band table is RANGE-partitioned on its bucket key
    before writing (each (band_idx, band_hash) lands in one file), so a
    probe prunes at file level via parquet min/max stats — a round-robin
    layout would scatter every key across every file."""
    from scala_etl_test_spark.sources.sinks import write_compacted

    for table, sort_by in (("shingles", None), ("bands", ["band_idx", "band_hash"])):
        full = spark.read.parquet(f"{index_dir}/{table}")
        committed = full.filter(F.col("batch_id") <= through_batch_id).drop("batch_id")
        write_compacted(
            committed,
            f"{out_dir}/{table}/batch_id=-1",
            target_mb=target_mb,
            sort_by=sort_by,
            range_partition=sort_by is not None,
        )
        newer = [
            r["batch_id"]
            for r in full.select("batch_id").distinct().collect()
            if r["batch_id"] > through_batch_id
        ]
        for bid in newer:
            _write_delta(
                full.filter(F.col("batch_id") == bid).drop("batch_id"),
                f"{out_dir}/{table}",
                bid,
            )


def dedup_events_within_watermark(
    stream: DataFrame,
    id_cols: list[str] | None = None,
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Event dedup on an unbounded stream, WITHIN the watermark horizon:
    ``dropDuplicatesWithinWatermark`` keeps per-key state only for the
    watermark window, so duplicate deliveries (at-least-once sources,
    producer retries) arriving inside that window are dropped with BOUNDED
    state — a plain ``dropDuplicates`` on a stream would grow its state
    forever.

    The guarantee is explicitly bounded, not exactly-once: a redelivery
    whose event time lands AFTER the original's state was evicted (more
    than ``watermark`` later) is emitted again. That is the inherent
    trade: unbounded-horizon dedup needs unbounded state — push it to a
    downstream MERGE (operators/merge.py) or widen the watermark.

    This is the streaming twin of the batch first-row-wins dedup
    (operators/segmentation.py, SURVEY §2.4 A3): same keys, the stream
    form just bounds memory by event-time instead of seeing all history.
    """
    keys = id_cols or ["event_id"]
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def stream_incremental_dedup(
    stream_docs: DataFrame,
    index_dir: str,
    out_dir: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    rows: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
):
    """Start (AvailableNow) the streaming dedup: near-dup pairs land in
    ``out_dir`` partitioned by batch id; each batch is absorbed into the
    index after it is deduped against the prior state."""
    spark = stream_docs.sparkSession
    kw = dict(num_hashes=num_hashes, bands=bands, rows=rows, shingle_n=shingle_n)

    def _process(batch: DataFrame, batch_id: int) -> None:
        if not batch.head(1):
            return
        # probe the index AS OF before this batch: on replay the index may
        # already contain this batch's own absorbed delta, and probing it
        # would double the batch's shingles in the Jaccard set sizes. The
        # batch_id predicate partition-prunes, it does not scan.
        idx_shingles = (
            spark.read.parquet(f"{index_dir}/shingles")
            .filter(F.col("batch_id") < batch_id)
            .drop("batch_id")
        )
        idx_bands = (
            spark.read.parquet(f"{index_dir}/bands")
            .filter(F.col("batch_id") < batch_id)
            .drop("batch_id")
        )
        # build the batch's delta ONCE (materialized), reuse it for both
        # the dedup probe and the index absorption
        delta_shingles, delta_bands = build_minhash_index(batch, text_col, id_col, **kw)
        delta_shingles = delta_shingles.localCheckpoint(eager=True)
        delta_bands = delta_bands.localCheckpoint(eager=True)
        pairs = incremental_near_duplicates(
            batch,
            idx_shingles,
            idx_bands,
            text_col,
            id_col,
            threshold=threshold,
            new_shingles=delta_shingles,
            new_bands=delta_bands,
            **kw,
        )
        _write_delta(pairs, out_dir, batch_id)
        _write_delta(delta_shingles, f"{index_dir}/shingles", batch_id)
        _write_delta(delta_bands, f"{index_dir}/bands", batch_id)

    return (
        stream_docs.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def forget_from_index(
    spark: SparkSession,
    index_dir: str,
    out_dir: str,
    optout: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    closure_rounds: int = 3,
    max_bucket: int = 1000,
) -> dict:
    """Right-to-be-forgotten for the persisted LSH index — the streaming
    twin of ``operators/cluster.forget_documents``, with the near-dup
    CONTENT closure computed FROM THE INDEX ALONE (no document text):
    the doomed set starts as the opt-out ids and expands through verified
    near-dup neighbors — a band-bucket probe restricted to the doomed
    ids' buckets plus exact-Jaccard verification over the STORED shingle
    sets (``incremental_near_duplicates`` with the doomed rows passed as
    the pre-built "batch") — iterated to a fixpoint. Near-dup clusters
    are tiny cliques (diameter 2–3), so ``closure_rounds`` bounds the
    loop the same way the CC convergence probes do. Per-round cost,
    precisely (ADVICE r8): the SHUFFLE/VERIFY work — bucket probes, pair
    generation, Jaccard verification — is ∝ |doomed| × bucket hit rate,
    but each round also pays one full SCAN of the stored shingles/bands
    (the doomed/clean anti-join splits read the whole index; scan-bound,
    no shuffle). With closure_rounds defaulting to 3 that is ≤3 linear
    scans total — the alternative (materializing the anti-joined index
    per round to scan incrementally) would WRITE a near-full index copy
    per round, which is strictly worse. Each round's growth count is
    observed on that round's own checkpoint job (the loop is
    ``operators/cluster._grow_to_fixpoint``), so no round runs a count job.

    The erased index is written to ``out_dir`` PRESERVING the per-batch
    ``batch_id=N`` delta layout (the stream's replay guards keep
    working); the caller swaps directories when ready — the same
    side-effect-free contract as :func:`compact_index`. This is a
    maintenance tool, not a plan-build path: it runs bounded jobs by
    design. Returns ``{"n_optout", "n_forgotten", "rounds", "converged"}``
    — ``converged=False`` means the doomed set was STILL GROWING when
    ``closure_rounds`` ran out (a longer-than-expected near-dup chain):
    the erasure is then a truncated closure and the caller must re-run
    with a higher bound (or treat it as a failed deletion request) rather
    than trust the audit.
    """
    shingles_full = spark.read.parquet(f"{index_dir}/shingles")
    bands_full = spark.read.parquet(f"{index_dir}/bands")
    idx_shingles = shingles_full.drop("batch_id")
    idx_bands = bands_full.drop("batch_id")
    empty_docs = spark.createDataFrame([], f"{id_col} BIGINT, {text_col} STRING")

    opt_col = id_col if id_col in optout.columns else optout.columns[0]
    seeds, n_optout = _checkpoint_counted(
        optout.select(F.col(opt_col).alias(id_col)).distinct(), F.lit(True)
    )

    def probe(_frontier: DataFrame, doomed: DataFrame, _round: int) -> DataFrame:
        d_shingles = idx_shingles.join(doomed, on=id_col, how="left_semi").localCheckpoint(
            eager=True
        )
        d_bands = idx_bands.join(doomed, on=id_col, how="left_semi").localCheckpoint(
            eager=True
        )
        # The doomed rows are the probe "batch", so they must be EXCLUDED
        # from the index side — the probe unions index+new, and duplicated
        # (id, sh_h)/(id, band) rows violate _pair_overlap's distinct-rows
        # precondition: size_a/n_common double, inflating Jaccard past the
        # threshold (over-erasure of clean neighbors) while inflated
        # bucket_size trips the max_bucket cap (true near-dups silently
        # surviving erasure). Same hazard the stream's batch_id < N replay
        # guard exists for (stream_incremental_dedup).
        pairs = incremental_near_duplicates(
            empty_docs,
            idx_shingles.join(doomed, on=id_col, how="left_anti"),
            idx_bands.join(doomed, on=id_col, how="left_anti"),
            text_col,
            id_col,
            threshold=threshold,
            max_bucket=max_bucket,
            new_shingles=d_shingles,
            new_bands=d_bands,
        )
        return (
            pairs.select(F.col("id_a").alias(id_col))
            .union(pairs.select(F.col("id_b").alias(id_col)))
            .distinct()
            .join(doomed, on=id_col, how="left_anti")
        )

    doomed, n_added, rounds, converged = _grow_to_fixpoint(probe, seeds, closure_rounds)

    import os

    for table, full in (("shingles", shingles_full), ("bands", bands_full)):
        batch_ids = [r["batch_id"] for r in full.select("batch_id").distinct().collect()]
        for bid in sorted(batch_ids):
            kept = full.filter(F.col("batch_id") == bid).drop("batch_id").join(
                doomed, on=id_col, how="left_anti"
            )
            _write_delta(kept, f"{out_dir}/{table}", bid)
        # a fully-erased table can leave zero data files (empty writes may
        # drop no part files): re-seed the -1 baseline with a single
        # schema-bearing empty file so later reads never fail inference —
        # the same guarantee init_index makes for an empty seed
        has_files = any(
            f.endswith(".parquet")
            for root, _dirs, names in os.walk(f"{out_dir}/{table}")
            for f in names
        )
        if not has_files:
            _write_delta(
                full.drop("batch_id").limit(0), f"{out_dir}/{table}", -1, single_file=True
            )

    return {
        "n_optout": n_optout,
        "n_forgotten": n_optout + n_added,
        "rounds": rounds,
        "converged": converged or n_optout == 0,
    }
