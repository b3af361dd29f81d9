"""Substring-level deduplication operators (beyond-reference).

Two corpus-curation primitives that work BELOW document granularity —
document-level dedup (operators/dedup.py) keeps one copy of a near-dup
cluster, but says nothing about boilerplate or long verbatim repeats
*inside* otherwise-distinct documents:

- :func:`duplicate_spans` — find maximal word spans that occur verbatim
  elsewhere in the corpus (the ExactSubstr signal of Lee et al. 2022,
  "Deduplicating Training Data Makes Language Models Better"). Their
  suffix-array construction is a single-machine algorithm; the Spark-first
  re-expression is k-gram seeds + a gaps-and-islands merge — every
  duplicated substring of length ≥ k is exactly covered by a run of
  duplicated k-gram seeds, so merging consecutive duplicated seed
  positions recovers the maximal duplicated spans with no pairwise text
  comparison and no driver-side state.

- :func:`chunk_dedup` — CCNet-style shared-segment removal (Wenzek et al.
  2020 drop duplicated *paragraphs* before language modeling). The
  segmenter here is a fixed-width word chunk because the synthetic corpus
  has no newline structure; with real documents, swap ``_chunks`` for a
  split on ``\\n`` — the distributed shape (hash segments, count distinct
  documents per segment, drop shared segments, reassemble in order) is
  identical.

Scale shape (both): narrow posexplode, ONE shuffle keyed on the segment
hash to establish global frequency, one shuffle back on doc_id to merge or
reassemble. No pair generation anywhere — a segment shared by a million
documents costs a million rows in one partition-sized count, never a
million² join. A pathologically hot hash partition is bounded by total
corpus tokens, and the frequency side can be pre-aggregated (map-side
combine fires on the groupBy) so the skew ceiling is the count row, not
the occurrence list.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from scala_etl_test_spark.caching import tracked_persist

from scala_etl_test_spark.operators.dedup import keyed_hash, words
from scala_etl_test_spark.operators.partitioning import spread


def _kgram_seeds(docs: DataFrame, text_col: str, id_col: str, k: int) -> DataFrame:
    """(id, pos, gram_h) — hash of each k-word window; docs shorter than k
    words emit nothing (no k-gram exists). The transform over an index
    sequence stays JVM-side; pos is the 0-based start word index.

    The gram hash is :func:`dedup.keyed_hash` — md5 by default (the DuckDB
    oracles reproduce it) and xxhash64 under ``SPARK_GRAFT_HASH=xxhash64``;
    one digest per word position makes this the heaviest per-byte hash site
    in the engine, so the production flag matters most here. ``gram_h`` is
    an opaque equality key to everything downstream (frequency counts and
    seed joins), so the family/type swap is invisible to the span logic.

    :func:`partitioning.spread` first: the per-position fanout is
    ~10²-10³× the input rows, and a single-row-group source file would
    otherwise hand the whole explode to one task — the same layout trap measured and fixed for
    edit-distance/winnowing in r4 (the compact doc rows are cheap to
    shuffle relative to the fanout)."""
    w = F.col("_w")
    grams = F.transform(
        F.sequence(F.lit(0), F.size(w) - k),
        lambda i: keyed_hash(F.concat_ws(" ", F.slice(w, i + 1, k))),
    )
    return (
        spread(docs, id_col).select(F.col(id_col), words(text_col).alias("_w"))
        .filter(F.size("_w") >= k)
        .select(F.col(id_col), F.posexplode(grams).alias("pos", "gram_h"))
    )


def duplicate_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_count: int = 2,
    freq_mode: str = "agg",
) -> DataFrame:
    """Maximal duplicated word spans per document.

    A word position starts a *duplicated seed* when its k-gram occurs
    ``min_count``-or-more times corpus-wide (counting every occurrence,
    so in-document repeats count — same convention as ExactSubstr).
    Consecutive seed positions merge into islands; an island of seed
    positions [s..e] certifies the maximal duplicated span of words
    [s .. e+k-1].

    Returns (id, span_start, span_end, span_len) with word indices,
    one row per maximal span.

    Plan: scan → posexplode (narrow) → gram frequency (``freq_mode``) →
    filter → window row_number over (id, pos) + groupBy island (one
    shuffle keyed on id; the window and groupBy share it).

    ``freq_mode`` picks the frequency-establishing shape (equivalence is
    test-pinned):

    - ``"agg"`` (default, the 100 TB shape): groupBy(gram_h) count +
      equi-join of seeds against the ≥min_count gram set. Partial
      aggregation combines a hot gram map-side (a boilerplate gram shared
      by 10⁷ documents reaches the shuffle as one row per task, not 10⁷
      rows in one partition), the post-filter gram set is usually small →
      broadcast join, and if it isn't, the shuffle join is AQE-skew-split.
    - ``"window"``: a single count-over-gram_h window — one shuffle total,
      fewer stages, fine when gram frequencies are near-uniform (no
      map-side combine, and a hot gram serializes into one sort
      partition that AQE cannot split; local benches at small SF favor
      it, a crawl corpus does not).
    """
    seeds = _kgram_seeds(docs, text_col, id_col, k)
    if freq_mode == "agg":
        # persist: the frequency aggregate and the seed join both consume
        # the scan→explode→md5 subtree (same policy as the minhash shingle
        # table — memory-and-disk, caller owns the action, self-evicting).
        # At extreme corpus scale where persisting the seed table is worse
        # than re-scanning, drop the persist and accept the double scan, or
        # use freq_mode="window" where skew permits.
        seeds = seeds.transform(tracked_persist)
        dup_grams = (
            seeds.groupBy("gram_h")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") >= min_count)
            .select("gram_h")
        )
        dup_seeds = seeds.join(dup_grams, on="gram_h")
    elif freq_mode == "window":
        n_occ = F.count(F.lit(1)).over(Window.partitionBy("gram_h"))
        dup_seeds = seeds.withColumn("_n", n_occ).filter(F.col("_n") >= min_count)
    else:  # pragma: no cover - guarded misuse
        raise ValueError(f"freq_mode must be 'agg' or 'window', got {freq_mode!r}")
    return _merge_islands(dup_seeds, id_col, k)


def _merge_islands(dup_seeds: DataFrame, id_col: str, k: int) -> DataFrame:
    """(id, span_start, span_end, span_len) from duplicated seed positions:
    consecutive positions share (pos − row_number) — gaps-and-islands —
    and an island [s..e] covers words [s .. e+k-1]. Shared by the full and
    incremental span paths."""
    rn = F.row_number().over(Window.partitionBy(id_col).orderBy("pos"))
    return (
        dup_seeds.withColumn("_grp", F.col("pos") - rn)
        .groupBy(id_col, "_grp")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + k - 1).cast("long").alias("span_end"),
        )
        .select(
            id_col,
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_len"),
        )
    )


def duplicate_span_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_count: int = 2,
    freq_mode: str = "agg",
) -> DataFrame:
    """Per-document rollup of :func:`duplicate_spans`: how much of each
    document is verbatim-duplicated elsewhere — the gate signal (drop or
    trim documents whose duplicated fraction exceeds a threshold).

    Returns (id, n_words, n_spans, dup_words, dup_frac); documents with no
    duplicated span report zeros (left join back to the corpus).

    ``dup_words`` is the UNION of span word-coverage, not the sum of span
    lengths: two maximal spans from islands closer than k seed positions
    overlap (islands {0} and {2} at k=8 cover [0..7] and [2..9] — 10
    distinct words, not 16), and summing lengths would double-count the
    overlap and let dup_frac exceed 1. The union is a running-max window
    over span_end per document: each span contributes only the words past
    every earlier span's furthest end."""
    spans = duplicate_spans(docs, text_col, id_col, k=k, min_count=min_count, freq_mode=freq_mode)
    prev_end = F.max("span_end").over(
        Window.partitionBy(id_col)
        .orderBy("span_start")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    covered = F.greatest(
        F.col("span_end") - F.greatest(F.col("span_start") - 1, F.coalesce(prev_end, F.lit(-1))),
        F.lit(0),
    )
    per_doc = (
        spans.withColumn("_covered", covered)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum("_covered").alias("dup_words"),
        )
    )
    base = docs.select(
        F.col(id_col),
        F.size(F.filter(words(text_col), lambda t: t != "")).cast("long").alias("n_words"),
    )
    return base.join(per_doc, on=id_col, how="left").select(
        id_col,
        "n_words",
        F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
        F.coalesce("dup_words", F.lit(0)).cast("long").alias("dup_words"),
        F.round(
            F.when(
                F.col("n_words") > 0,
                F.coalesce("dup_words", F.lit(0)) / F.col("n_words"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("dup_frac"),
    )


def build_gram_index(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 8
) -> DataFrame:
    """(gram_h, n_occ) corpus gram-frequency index — the persistent state
    for :func:`incremental_duplicate_spans`. Write to parquet once (at
    scale: bucketed/partitioned by a gram_h prefix so batch probes prune);
    merge per-batch deltas with :func:`merge_gram_index`."""
    return (
        _kgram_seeds(docs, text_col, id_col, k)
        .groupBy("gram_h")
        .agg(F.count(F.lit(1)).alias("n_occ"))
    )


def merge_gram_index(index: DataFrame, delta: DataFrame) -> DataFrame:
    """Absorb a batch delta into the gram index (sum counts per gram)."""
    return (
        index.unionByName(delta)
        .groupBy("gram_h")
        .agg(F.sum("n_occ").alias("n_occ"))
    )


def incremental_duplicate_spans(
    new_docs: DataFrame,
    index_grams: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Duplicate spans for an ingest batch against a persisted gram index
    (:func:`build_gram_index`) — the continuous-ingest twin of
    :func:`duplicate_spans`, same pattern as the incremental MinHash path.

    A batch gram is duplicated when (batch occurrences + indexed corpus
    occurrences) ≥ ``min_count`` — exactly the global frequency a full run
    over corpus ∪ batch would see, so the emitted spans equal the full
    run's spans restricted to batch ids (test-pinned). Ingest-time gating
    semantics, same as the incremental MinHash index: a gram that only
    LATER becomes duplicated does not retroactively re-flag earlier
    batches — that requires a periodic full re-run.

    Scale: only the batch is seeded; the corpus index is probed by
    equi-join on gram_h against the batch's (small) gram-count table —
    Catalyst broadcasts the batch side, so the index is scanned, never
    shuffled, and a partitioned on-disk index prunes the scan too. Work
    scales with batch size and gram hit rate, not corpus size.

    The result is materialized eagerly so the batch seed cache can be
    released before returning — a long-lived ingest session calling this
    per batch must not accumulate one persisted seed table per batch
    (same lifecycle contract as ``incremental_near_duplicates``)."""
    seeds = _kgram_seeds(new_docs, text_col, id_col, k).transform(tracked_persist)
    batch_counts = seeds.groupBy("gram_h").agg(F.count(F.lit(1)).alias("_n_new"))
    probed = index_grams.join(
        F.broadcast(batch_counts.select("gram_h")), on="gram_h", how="left_semi"
    )
    dup_grams = (
        batch_counts.join(probed, on="gram_h", how="left")
        .filter(F.col("_n_new") + F.coalesce("n_occ", F.lit(0)) >= min_count)
        .select("gram_h")
    )
    result = _merge_islands(seeds.join(dup_grams, on="gram_h"), id_col, k).localCheckpoint(
        eager=True
    )
    seeds.unpersist()
    return result


def _chunks(w, chunk_words: int):
    """Fixed-width word chunks of an already-materialized words array:
    chunk i covers words [i*chunk_words, (i+1)*chunk_words). The last chunk
    may be short. Empty docs yield no chunks."""
    n_chunks = F.ceil(F.size(w) / F.lit(chunk_words)).cast("int")
    return F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat_ws(" ", F.slice(w, i * chunk_words + 1, chunk_words)),
    )


def chunk_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_words: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Shared-segment (boilerplate) removal: drop every chunk whose exact
    text appears in ``min_docs``-or-more DISTINCT documents, and reassemble
    each document from its surviving chunks in order.

    Distinct-document counting (not occurrence counting) is what makes
    this boilerplate removal rather than self-repetition trimming: a chunk
    repeated inside one document survives; a header shared across many
    documents is removed from all of them.

    Returns (id, clean_text, n_chunks, n_kept); a fully-boilerplate
    document keeps an empty clean_text rather than disappearing.

    Plan: posexplode chunks (narrow) → groupBy chunk hash with
    count_distinct(doc) (shuffle 1, map-side partial aggregation) →
    broadcast-free semi-structure join back on the hash (shuffle 2) →
    groupBy doc with an order-preserving sort_array(collect_list(struct))
    reassembly (shuffle 3, keyed on id). The boilerplate side after the
    frequency filter is tiny (shared chunks only) — Catalyst/AQE broadcasts
    it when statistics allow, collapsing shuffle 2.
    """
    # persist: three consumers share the scan→split→chunk-explode subtree
    # (frequency count, removal anti-join, per-doc chunk totals) — same
    # caller-owns-the-action policy as the span seed / shingle tables
    ex = (
        docs.select(F.col(id_col), words(text_col).alias("_w"))
        .filter(F.size(F.filter("_w", lambda t: t != "")) > 0)
        .select(F.col(id_col), F.posexplode(_chunks(F.col("_w"), chunk_words)).alias("cidx", "chunk"))
        .withColumn("chunk_h", F.md5("chunk"))
        .transform(tracked_persist)
    )
    boiler = (
        ex.groupBy("chunk_h")
        .agg(F.count_distinct(F.col(id_col)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("chunk_h")
    )
    kept = ex.join(boiler, on="chunk_h", how="left_anti")
    reassembled = kept.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(F.collect_list(F.struct("cidx", "chunk"))),
                lambda s: s["chunk"],
            ),
        ).alias("clean_text"),
        F.count(F.lit(1)).cast("long").alias("n_kept"),
    )
    # the doc universe and per-doc chunk totals come FROM the exploded
    # table (n_chunks = max cidx + 1), not a third scan of the source
    base = ex.groupBy(id_col).agg(
        (F.max("cidx") + 1).cast("long").alias("n_chunks")
    )
    return base.join(reassembled, on=id_col, how="left").select(
        id_col,
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        "n_chunks",
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
    )


def _word_boundary_flag(w: Column, avg_words: int) -> Column:
    """1 where a chunk boundary falls AFTER this word: the word's own hash
    selects it with probability 1/avg_words — boundaries depend only on
    LOCAL content, never on position."""
    h = F.conv(F.substring(F.md5(w), 1, 8), 16, 10).cast("long")
    return (h % avg_words == 0).cast("int")


def cdc_chunk_dedup(
    docs: DataFrame,
    text_col: str,
    id_col: str = "doc_id",
    avg_words: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Content-defined-chunking boilerplate removal — the SHIFT-RESISTANT
    twin of :func:`chunk_dedup`. Fixed word windows lose every chunk
    alignment after a single leading insertion (every window slides by
    one); here a chunk boundary falls after any word whose hash selects it
    (p = 1/avg_words, so chunks average ``avg_words`` words), which
    depends only on the words themselves — after an insertion the chunking
    RE-SYNCHRONIZES at the next boundary word, and the unchanged tail
    still dedups. The storage-dedup (Rabin/gear CDC) idea at word
    granularity.

    Same contract as chunk_dedup: drop chunks whose exact text appears in
    ``min_docs``+ DISTINCT documents, reassemble survivors in order;
    returns (id, clean_text, n_chunks, n_kept).

    Plan: posexplode words (narrow) → per-doc running boundary count (one
    window shuffle keyed by doc) assigns chunk ids → groupBy (doc, chunk)
    rebuilds chunk texts → the same count-distinct/anti-join/reassembly
    pipeline as the fixed-window variant. One extra shuffle versus
    chunk_dedup buys the shift resistance.
    """
    from pyspark.sql import Window

    w_doc = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    toks = (
        docs.select(F.col(id_col), words(text_col).alias("_w"))
        .filter(F.size(F.filter("_w", lambda t: t != "")) > 0)
        .select(F.col(id_col), F.posexplode("_w").alias("pos", "word"))
        .withColumn("_b", _word_boundary_flag(F.col("word"), avg_words))
    )
    # chunk id = boundaries strictly BEFORE this word (running sum)
    chunked = toks.withColumn(
        "cidx", F.coalesce(F.sum("_b").over(w_doc), F.lit(0)).cast("long")
    )
    ex = (
        chunked.groupBy(id_col, "cidx")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "word"))),
                    lambda s: s["word"],
                ),
            ).alias("chunk")
        )
        .withColumn("chunk_h", F.md5("chunk"))
        .transform(tracked_persist)
    )
    boiler = (
        ex.groupBy("chunk_h")
        .agg(F.count_distinct(F.col(id_col)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("chunk_h")
    )
    kept = ex.join(boiler, on="chunk_h", how="left_anti")
    reassembled = kept.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(F.collect_list(F.struct("cidx", "chunk"))),
                lambda s: s["chunk"],
            ),
        ).alias("clean_text"),
        F.count(F.lit(1)).cast("long").alias("n_kept"),
    )
    base = ex.groupBy(id_col).agg((F.max("cidx") + 1).cast("long").alias("n_chunks"))
    return base.join(reassembled, on=id_col, how="left").select(
        id_col,
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        "n_chunks",
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
    )
