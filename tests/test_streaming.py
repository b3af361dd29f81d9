"""Structured Streaming operators: checkpointed incremental ingestion,
watermarked windowed rollup, session windows, custom stateful sessionize.

Parity strategy: each streaming operator is drained with
``Trigger.AvailableNow`` over the same data its batch twin reads, and the
results must match the batch answer exactly (batch/stream unification)."""

from __future__ import annotations

import pathlib
import shutil

import pytest

from pyspark.sql import functions as F

from scala_etl_test_spark.plans.queries import q_events_hourly_rollup, q_events_sessionize
from scala_etl_test_spark.sources.csv_source import read_orders_csv
from scala_etl_test_spark.sources.parquet_source import read_table
from scala_etl_test_spark.streaming import (
    hourly_rollup,
    run_available_now,
    session_windows,
    stateful_user_sessions,
    stream_events_parquet,
    stream_orders_csv,
)

from tests.fixtures import orders_csv_text, orders_rows


def _rows(spark, name):
    return {tuple(r) for r in spark.sql(f"SELECT * FROM {name}").collect()}


@pytest.fixture()
def events_dir(sf_dir, tmp_path):
    d = tmp_path / "events_stream"
    d.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", d / "part-000.parquet")
    return str(d)


def test_stream_csv_incremental_exactly_once(spark, tmp_path):
    """The checkpoint replaces the file-number watermark: a second run over
    the same directory picks up ONLY files added since the first run."""
    csv_dir = tmp_path / "csv"
    csv_dir.mkdir()
    rows = orders_rows()
    (csv_dir / "00.csv").write_text(orders_csv_text(rows[:4]))
    (csv_dir / "01.csv").write_text(orders_csv_text(rows[4:8]))
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    sdf = stream_orders_csv(spark, str(csv_dir))
    run_available_now(sdf, ckpt, query_name="inc1", sink_format="parquet", sink_path=out)
    assert spark.read.parquet(out).count() == 8

    # new file arrives; same checkpoint → only its rows are appended
    (csv_dir / "02.csv").write_text(orders_csv_text(rows[8:10]))
    sdf = stream_orders_csv(spark, str(csv_dir))
    run_available_now(sdf, ckpt, query_name="inc2", sink_format="parquet", sink_path=out)
    total = spark.read.parquet(out).count()

    batch = read_orders_csv(spark, f"file://{csv_dir}")
    assert total == batch.count() == len(rows)


def test_stream_csv_drops_malformed(spark, tmp_path):
    csv_dir = tmp_path / "csv"
    csv_dir.mkdir()
    (csv_dir / "00.csv").write_text(orders_csv_text(orders_rows()[:5], malformed=3))
    sdf = stream_orders_csv(spark, str(csv_dir)).filter(F.col("order_id").isNotNull())
    run_available_now(sdf, str(tmp_path / "ckpt"), query_name="malformed_stream")
    assert spark.sql("SELECT * FROM malformed_stream").count() == 5


def test_stream_hourly_rollup_matches_batch(spark, sf_dir, events_dir, tmp_path):
    sdf = hourly_rollup(stream_events_parquet(spark, events_dir), watermark="2 hours")
    run_available_now(
        sdf, str(tmp_path / "ckpt"), output_mode="complete", query_name="rollup_stream"
    )
    got = _rows(spark, "rollup_stream")
    want = {tuple(r) for r in q_events_hourly_rollup(spark, sf_dir).collect()}
    assert got == want


def test_stream_sliding_rollup_matches_batch(spark, sf_dir, events_dir, tmp_path):
    """Overlapping windows (1h/15min) in complete mode must reproduce the
    batch events_sliding_window result exactly."""
    from scala_etl_test_spark.plans.queries import q_events_sliding_window
    from scala_etl_test_spark.streaming import sliding_rollup

    sdf = sliding_rollup(stream_events_parquet(spark, events_dir), watermark="2 hours")
    run_available_now(
        sdf, str(tmp_path / "ckpt"), output_mode="complete", query_name="sliding_stream"
    )
    got = _rows(spark, "sliding_stream")
    want = {tuple(r) for r in q_events_sliding_window(spark, sf_dir).collect()}
    assert got == want


def test_stream_events_empty_dir_startup(spark, tmp_path):
    """A not-yet-populated source directory is a normal streaming startup
    state: the footer probe has nothing to read, so the source must fall
    back to the declared schema instead of raising AnalysisException."""
    empty = tmp_path / "events_empty"
    empty.mkdir()
    sdf = stream_events_parquet(spark, str(empty))
    assert sdf.isStreaming
    assert dict((f.name, f.dataType.simpleString()) for f in sdf.schema.fields)["ts"] in (
        "timestamp",
        "timestamp_ntz",
    )


def test_stream_rollup_restart_picks_up_new_files(spark, sf_dir, events_dir, tmp_path):
    """Checkpointed aggregation across restarts: a second availableNow run
    over the same checkpoint folds ONLY the new file into the running state
    (complete mode re-emits the merged result)."""
    ckpt = str(tmp_path / "ckpt")
    sdf = hourly_rollup(stream_events_parquet(spark, events_dir))
    run_available_now(sdf, ckpt, output_mode="complete", query_name="rollup_r1")
    first = {
        (r["hour_bucket"], r["event_type"]): r["n_events"]
        for r in spark.sql("SELECT * FROM rollup_r1").collect()
    }

    shutil.copy(f"{sf_dir}/events.parquet", pathlib.Path(events_dir) / "part-001.parquet")
    sdf = hourly_rollup(stream_events_parquet(spark, events_dir))
    run_available_now(sdf, ckpt, output_mode="complete", query_name="rollup_r2")
    second = {
        (r["hour_bucket"], r["event_type"]): r["n_events"]
        for r in spark.sql("SELECT * FROM rollup_r2").collect()
    }
    # same data twice → every group count exactly doubles (state restored,
    # old file not reprocessed, new file folded in)
    assert second == {k: 2 * v for k, v in first.items()}


def test_session_window_batch_matches_lag_formulation(spark, sf_dir):
    """Native session_window == the lag/cumsum sessionization, per user."""
    per_session = session_windows(read_table(spark, sf_dir, "events"))
    got = {
        tuple(r)
        for r in per_session.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            F.sum("n_events").cast("long").alias("n_events"),
        )
        .collect()
    }
    want = {tuple(r) for r in q_events_sessionize(spark, sf_dir).collect()}
    assert got == want


def test_stateful_sessions_match_batch(spark, sf_dir, events_dir, tmp_path):
    """applyInPandasWithState running totals on a drained stream == batch."""
    sdf = stateful_user_sessions(stream_events_parquet(spark, events_dir))
    run_available_now(
        sdf, str(tmp_path / "ckpt"), output_mode="update", query_name="stateful_sessions"
    )
    got = _rows(spark, "stateful_sessions")
    want = {tuple(r) for r in q_events_sessionize(spark, sf_dir).collect()}
    assert got == want


def test_stream_pii_and_text_stats_match_batch(spark, sf_dir, tmp_path):
    """Row-local curation ops (PII scan/redaction, quality stats) apply to a
    document stream unchanged in append mode and match the batch answer —
    continuous-ingest curation needs no separate code path."""
    from scala_etl_test_spark.operators.pii import detect_pii
    from scala_etl_test_spark.operators.text import text_stats
    from scala_etl_test_spark.streaming import stream_documents_parquet

    docs_dir = tmp_path / "docs_stream"
    docs_dir.mkdir()
    shutil.copy(f"{sf_dir}/documents.parquet", docs_dir / "part-000.parquet")

    sdf = stream_documents_parquet(spark, str(docs_dir))
    run_available_now(
        detect_pii(sdf, "text", "doc_id"), str(tmp_path / "ckpt_pii"), query_name="pii_stream"
    )
    batch_docs = read_table(spark, sf_dir, "documents")
    assert _rows(spark, "pii_stream") == {
        tuple(r) for r in detect_pii(batch_docs, "text", "doc_id").collect()
    }

    run_available_now(
        text_stats(sdf, "text", "doc_id"), str(tmp_path / "ckpt_stats"), query_name="stats_stream"
    )
    want = {tuple(r) for r in text_stats(batch_docs, "text", "doc_id").collect()}
    assert _rows(spark, "stats_stream") == want and len(want) > 0


def test_stream_incremental_dedup_matches_full_run(spark, sf_dir, tmp_path):
    """Streaming dedup with per-batch index absorption == one full-corpus
    run: the union of (seed-corpus pairs) and (streamed pairs across all
    micro-batches) must be EXACTLY the full-run pair set, with every
    cross-batch pair found by the later batch probing the absorbed index."""
    from scala_etl_test_spark.operators.dedup import minhash_near_duplicates
    from scala_etl_test_spark.streaming import stream_documents_parquet
    from scala_etl_test_spark.streaming.dedup import init_index, stream_incremental_dedup

    docs = read_table(spark, sf_dir, "documents")
    kw = dict(num_hashes=16, bands=4, rows=4, shingle_n=3)
    seed = docs.filter(F.col("doc_id") % 3 == 0)
    b1 = docs.filter(F.col("doc_id") % 3 == 1)
    b2 = docs.filter(F.col("doc_id") % 3 == 2)

    index_dir = str(tmp_path / "index")
    init_index(spark, index_dir, seed, "text", "doc_id", **kw)
    stream_dir = tmp_path / "incoming"
    stream_dir.mkdir()
    b1.coalesce(1).write.parquet(str(stream_dir / "f1"))
    b2.coalesce(1).write.parquet(str(stream_dir / "f2"))

    sdf = stream_documents_parquet(spark, f"{stream_dir}/*", max_files_per_trigger=1)
    q = stream_incremental_dedup(
        sdf, index_dir, str(tmp_path / "pairs"), str(tmp_path / "ckpt"),
        threshold=0.2, **kw,
    )
    q.awaitTermination()

    streamed = spark.read.parquet(str(tmp_path / "pairs"))
    assert streamed.select("batch_id").distinct().count() == 2  # two micro-batches
    seed_pairs = minhash_near_duplicates(seed, "text", "doc_id", threshold=0.2, **kw)
    got = {(r["id_a"], r["id_b"]) for r in streamed.collect()} | {
        (r["id_a"], r["id_b"]) for r in seed_pairs.collect()
    }
    full = minhash_near_duplicates(docs, "text", "doc_id", threshold=0.2, **kw)
    want = {(r["id_a"], r["id_b"]) for r in full.collect()}
    assert got == want and len(want) > 0


def test_stream_dedup_replay_idempotent_and_empty_seed(spark, sf_dir, tmp_path):
    """foreachBatch is at-least-once: a replayed batch must REPLACE its own
    index delta and pair partition, not append duplicates (duplicated
    shingle rows would corrupt Jaccard set sizes for every later batch).
    Also pins the empty-seed path: the schema derives from the real
    shingle/band builders, so absorption never mixes schemas."""
    from scala_etl_test_spark.streaming import stream_documents_parquet
    from scala_etl_test_spark.streaming.dedup import init_index, stream_incremental_dedup

    docs = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    kw = dict(num_hashes=16, bands=4, rows=4, shingle_n=3)
    index_dir = str(tmp_path / "index")
    init_index(spark, index_dir, None, "text", "doc_id", **kw)  # EMPTY seed

    stream_dir = tmp_path / "incoming"
    stream_dir.mkdir()
    docs.coalesce(1).write.parquet(str(stream_dir / "f1"))
    run = lambda ckpt: stream_incremental_dedup(  # noqa: E731
        stream_documents_parquet(spark, f"{stream_dir}/*", max_files_per_trigger=1),
        index_dir, str(tmp_path / "pairs"), str(tmp_path / ckpt), threshold=0.2, **kw,
    ).awaitTermination()
    run("ckpt1")
    shingles_once = spark.read.parquet(f"{index_dir}/shingles").count()
    pairs_once = spark.read.parquet(str(tmp_path / "pairs")).count()
    # fresh checkpoint → the same batch replays from scratch (worst-case
    # at-least-once); every batch-scoped write must replace, not append
    run("ckpt2")
    assert spark.read.parquet(f"{index_dir}/shingles").count() == shingles_once
    assert spark.read.parquet(str(tmp_path / "pairs")).count() == pairs_once


def test_dedup_events_within_watermark_drops_redeliveries(spark, sf_dir, tmp_path):
    """At-least-once delivery: the same event file lands twice (two copies
    in the source dir) — dropDuplicatesWithinWatermark must emit each
    event_id once, with state bounded by the watermark horizon."""
    from scala_etl_test_spark.streaming import stream_events_parquet
    from scala_etl_test_spark.streaming.dedup import dedup_events_within_watermark

    d = tmp_path / "dup_stream"
    d.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", d / "delivery1.parquet")
    shutil.copy(f"{sf_dir}/events.parquet", d / "delivery2.parquet")  # redelivery

    sdf = dedup_events_within_watermark(
        stream_events_parquet(spark, str(d)).select("event_id", "ts", "user_id")
    )
    run_available_now(sdf, str(tmp_path / "ckpt"), query_name="dedup_events")
    got = spark.sql("SELECT event_id FROM dedup_events")
    n_unique = read_table(spark, sf_dir, "events").select("event_id").distinct().count()
    assert got.count() == n_unique  # every duplicate delivery dropped
    assert got.distinct().count() == n_unique


def test_compact_index_preserves_dedup_answers(spark, sf_dir, tmp_path):
    """Folding all per-batch deltas into one baseline must not change any
    future batch's dedup result — compaction is a layout change only."""
    from scala_etl_test_spark.operators.dedup import incremental_near_duplicates
    from scala_etl_test_spark.streaming import stream_documents_parquet
    from scala_etl_test_spark.streaming.dedup import (
        compact_index,
        init_index,
        stream_incremental_dedup,
    )

    docs = read_table(spark, sf_dir, "documents")
    kw = dict(num_hashes=16, bands=4, rows=4, shingle_n=3)
    seed = docs.filter(F.col("doc_id") % 3 == 0)
    streamed_docs = docs.filter(F.col("doc_id") % 3 == 1)
    probe_batch = docs.filter(F.col("doc_id") % 3 == 2)

    index_dir = str(tmp_path / "index")
    init_index(spark, index_dir, seed, "text", "doc_id", **kw)
    stream_dir = tmp_path / "in"
    stream_dir.mkdir()
    streamed_docs.coalesce(1).write.parquet(str(stream_dir / "f1"))
    stream_incremental_dedup(
        stream_documents_parquet(spark, f"{stream_dir}/*"),
        index_dir, str(tmp_path / "pairs"), str(tmp_path / "ckpt"), threshold=0.2, **kw,
    ).awaitTermination()

    # a delta the checkpoint has NOT committed yet must survive compaction
    # as its own batch_id partition (folding it into the -1 baseline would
    # defeat the probe's batch_id < N replay guard)
    uncommitted = probe_batch.limit(5)
    from scala_etl_test_spark.operators.dedup import build_minhash_index
    from scala_etl_test_spark.streaming.dedup import _write_delta

    u_sh, u_bd = build_minhash_index(uncommitted, "text", "doc_id", **kw)
    _write_delta(u_sh, f"{index_dir}/shingles", 7)
    _write_delta(u_bd, f"{index_dir}/bands", 7)

    compacted_dir = str(tmp_path / "index_compacted")
    compact_index(spark, index_dir, compacted_dir, through_batch_id=0)
    import os
    assert sorted(os.listdir(f"{compacted_dir}/bands")) == ["batch_id=-1", "batch_id=7"]
    # fold-boundary content check: baseline excludes the uncommitted delta
    base = spark.read.parquet(f"{compacted_dir}/bands").filter("batch_id = -1")
    live = spark.read.parquet(f"{index_dir}/bands").filter("batch_id < 7")
    assert base.count() == live.count()

    def probe(idx_dir):
        sh = spark.read.parquet(f"{idx_dir}/shingles").drop("batch_id")
        bd = spark.read.parquet(f"{idx_dir}/bands").drop("batch_id")
        return {
            (r["id_a"], r["id_b"])
            for r in incremental_near_duplicates(
                probe_batch, sh, bd, "text", "doc_id", threshold=0.2, **kw
            ).collect()
        }

    assert probe(compacted_dir) == probe(index_dir)
    # compaction actually reduced the file count
    import glob
    n_before = len(glob.glob(f"{index_dir}/bands/**/*.parquet", recursive=True))
    n_after = len(glob.glob(f"{compacted_dir}/bands/**/*.parquet", recursive=True))
    assert n_after < n_before


def test_stream_weighted_sample_matches_batch(spark, sf_dir, events_dir, tmp_path):
    """weighted_sample is a pure row-local filter, so it runs unchanged on a
    stream (append mode, no state) and keeps the identical survivor set —
    the content-addressed decision does not depend on batch boundaries."""
    from pyspark.sql import functions as F

    from scala_etl_test_spark.operators.sampling import weighted_sample
    from scala_etl_test_spark.sources.parquet_source import read_table

    def sampled(df):
        probed = df.withColumn("w", F.least(F.col("value") / 200.0, F.lit(1.0)))
        return weighted_sample(probed, "w", "event_id").select("event_id")

    run_available_now(
        sampled(stream_events_parquet(spark, events_dir)),
        str(tmp_path / "ckpt"),
        query_name="wsample_stream",
    )
    got = _rows(spark, "wsample_stream")
    batch = read_table(spark, sf_dir, "events")
    want = {tuple(r) for r in sampled(batch).collect()}
    assert got == want
    assert 0 < len(got) < batch.count()  # a real sample, not all-or-nothing


def test_stream_cms_matches_single_pass_batch(spark, sf_dir, tmp_path):
    """CMS is a linear sketch: merged per-batch grids must equal the
    single-pass sketch over the whole data — exact estimate parity."""
    from scala_etl_test_spark.streaming.sketches import (
        _batch_sketch,
        stream_absorb_cms,
        streaming_heavy_hitters,
    )

    ev = read_table(spark, sf_dir, "events")
    src = tmp_path / "cms_src"
    for k in range(3):
        ev.filter(F.col("event_id") % 3 == k).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
    # one file per trigger -> three micro-batches
    sdf = (
        spark.readStream.schema(spark.read.parquet(str(src)).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    state = str(tmp_path / "cms_state")
    stream_absorb_cms(sdf, "user_id", state, str(tmp_path / "cms_ckpt"))
    batches = spark.read.parquet(state).select("batch_id").distinct().count()
    assert batches >= 3
    top = [
        r["user_id"]
        for r in ev.groupBy("user_id")
        .count()
        .orderBy(F.col("count").desc(), "user_id")
        .limit(5)
        .collect()
    ]
    got = {
        r["key"]: (r["estimate"], r["stream_total"])
        for r in streaming_heavy_hitters(spark, state, top).collect()
    }
    # single-pass reference sketch over the full table
    row = _batch_sketch(ev, "user_id", 0.001, 0.99, 42).first()
    jvm = spark._jvm
    ref = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
        jvm.java.io.ByteArrayInputStream(bytes(row["sketch"]))
    )
    n = ev.count()
    for key in top:
        est, total = got[key]
        assert est == ref.estimateCount(jvm.java.lang.Long(int(key)))
        assert total == n


def test_stream_cms_replay_overwrites_not_doubles(spark, sf_dir, tmp_path):
    from scala_etl_test_spark.streaming.dedup import _write_delta
    from scala_etl_test_spark.streaming.sketches import (
        _batch_sketch,
        read_merged_cms,
    )

    ev = read_table(spark, sf_dir, "events")
    state = str(tmp_path / "state")
    agg = _batch_sketch(ev, "user_id", 0.001, 0.99, 42)
    _write_delta(agg, state, 0, single_file=True)
    _write_delta(agg, state, 0, single_file=True)  # at-least-once replay
    _, total = read_merged_cms(spark, state)
    assert total == ev.count()  # replayed batch replaced, not doubled


def test_stateful_transitions_match_batch_across_batches(spark, sf_dir, tmp_path):
    """Cross-batch transition counting: events split into 3 time-ordered
    files ingested one per micro-batch (maxFilesPerTrigger=1); the summed
    per-batch deltas equal the batch Markov counts — the boundary step
    between a user's last event of batch N and first of batch N+1 is the
    part a stateless window cannot see."""
    from scala_etl_test_spark.plans.queries import q_event_transitions
    from scala_etl_test_spark.streaming.transitions import stateful_transitions

    ev = read_table(spark, sf_dir, "events").orderBy("ts", "event_id").collect()
    d = tmp_path / "ev_stream"
    d.mkdir()
    third = len(ev) // 3
    chunks = [ev[:third], ev[third : 2 * third], ev[2 * third :]]
    schema = read_table(spark, sf_dir, "events").schema
    for i, chunk in enumerate(chunks):
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(d / f"chunk{i}"))
    # flatten into one dir of files, names preserving time order
    files = sorted(d.glob("chunk*/part-*.parquet"))
    stream_dir = tmp_path / "ev_flat"
    stream_dir.mkdir()
    import os as _os
    import time as _time

    base = _time.time() - 100
    for i, f in enumerate(files):
        dst = stream_dir / f"{i:03d}.parquet"
        shutil.copy(f, dst)
        # FileStreamSource orders files by modification time; copies made in
        # the same clock tick would tie and ingest in arbitrary order,
        # breaking the "batches arrive time-ordered" contract under test
        _os.utime(dst, (base + i * 10, base + i * 10))

    from scala_etl_test_spark.streaming.sources import stream_events_parquet

    sdf = stateful_transitions(
        stream_events_parquet(spark, str(stream_dir), max_files_per_trigger=1)
    )
    run_available_now(
        sdf,
        str(tmp_path / "ckpt_trans"),
        output_mode="append",
        query_name="stateful_transitions",
    )
    # the boundary logic must actually have run: one micro-batch per file
    n_batches = len(list((tmp_path / "ckpt_trans" / "offsets").iterdir()))
    assert n_batches >= 3
    drained = spark.sql(
        "SELECT from_type, to_type, CAST(SUM(n_steps) AS BIGINT) AS n_steps "
        "FROM stateful_transitions GROUP BY 1, 2"
    ).collect()
    got = {(r["from_type"], r["to_type"]): r["n_steps"] for r in drained}
    want = {
        (r["from_type"], r["to_type"]): r["n_steps"]
        for r in q_event_transitions(spark, sf_dir).collect()
    }
    assert got == want


def test_stateful_transitions_multichunk_groups(spark, sf_dir, tmp_path):
    """A group larger than arrow.maxRecordsPerBatch reaches the stateful
    function as SEVERAL pandas chunks; the operator must restore event-time
    order across chunks (concat then one sort), not per chunk."""
    from scala_etl_test_spark.plans.queries import q_event_transitions
    from scala_etl_test_spark.streaming.sources import stream_events_parquet
    from scala_etl_test_spark.streaming.transitions import stateful_transitions

    d = tmp_path / "mc_stream"
    d.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", d / "000.parquet")
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "16")
    try:
        sdf = stateful_transitions(stream_events_parquet(spark, str(d)))
        run_available_now(
            sdf,
            str(tmp_path / "ckpt_mc"),
            output_mode="append",
            query_name="stateful_transitions_mc",
        )
        got = {
            (r["from_type"], r["to_type"]): r["n"]
            for r in spark.sql(
                "SELECT from_type, to_type, CAST(SUM(n_steps) AS BIGINT) AS n "
                "FROM stateful_transitions_mc GROUP BY 1, 2"
            ).collect()
        }
    finally:
        if old is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    want = {
        (r["from_type"], r["to_type"]): r["n_steps"]
        for r in q_event_transitions(spark, sf_dir).collect()
    }
    assert got == want


def test_streaming_cdc_upsert_matches_batch_latest(spark, sf_dir, tmp_path):
    """foreachBatch CDC merge over two micro-batches == batch
    latest-per-key over the whole feed; a restarted query with the same
    checkpoint picks up ONLY new files (state stays correct, offsets grow
    by exactly the new batch)."""
    from scala_etl_test_spark.operators.merge import latest_per_key
    from scala_etl_test_spark.streaming.cdc import read_state, stream_upsert
    from scala_etl_test_spark.streaming.sources import stream_events_parquet

    ev = read_table(spark, sf_dir, "events").orderBy("ts", "event_id").collect()
    half = len(ev) // 2
    schema = read_table(spark, sf_dir, "events").schema
    src = tmp_path / "cdc_src"
    src.mkdir()
    table = str(tmp_path / "cdc_table")
    ckpt = str(tmp_path / "cdc_ckpt")

    import os as _os
    import time as _time

    def _add(chunk, name, mtime):
        out = tmp_path / f"_stage_{name}"
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode("overwrite").parquet(
            str(out)
        )
        f = next(out.glob("part-*.parquet"))
        dst = src / f"{name}.parquet"
        shutil.copy(f, dst)
        _os.utime(dst, (mtime, mtime))

    base = _time.time() - 100
    _add(ev[:half], "000", base)

    q = stream_upsert(
        stream_events_parquet(spark, str(src)), table, ckpt, ["user_id"], "ts"
    )
    q.awaitTermination()
    state1 = {r["user_id"]: r["event_id"] for r in read_state(spark, table).collect()}
    want1 = {
        r["user_id"]: r["event_id"]
        for r in latest_per_key(
            spark.createDataFrame(ev[:half], schema), ["user_id"], "ts"
        ).collect()
    }
    assert state1 == want1

    _add(ev[half:], "001", base + 10)
    q = stream_upsert(
        stream_events_parquet(spark, str(src)), table, ckpt, ["user_id"], "ts"
    )
    q.awaitTermination()
    state2 = {r["user_id"]: r["event_id"] for r in read_state(spark, table).collect()}
    want2 = {
        r["user_id"]: r["event_id"]
        for r in latest_per_key(
            spark.createDataFrame(ev, schema), ["user_id"], "ts"
        ).collect()
    }
    assert state2 == want2
    # exactly-once bookkeeping: the restart processed ONE new batch
    import pathlib as _pl

    batches = [f for f in _pl.Path(ckpt, "offsets").iterdir() if f.name.isdigit()]
    assert len(batches) == 2


def test_streaming_cdc_late_batch_cannot_regress_state(spark, tmp_path):
    """A micro-batch arriving AFTER newer state but carrying OLDER versions
    must not win: the version-aware merge keeps the newest version per key
    in any arrival order."""
    import os as _os
    import time as _time

    from scala_etl_test_spark.streaming.cdc import read_state, stream_upsert
    from scala_etl_test_spark.streaming.sources import stream_events_parquet

    schema = read_table(spark, "/root/testdata/sf0.001", "events").schema
    import datetime as _dt

    def row(eid, ts_day, uid, etype):
        return (eid, _dt.datetime(2024, 1, ts_day), uid, etype, 1.0, "{}")

    newer = [row(10, 20, 1, "new"), row(11, 20, 2, "new")]
    older = [row(1, 5, 1, "old"), row(2, 25, 2, "newest")]
    src = tmp_path / "late_src"
    src.mkdir()
    base = _time.time() - 100

    def _add(rows, name, mtime):
        out = tmp_path / f"_st_{name}"
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(str(out))
        dst = src / f"{name}.parquet"
        shutil.copy(next(out.glob("part-*.parquet")), dst)
        _os.utime(dst, (mtime, mtime))

    table, ckpt = str(tmp_path / "late_table"), str(tmp_path / "late_ckpt")
    _add(newer, "000", base)
    stream_upsert(
        stream_events_parquet(spark, str(src)), table, ckpt, ["user_id"], "ts"
    ).awaitTermination()
    _add(older, "001", base + 10)  # late file: user 1 older, user 2 newer
    stream_upsert(
        stream_events_parquet(spark, str(src)), table, ckpt, ["user_id"], "ts"
    ).awaitTermination()
    state = {r["user_id"]: r["event_type"] for r in read_state(spark, table).collect()}
    assert state == {1: "new", 2: "newest"}


def test_streaming_cdc_equal_version_duplicates_collapse_once(spark, sf_dir, tmp_path, monkeypatch):
    """Same-key, equal-version rows inside a micro-batch, and a batch row
    tying the state row's version: the stream collapses each batch ONCE,
    inside the merge, and the state equals latest-per-key over the whole
    feed (the hash tie-break decides every tie, as a pre-collapsed batch
    would)."""
    import datetime as _dt
    import os as _os
    import time as _time

    from scala_etl_test_spark.operators.merge import latest_per_key
    from scala_etl_test_spark.streaming import cdc
    from scala_etl_test_spark.streaming.sources import stream_events_parquet

    schema = read_table(spark, sf_dir, "events").schema

    def row(eid, ts_day, uid, etype):
        return (eid, _dt.datetime(2024, 1, ts_day), uid, etype, 1.0, "{}")

    batches = [
        [row(1, 5, 1, "a"), row(2, 5, 1, "b"), row(3, 5, 2, "c"), row(4, 3, 3, "d")],
        [row(5, 9, 1, "e"), row(6, 9, 1, "f"), row(7, 5, 2, "g"), row(8, 2, 3, "h"),
         row(9, 2, 3, "i")],
    ]
    src = tmp_path / "dup_src"
    src.mkdir()
    base = _time.time() - 100
    for i, rows in enumerate(batches):
        out = tmp_path / f"_st_{i}"
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(str(out))
        dst = src / f"{i:03d}.parquet"
        shutil.copy(next(out.glob("part-*.parquet")), dst)
        _os.utime(dst, (base + i, base + i))

    calls = []

    def counted(*args, **kwargs):
        calls.append(1)
        return latest_per_key(*args, **kwargs)

    monkeypatch.setattr(cdc, "latest_per_key", counted)
    table, ckpt = str(tmp_path / "dup_table"), str(tmp_path / "dup_ckpt")
    cdc.stream_upsert(
        stream_events_parquet(spark, str(src), max_files_per_trigger=1),
        table, ckpt, ["user_id"], "ts",
    ).awaitTermination()
    assert len(calls) == len(batches)
    feed = spark.createDataFrame([r for rows in batches for r in rows], schema)
    want = {tuple(r) for r in latest_per_key(feed, ["user_id"], "ts").collect()}
    assert {tuple(r) for r in cdc.read_state(spark, table).collect()} == want


def test_cdc_bucketed_state_side_has_no_exchange(spark, tmp_path):
    """VERDICT r7 item 5: when state is maintained bucketed with
    n_buckets == shuffle.partitions, the per-batch anti-join reads the
    state CO-LOCATED — exactly ONE Exchange in the plan (the batch-key
    side), none above the bucketed state scan."""
    from scala_etl_test_spark.streaming.cdc import (
        merge_into_bucketed_state,
        read_state_bucketed,
    )

    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    d = str(tmp_path / "bstate")
    seed = spark.createDataFrame(
        [(i, 1, "x") for i in range(200)], "k long, v long, payload string"
    )
    merge_into_bucketed_state(spark, seed, d, ["k"], n, "v")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        base = read_state_bucketed(spark, d)
        batch_keys = spark.createDataFrame([(3,), (7,)], "k long").distinct()
        p = (
            base.join(batch_keys, on=["k"], how="left_anti")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "SortMergeJoin" in p, p
        assert "Bucketed: true" in p, f"state scan lost its bucket spec:\n{p}"
        assert p.count("Exchange") == 1, f"state side re-shuffled:\n{p}"
        # the semi-join (contested slice of the version-aware path) co-locates too
        p2 = (
            base.join(batch_keys, on=["k"], how="left_semi")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Bucketed: true" in p2 and p2.count("Exchange") == 1, p2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")


def test_streaming_cdc_bucketed_matches_plain(spark, sf_dir, tmp_path):
    """The bucketed CDC stream must produce EXACTLY the state the plain
    two-generation stream produces on the same two-batch feed (including
    version-aware late-arrival handling), while keeping the state table
    readable through the catalog with its bucket spec."""
    import os as _os
    import time as _time

    from scala_etl_test_spark.operators.merge import latest_per_key
    from scala_etl_test_spark.streaming.cdc import (
        read_state_bucketed,
        stream_upsert_bucketed,
    )
    from scala_etl_test_spark.streaming.sources import stream_events_parquet

    ev = read_table(spark, sf_dir, "events").orderBy("ts", "event_id").collect()
    half = len(ev) // 2
    schema = read_table(spark, sf_dir, "events").schema
    src = tmp_path / "bcdc_src"
    src.mkdir()
    table = str(tmp_path / "bcdc_table")
    ckpt = str(tmp_path / "bcdc_ckpt")
    base = _time.time() - 100

    def _add(chunk, name, mtime):
        out = tmp_path / f"_bstage_{name}"
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode("overwrite").parquet(str(out))
        dst = src / f"{name}.parquet"
        shutil.copy(next(out.glob("part-*.parquet")), dst)
        _os.utime(dst, (mtime, mtime))

    _add(ev[:half], "000", base)
    stream_upsert_bucketed(
        stream_events_parquet(spark, str(src)), table, ckpt, ["user_id"], version_col="ts"
    ).awaitTermination()
    _add(ev[half:], "001", base + 10)
    stream_upsert_bucketed(
        stream_events_parquet(spark, str(src)), table, ckpt, ["user_id"], version_col="ts"
    ).awaitTermination()

    state = {r["user_id"]: r["event_id"] for r in read_state_bucketed(spark, table).collect()}
    want = {
        r["user_id"]: r["event_id"]
        for r in latest_per_key(spark.createDataFrame(ev, schema), ["user_id"], "ts").collect()
    }
    assert state == want
    # the catalog table the manifest points at carries the bucket spec
    from scala_etl_test_spark.streaming.cdc import _gen_table, _read_manifest

    desc = spark.sql(f"DESCRIBE EXTENDED {_gen_table(table, _read_manifest(table))}").collect()
    desc_txt = "\n".join(str(r) for r in desc)
    assert "user_id" in desc_txt and "Bucket" in desc_txt


def test_streaming_cdc_bucketed_late_batch_cannot_regress(spark, tmp_path):
    """Version-aware winners are resolved over the CONTESTED slice only —
    a late batch carrying older versions must still lose to newer state."""
    import datetime as _dt

    from scala_etl_test_spark.streaming.cdc import (
        merge_into_bucketed_state,
        read_state_bucketed,
    )

    d = str(tmp_path / "late_bstate")
    schema = "event_id long, ts timestamp, user_id long, event_type string"

    def row(eid, day, uid, etype):
        return (eid, _dt.datetime(2024, 1, day), uid, etype)

    newer = spark.createDataFrame([row(10, 20, 1, "new"), row(11, 20, 2, "new")], schema)
    merge_into_bucketed_state(spark, newer, d, ["user_id"], 4, "ts")
    late = spark.createDataFrame([row(1, 5, 1, "old"), row(2, 25, 2, "newest")], schema)
    merge_into_bucketed_state(spark, late, d, ["user_id"], 4, "ts")
    state = {r["user_id"]: r["event_type"] for r in read_state_bucketed(spark, d).collect()}
    assert state == {1: "new", 2: "newest"}


def _forget_without_count(monkeypatch, spark, *args, **kwargs):
    """``forget_from_index`` checked to run no ``DataFrame.count()``: the
    closure's growth counts are observed on each round's checkpoint job."""
    from scala_etl_test_spark.streaming.dedup import forget_from_index

    # the session's concrete DataFrame class, which overrides count()
    frame_cls = type(spark.range(1))
    real, counts = frame_cls.count, []

    def counted(self):
        counts.append(1)
        return real(self)

    with monkeypatch.context() as m:
        m.setattr(frame_cls, "count", counted)
        stats = forget_from_index(spark, *args, **kwargs)
    assert counts == []
    return stats


def test_forget_from_index_closure_and_erasure(spark, sf_dir, tmp_path, monkeypatch):
    """Right-to-be-forgotten on the persisted LSH index: the closure is
    computed FROM THE INDEX ALONE (opting out one member of a near-dup
    cluster dooms its verified neighbors too), every doomed id's shingle
    and band rows are gone from the erased index, the per-batch delta
    layout survives, and re-ingesting a COPY of forgotten content finds
    no pair in the erased index (the content is truly gone) while the
    same probe against the ORIGINAL index still pairs."""
    from scala_etl_test_spark.operators.dedup import (
        incremental_near_duplicates,
        minhash_near_duplicates,
    )
    from scala_etl_test_spark.streaming.dedup import init_index

    docs = read_table(spark, sf_dir, "documents")
    kw = dict(num_hashes=16, bands=4, rows=4, shingle_n=3)
    index_dir = str(tmp_path / "fidx")
    init_index(spark, index_dir, docs, "text", "doc_id", **kw)

    # pick an opt-out that HAS near-dups, from the ground-truth pair set
    pairs = minhash_near_duplicates(docs, "text", "doc_id", threshold=0.2, **kw)
    some = pairs.orderBy("id_a", "id_b").first()
    optout_id, known_dup = some["id_a"], some["id_b"]
    optout = spark.createDataFrame([(optout_id,)], "doc_id long")

    out_dir = str(tmp_path / "fidx_erased")
    stats = _forget_without_count(
        monkeypatch, spark, index_dir, out_dir, optout, threshold=0.2, max_bucket=10_000
    )
    # on the default test corpus: the opt-out plus its two verified
    # near-dups, found in one growth round and confirmed by the fixpoint round
    assert stats == {"n_optout": 1, "n_forgotten": 3, "rounds": 2, "converged": True}

    erased_sh = spark.read.parquet(f"{out_dir}/shingles")
    erased_bd = spark.read.parquet(f"{out_dir}/bands")
    # closure members fully erased: the known near-dup's rows are gone too
    for doomed_id in (optout_id, known_dup):
        assert erased_sh.filter(F.col("doc_id") == doomed_id).count() == 0
        assert erased_bd.filter(F.col("doc_id") == doomed_id).count() == 0
    # layout: batch_id partition column still present and prunable
    assert "batch_id" in erased_sh.columns and "batch_id" in erased_bd.columns
    # erasure is minimal: nothing outside the closure was dropped
    before = spark.read.parquet(f"{index_dir}/shingles")
    kept_ids = {r["doc_id"] for r in erased_sh.select("doc_id").distinct().collect()}
    all_ids = {r["doc_id"] for r in before.select("doc_id").distinct().collect()}
    assert len(all_ids - kept_ids) == stats["n_forgotten"]

    # a copy of the forgotten text re-ingested: no pair in the erased
    # index, still pairs in the original — content-level erasure, not id
    copy = docs.filter(F.col("doc_id") == optout_id).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    probe_erased = incremental_near_duplicates(
        copy, erased_sh.drop("batch_id"), erased_bd.drop("batch_id"),
        "text", "doc_id", threshold=0.2, **kw,
    )
    assert probe_erased.filter(F.col("id_b") != F.col("id_a")).filter(
        F.col("id_a") < 1_000_000
    ).count() == 0
    probe_original = incremental_near_duplicates(
        copy, before.drop("batch_id"),
        spark.read.parquet(f"{index_dir}/bands").drop("batch_id"),
        "text", "doc_id", threshold=0.2, **kw,
    )
    assert probe_original.filter(F.col("id_a") < 1_000_000).count() > 0


def test_forget_from_index_empty_optout_is_identity(spark, sf_dir, tmp_path, monkeypatch):
    from scala_etl_test_spark.streaming.dedup import init_index

    docs = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    index_dir = str(tmp_path / "fidx2")
    init_index(spark, index_dir, docs, "text", "doc_id")
    out_dir = str(tmp_path / "fidx2_erased")
    stats = _forget_without_count(
        monkeypatch, spark, index_dir, out_dir, spark.createDataFrame([], "doc_id long")
    )
    assert stats == {"n_optout": 0, "n_forgotten": 0, "rounds": 1, "converged": True}
    a = spark.read.parquet(f"{index_dir}/shingles")
    b = spark.read.parquet(f"{out_dir}/shingles")
    assert a.count() == b.count()


def test_forget_from_index_no_double_count_inflation(spark, tmp_path, monkeypatch):
    """Regression (round-8 review): the doomed rows are the probe batch
    and MUST be excluded from the index side of the closure probe —
    leaving them in unions duplicate (id, shingle) rows into the Jaccard
    verification, inflating size_a and n_common so a NON-duplicate
    neighbor crosses the threshold and gets over-erased. Pinned corpus:
    A–B true Jaccard 6/14 ≈ 0.43 (below threshold 0.5; the duplicated
    form would read 12/18 ≈ 0.67), A–C 0.818 (a true near-dup)."""
    from scala_etl_test_spark.streaming.dedup import init_index

    shared = " ".join(f"s{i}" for i in range(8))
    docs = spark.createDataFrame(
        [(1, shared + " a1 a2 a3 a4"), (2, shared + " b1 b2 b3 b4"), (3, shared + " a1 a2 a3 c1")],
        "doc_id long, text string",
    )
    index_dir = str(tmp_path / "dc_idx")
    init_index(spark, index_dir, docs, "text", "doc_id", num_hashes=16, bands=16, rows=1)
    out_dir = str(tmp_path / "dc_erased")
    stats = _forget_without_count(
        monkeypatch, spark, index_dir, out_dir,
        spark.createDataFrame([(1,)], "doc_id long"),
        threshold=0.5, closure_rounds=3,
    )
    assert stats["converged"] is True and stats["rounds"] == 2
    assert stats["n_forgotten"] == 2  # A and its TRUE near-dup C; never B
    kept = {
        r["doc_id"]
        for r in spark.read.parquet(f"{out_dir}/shingles").select("doc_id").distinct().collect()
    }
    assert kept == {2}, f"over-erasure: non-duplicate doc 2 must survive, kept={kept}"


def test_cdc_bucketed_state_survives_catalog_loss(spark, tmp_path):
    """Regression (round-8 review): the default in-memory catalog dies
    with the process, but the state parquet + BUCKETSPEC sidecar survive —
    a resumed stream (or fresh session) must re-register the generation
    table and keep merging, not crash on TABLE_OR_VIEW_NOT_FOUND."""
    from scala_etl_test_spark.streaming.cdc import (
        _gen_table,
        _read_manifest,
        merge_into_bucketed_state,
        read_state_bucketed,
    )

    d = str(tmp_path / "restart_state")
    b1 = spark.createDataFrame([(1, 10, "a"), (2, 10, "b")], "k long, v long, p string")
    merge_into_bucketed_state(spark, b1, d, ["k"], 4, "v")
    # simulate process restart: catalog gone, files + sidecar remain
    spark.sql(f"DROP TABLE IF EXISTS {_gen_table(d, _read_manifest(d))}")
    state = read_state_bucketed(spark, d)
    assert {tuple(r) for r in state.collect()} == {(1, 10, "a"), (2, 10, "b")}
    # and the next merge reads the re-registered base with its bucket spec
    spark.sql(f"DROP TABLE IF EXISTS {_gen_table(d, _read_manifest(d))}")
    b2 = spark.createDataFrame([(2, 20, "B"), (3, 5, "c")], "k long, v long, p string")
    merge_into_bucketed_state(spark, b2, d, ["k"], 4, "v")
    got = {tuple(r) for r in read_state_bucketed(spark, d).collect()}
    assert got == {(1, 10, "a"), (2, 20, "B"), (3, 5, "c")}


def test_cdc_state_prefix_no_collisions(tmp_path):
    """state-a and state_a must not share a catalog prefix (they would
    clobber each other's generation tables at the same gen number)."""
    from scala_etl_test_spark.streaming.cdc import _state_prefix

    assert _state_prefix(str(tmp_path / "state-a")) != _state_prefix(str(tmp_path / "state_a"))


def test_cdc_bucketspec_is_per_generation(spark, tmp_path):
    """ADVICE r8 (medium): the bucket spec is a physical property of ONE
    generation's files. A width change between generations must leave each
    generation registered under ITS OWN width — a crash between the legacy
    global-sidecar write and the MANIFEST flip (simulated here by making
    the global sidecar disagree) can no longer register a generation under
    a width that doesn't match its files (which would silently drop
    matches in a 'co-located' merge)."""
    import json
    import pathlib as _pl

    from scala_etl_test_spark.streaming.cdc import (
        _gen_dir,
        _gen_table,
        _read_manifest,
        merge_into_bucketed_state,
        read_state_bucketed,
    )

    d = str(tmp_path / "pergen_state")
    b1 = spark.createDataFrame([(1, 10, "a"), (2, 10, "b")], "k long, v long, p string")
    merge_into_bucketed_state(spark, b1, d, ["k"], 4, "v")
    gen1 = _read_manifest(d)
    assert json.loads((_pl.Path(_gen_dir(d, gen1)) / "_BUCKETSPEC").read_text())["num_buckets"] == 4

    # width change in the next generation (explicit num_buckets): both
    # generations keep their own specs on disk
    b2 = spark.createDataFrame([(2, 20, "B"), (3, 5, "c")], "k long, v long, p string")
    merge_into_bucketed_state(spark, b2, d, ["k"], 8, "v")
    gen2 = _read_manifest(d)
    assert json.loads((_pl.Path(_gen_dir(d, gen2)) / "_BUCKETSPEC").read_text())["num_buckets"] == 8
    assert json.loads((_pl.Path(_gen_dir(d, gen1)) / "_BUCKETSPEC").read_text())["num_buckets"] == 4

    # corrupt the GLOBAL sidecar (the crash/width-change hazard): a fresh
    # registration of the live generation must use the per-gen spec, so the
    # merge result stays correct
    (_pl.Path(d) / "BUCKETSPEC").write_text(json.dumps({"key_cols": ["k"], "num_buckets": 16}))
    spark.sql(f"DROP TABLE IF EXISTS {_gen_table(d, gen2)}")
    got = {tuple(r) for r in read_state_bucketed(spark, d).collect()}
    assert got == {(1, 10, "a"), (2, 20, "B"), (3, 5, "c")}
    tbl = spark.sql(f"DESCRIBE TABLE EXTENDED {_gen_table(d, gen2)}").collect()
    n_txt = next(r["data_type"] for r in tbl if r["col_name"] == "Num Buckets")
    assert int(n_txt) == 8

    b3 = spark.createDataFrame([(3, 1, "late"), (4, 1, "d")], "k long, v long, p string")
    merge_into_bucketed_state(spark, b3, d, ["k"], 8, "v")
    got = {tuple(r) for r in read_state_bucketed(spark, d).collect()}
    assert got == {(1, 10, "a"), (2, 20, "B"), (3, 5, "c"), (4, 1, "d")}


def test_cdc_bucketed_resume_pins_width_from_sidecar(spark, sf_dir, tmp_path):
    """ADVICE r8: stream_upsert_bucketed with num_buckets=None must pin the
    width from the existing generation's sidecar on resume — NOT re-derive
    it from the live session's shuffle.partitions, which may have changed
    across maintenance sessions."""
    from scala_etl_test_spark.sources.parquet_source import read_table
    from scala_etl_test_spark.streaming.cdc import (
        _gen_dir,
        _read_bucketspec,
        _read_manifest,
        read_state_bucketed,
        stream_upsert_bucketed,
    )
    from scala_etl_test_spark.streaming.sources import stream_events_parquet

    events = read_table(spark, sf_dir, "events").limit(200)
    src = str(tmp_path / "src")
    events.write.parquet(src)
    table, ckpt = str(tmp_path / "tbl"), str(tmp_path / "ck")

    old_width = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        stream_upsert_bucketed(
            stream_events_parquet(spark, src), table, ckpt, ["user_id"], version_col="ts"
        ).awaitTermination()
        assert _read_bucketspec(table, _read_manifest(table))["num_buckets"] == 4

        # new maintenance session regime: different shuffle width; more data
        spark.conf.set("spark.sql.shuffle.partitions", "13")
        events2 = read_table(spark, sf_dir, "events").limit(400)
        events2.write.mode("overwrite").parquet(str(tmp_path / "src2"))
        stream_upsert_bucketed(
            stream_events_parquet(spark, str(tmp_path / "src2")),
            table,
            str(tmp_path / "ck2"),
            ["user_id"],
            version_col="ts",
        ).awaitTermination()
        gen = _read_manifest(table)
        assert _read_bucketspec(table, gen)["num_buckets"] == 4, (
            "resume must keep the physical width, not adopt the new session conf"
        )
        assert read_state_bucketed(spark, table).count() > 0
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_width)


class TestStreamAppendIvf:
    """The ANN artifact's maintenance quadrant (streaming/ann.py): appends
    are cell-routed O(batch) writes against FROZEN centroids; replay is
    exactly-once via the _APPENDLOG marker; erasure composes with the
    delta layout and cannot be undone by a replay."""

    @pytest.fixture()
    def index(self, spark, sf_dir, tmp_path):
        from scala_etl_test_spark.streaming import init_ivf_index

        emb = read_table(spark, sf_dir, "embeddings")
        d = str(tmp_path / "ivf_index")
        init_ivf_index(spark, d, emb, n_centroids=4)
        return d, emb

    @staticmethod
    def _shifted(emb, r, max_id):
        return emb.select(
            (F.col("vec_id") + F.lit(r * max_id)).alias("vec_id"), "embedding", "label"
        )

    def test_append_probe_and_cell_locality(self, spark, index, tmp_path):
        import os

        from scala_etl_test_spark.streaming import append_batch_to_ivf, ivf_index_topk
        from scala_etl_test_spark.streaming.ann import _corpus_dir, read_ivf_corpus

        d, emb = index
        n = emb.count()
        max_id = emb.agg(F.max("vec_id")).first()[0] + 1
        assert append_batch_to_ivf(spark, d, self._shifted(emb, 1, max_id), 1)
        corpus = read_ivf_corpus(spark, d)
        assert corpus.count() == 2 * n

        # cell-local: a batch confined to ONE cell adds files only there
        cd = _corpus_dir(d)
        def files_by_cell():
            return {
                c: sorted(str(p) for p in pathlib.Path(cd, c).rglob("*.parquet"))
                for c in os.listdir(cd)
                if c.startswith("cluster_id=")
            }
        before = files_by_cell()
        one_cell_ids = [
            r["vec_id"]
            for r in corpus.filter(F.col("cluster_id") == 2).select("vec_id").limit(50).collect()
        ]
        batch2 = corpus.filter(F.col("vec_id").isin(one_cell_ids)).select(
            (F.col("vec_id") + F.lit(10 * max_id)).alias("vec_id"), "embedding", "label"
        )
        assert append_batch_to_ivf(spark, d, batch2, 2)
        after = files_by_cell()
        for c in before:
            if c == "cluster_id=2":
                assert set(before[c]) < set(after[c]), "touched cell must gain files"
            else:
                assert before[c] == after[c], f"untouched cell {c} changed"

        # the probe serves appended vectors through partition pruning
        import re

        qv = [float(v) for v in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
        hits = ivf_index_topk(spark, d, qv, k=2 * n + 100, nprobe=4)
        got = {r["vec_id"] for r in hits.collect()}
        assert got & {i + max_id for i in range(n)}, "appended vectors must be servable"
        probe = read_ivf_corpus(spark, d).filter(F.col("cluster_id") == 2)
        plan = probe._jdf.queryExecution().executedPlan().toString()
        m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
        assert m and "cluster_id" in m.group(1), plan

    def test_replay_is_exactly_once(self, spark, index):
        from scala_etl_test_spark.streaming import append_batch_to_ivf
        from scala_etl_test_spark.streaming.ann import _corpus_dir, read_ivf_corpus
        from scala_etl_test_spark.streaming.compaction import marker_path

        d, emb = index
        n = emb.count()
        max_id = emb.agg(F.max("vec_id")).first()[0] + 1
        batch = self._shifted(emb, 1, max_id)
        assert append_batch_to_ivf(spark, d, batch, 7) is True
        # replay with the marker present: skipped, no duplicates
        assert append_batch_to_ivf(spark, d, batch, 7) is False
        assert read_ivf_corpus(spark, d).count() == 2 * n
        # crash simulation: data committed but marker lost — the replay
        # wipes the partial remnants and re-appends exactly once
        import shutil as _sh

        _sh.rmtree(marker_path(d, 7))
        assert append_batch_to_ivf(spark, d, batch, 7) is True
        assert read_ivf_corpus(spark, d).count() == 2 * n
        got = read_ivf_corpus(spark, d).groupBy("vec_id").count().filter(F.col("count") > 1).count()
        assert got == 0, "replay duplicated rows"

    def test_writes_one_file_per_cell(self, spark, index):
        """init and appends route rows by cell before the write, so each
        ``cluster_id=K/batch_id=N`` dir holds one file, not one per task."""
        from scala_etl_test_spark.streaming import append_batch_to_ivf
        from scala_etl_test_spark.streaming.ann import _corpus_dir

        d, emb = index
        max_id = emb.agg(F.max("vec_id")).first()[0] + 1
        for b in (1, 2):
            assert append_batch_to_ivf(spark, d, self._shifted(emb, b, max_id), b)
        cells = sorted(pathlib.Path(_corpus_dir(d)).glob("cluster_id=*/batch_id=*"))
        assert {c.name for c in cells} == {"batch_id=-1", "batch_id=1", "batch_id=2"}
        files = {str(c): len(list(c.glob("*.parquet"))) for c in cells}
        assert all(n == 1 for n in files.values()), files

    def test_append_runs_no_centroid_job_and_writes_from_all_cores(self, spark, index):
        """One append, counted by its job group: the frozen centroids fold
        into the plan on the driver, so no job re-reads, aggregates or
        broadcasts the sidecar (the broadcast path runs 6 jobs here), and
        the small batch's cell-routed write runs in more than one task
        (AQE coalesces a sub-MB rebalance exchange into one)."""
        from scala_etl_test_spark.streaming import append_batch_to_ivf
        from scala_etl_test_spark.streaming.ann import _centroids_dir

        d, emb = index
        max_id = emb.agg(F.max("vec_id")).first()[0] + 1
        batch = self._shifted(emb, 1, max_id)
        sc = spark.sparkContext
        group = "ivf-append-jobs"
        sc.setJobGroup(group, group)
        try:
            assert append_batch_to_ivf(spark, d, batch, 1)
        finally:
            sc.setJobGroup("ivf-append-idle", "ivf-append-idle")
        st = sc.statusTracker()
        jobs = sorted(st.getJobIdsForGroup(group))
        assert 0 < len(jobs) <= 3, jobs
        # the plans of the SQL executions those jobs ran under
        plans, it = [], spark._jsparkSession.sharedState().statusStore().executionsList().iterator()
        while it.hasNext():
            ex = it.next()
            ids, jit = set(), ex.jobs().keySet().iterator()
            while jit.hasNext():
                ids.add(int(jit.next()))
            if ids & set(jobs):
                plans.append(ex.physicalPlanDescription())
        assert plans
        assert not any(_centroids_dir(d) in p for p in plans)
        write_stage = max(st.getJobInfo(jobs[-1]).stageIds)
        assert st.getStageInfo(write_stage).numTasks > 1

    def test_route_by_cell_picks_routing_from_size_estimate(self, spark, monkeypatch):
        """Plan only: a small write hashes its cells over at most
        defaultParallelism tasks; a write Catalyst estimates past the
        advisory partition size, or whose estimate is unknown (0), keeps
        the rebalance, which splits large cells."""
        from scala_etl_test_spark.operators import partitioning
        from scala_etl_test_spark.streaming.ann import _route_by_cell

        def physical(df):
            return df._jdf.queryExecution().executedPlan().toString()

        n = spark.sparkContext.defaultParallelism
        small = spark.range(100).withColumn("cluster_id", F.col("id") % 3)
        plan = physical(_route_by_cell(small, 1000))
        assert "hashpartitioning(cluster_id#" in plan and f", {n}), REPARTITION_BY_NUM" in plan, plan
        # never more tasks than cells
        plan = physical(_route_by_cell(small, 2))
        assert ", 2), REPARTITION_BY_NUM" in plan, plan
        huge = spark.range(10**12).withColumn("cluster_id", F.col("id") % 3)
        plan = physical(_route_by_cell(huge, 3))
        assert "REBALANCE_PARTITIONS_BY_COL" in plan and "REPARTITION_BY_NUM" not in plan, plan
        monkeypatch.setattr(partitioning, "_scan_size_bytes", lambda df: 0)
        plan = physical(_route_by_cell(small, 3))
        assert "REBALANCE_PARTITIONS_BY_COL" in plan and "REPARTITION_BY_NUM" not in plan, plan

    def test_folded_and_broadcast_centroids_assign_identically(self, spark, tmp_path, monkeypatch):
        """The driver-folded centroid literal and the broadcast aggregate
        assign every row the same cell: an exact-tie centroid pair goes to
        the smaller id, and a zero-norm vector (NULL cosines) and a
        zero-norm centroid score the same on both paths. A centroid set
        past ``_FOLD_MAX_BYTES`` is handed over for the broadcast path."""
        import random

        from pyspark.sql import Column

        from scala_etl_test_spark.operators.similarity import ivf_assign
        from scala_etl_test_spark.streaming import ann

        rng = random.Random(7)
        # stride centroids are the 4 smallest ids: 0 and 1 are an exact
        # tie for every vector, 3 has zero norm
        seed = [(0, [1.0, 0.0, 0.0]), (1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0]),
                (3, [0.0, 0.0, 0.0])]
        seed += [(i, [rng.uniform(-1, 1) for _ in range(3)]) for i in range(4, 40)]
        schema = "vec_id long, embedding array<float>"
        d = str(tmp_path / "ivf_index")
        ann.init_ivf_index(spark, d, spark.createDataFrame(seed, schema), n_centroids=4)
        batch_rows = [(100, [2.0, 0.0, 0.0]), (101, [0.0, 3.0, 0.0]), (102, [0.0, 0.0, 0.0]),
                      (103, [1.0, 1.0, 0.0])]
        batch_rows += [(i, [rng.uniform(-1, 1) for _ in range(3)]) for i in range(104, 160)]
        batch = spark.createDataFrame(batch_rows, schema)

        folded, n_cells = ann._frozen_centroids(spark, d)
        assert isinstance(folded, Column) and n_cells == 4

        def cells(cents):
            return {r["vec_id"]: r["cluster_id"] for r in ivf_assign(batch, cents).collect()}

        got = cells(folded)
        assert got == cells(ann.read_centroids(spark, d))
        assert got[100] == 0 and got[101] == 2 and got[103] == 0, got
        monkeypatch.setattr(ann, "_FOLD_MAX_BYTES", 0)
        broadcast, n_cells = ann._frozen_centroids(spark, d)
        assert not isinstance(broadcast, Column) and n_cells == 4

    def test_stream_end_to_end_and_erasure_replay_safety(self, spark, index, tmp_path):
        import os, time as _t

        from scala_etl_test_spark.streaming import (
            append_batch_to_ivf,
            forget_from_ivf_index,
            stream_append_ivf,
        )
        from scala_etl_test_spark.streaming.ann import read_ivf_corpus
        from scala_etl_test_spark.streaming.compaction import marker_path

        d, emb = index
        n = emb.count()
        max_id = emb.agg(F.max("vec_id")).first()[0] + 1
        src = tmp_path / "emb_src"
        src.mkdir()
        base = _t.time() - 100
        for r in (1, 2):
            stage = tmp_path / f"_stage{r}"
            self._shifted(emb, r, max_id).coalesce(1).write.mode("overwrite").parquet(str(stage))
            dst = src / f"b{r}.parquet"
            shutil.copy(next(stage.glob("part-*.parquet")), dst)
            os.utime(dst, (base + r, base + r))
        sdf = spark.readStream.schema(emb.schema).option("maxFilesPerTrigger", 1).parquet(str(src))
        stream_append_ivf(sdf, d, str(tmp_path / "ck")).awaitTermination()
        corpus = read_ivf_corpus(spark, d)
        assert corpus.count() == 3 * n

        # erase one appended batch's worth of ids (content closure is the
        # caller's move — tested on the batch operator); layout + markers
        # must survive so a REPLAY of the erased batch stays a no-op
        doomed_ids = [max_id + i for i in range(0, n, 2)]
        doomed = spark.createDataFrame([(i,) for i in doomed_ids], "vec_id long")
        stats = forget_from_ivf_index(spark, d, doomed)
        assert stats.count() > 0
        left = read_ivf_corpus(spark, d)
        assert left.filter(F.col("vec_id").isin(doomed_ids)).count() == 0
        assert "batch_id" in left.columns  # delta spine preserved
        # marker still present ⇒ a direct replay of the erased batch is
        # skipped — forgotten vectors cannot resurrect
        assert marker_path(d, 0).exists() or marker_path(d, 1).exists()
        replay = self._shifted(emb, 1, max_id)
        for b in (0, 1):
            if marker_path(d, b).exists():
                assert append_batch_to_ivf(spark, d, replay, b) is False
        assert read_ivf_corpus(spark, d).filter(F.col("vec_id").isin(doomed_ids)).count() == 0


def test_cdc_bucketed_rowlocal_merge_matches_latest_per_key_randomized(spark, tmp_path):
    """Randomized equivalence for the r9 one-scan merge: the row-local
    winner logic (strictly-newer OR latest_per_key's exact tie order —
    version desc nulls-LAST, xxhash64 asc) must reproduce
    latest-per-key-over-the-whole-feed for ANY batch split, including
    exact version ties, NULL versions, and keys colliding across
    batches. Seeded-random cross-check (a handful of examples — each
    costs real Spark merges), same convention as test_properties.py."""
    import random

    from scala_etl_test_spark.operators.merge import latest_per_key
    from scala_etl_test_spark.streaming.cdc import (
        merge_into_bucketed_state,
        read_state_bucketed,
    )

    rng = random.Random(909)
    for case in range(4):
        rows = [
            (
                rng.randrange(8),  # key: heavy collisions
                rng.choice([None, 0, 1, 1, 2]),  # version: ties + NULLs
                f"p{case}_{i}_{rng.randrange(1000)}",
            )
            for i in range(40)
        ]
        feed = spark.createDataFrame(rows, "k long, v long, p string")
        d = str(tmp_path / f"rnd_{case}")
        # random 3-way batch split, merged in order
        cut1, cut2 = sorted((rng.randrange(41), rng.randrange(41)))
        for lo, hi in ((0, cut1), (cut1, cut2), (cut2, 40)):
            chunk = rows[lo:hi]
            if not chunk:
                continue
            batch = latest_per_key(
                spark.createDataFrame(chunk, "k long, v long, p string"), ["k"], "v"
            )
            merge_into_bucketed_state(spark, batch, d, ["k"], 4, "v")
        got = {tuple(r) for r in read_state_bucketed(spark, d).collect()}
        want = {tuple(r) for r in latest_per_key(feed, ["k"], "v").collect()}
        assert got == want, f"case {case}: batched merge diverged from whole-feed latest_per_key"


def test_cdc_bucketed_merge_survives_hostile_column_names(spark, tmp_path):
    """A state schema whose columns collide with the merge's internal
    aliases (_b_<col>, _b_hit) must still merge correctly — the prefix is
    uniquified per call (the ivf_assign ADVICE-r7 lesson applied here)."""
    from scala_etl_test_spark.streaming.cdc import (
        merge_into_bucketed_state,
        read_state_bucketed,
    )

    schema = "k long, v long, _b_k long, _b_hit string"
    d = str(tmp_path / "hostile")
    b1 = spark.createDataFrame([(1, 10, 111, "s1"), (2, 10, 222, "s2")], schema)
    merge_into_bucketed_state(spark, b1, d, ["k"], 4, "v")
    b2 = spark.createDataFrame([(2, 20, 999, "B2"), (3, 5, 333, "s3")], schema)
    merge_into_bucketed_state(spark, b2, d, ["k"], 4, "v")
    got = {tuple(r) for r in read_state_bucketed(spark, d).collect()}
    assert got == {(1, 10, 111, "s1"), (2, 20, 999, "B2"), (3, 5, 333, "s3")}


def test_cdc_bucketed_merge_survives_a_column_named_hit(spark, tmp_path):
    """r9 review finding #1 (was a live AMBIGUOUS_REFERENCE crash): a state
    column literally named 'hit' collides with the internal marker alias
    for ANY prefix — the marker name is now uniquified separately."""
    from scala_etl_test_spark.streaming.cdc import (
        merge_into_bucketed_state,
        read_state_bucketed,
    )

    schema = "k long, v long, hit string"
    d = str(tmp_path / "hitcol")
    merge_into_bucketed_state(
        spark, spark.createDataFrame([(1, 10, "a"), (2, 10, "b")], schema), d, ["k"], 4, "v"
    )
    merge_into_bucketed_state(
        spark, spark.createDataFrame([(2, 20, "B"), (3, 5, "c")], schema), d, ["k"], 4, "v"
    )
    got = {tuple(r) for r in read_state_bucketed(spark, d).collect()}
    assert got == {(1, 10, "a"), (2, 20, "B"), (3, 5, "c")}


class TestStreamingMoments:
    """Streaming covariance maintenance: integer moment partials are
    exactly mergeable, so the served matrix must be BIT-identical to the
    batch operator over the union of all batches."""

    def _emb(self, spark, sf_dir):
        from scala_etl_test_spark.sources.parquet_source import read_table

        return read_table(spark, sf_dir, "embeddings")

    def test_accumulated_equals_batch_bit_identical(self, spark, sf_dir, tmp_path):
        from scala_etl_test_spark.operators.similarity import embedding_covariance
        from scala_etl_test_spark.streaming import append_batch_moments, read_covariance

        emb = self._emb(spark, sf_dir)
        mdir = str(tmp_path / "moments")
        for k in range(3):
            assert append_batch_moments(
                spark, mdir, emb.filter(F.col("vec_id") % 3 == k), k
            )
        got = {
            (r["dim_i"], r["dim_j"]): r["cov"]
            for r in read_covariance(spark, mdir).collect()
        }
        want = {
            (r["dim_i"], r["dim_j"]): r["cov"]
            for r in embedding_covariance(emb).collect()
        }
        assert got == want  # identical doubles, not approx — the whole point

    def test_replayed_committed_batch_is_noop(self, spark, sf_dir, tmp_path):
        from scala_etl_test_spark.streaming import append_batch_moments, read_covariance

        emb = self._emb(spark, sf_dir)
        mdir = str(tmp_path / "moments")
        assert append_batch_moments(spark, mdir, emb, 0)
        before = {
            (r["dim_i"], r["dim_j"]): r["cov"]
            for r in read_covariance(spark, mdir).collect()
        }
        assert append_batch_moments(spark, mdir, emb, 0) is False  # replay
        after = {
            (r["dim_i"], r["dim_j"]): r["cov"]
            for r in read_covariance(spark, mdir).collect()
        }
        assert after == before

    def test_crashed_partial_append_is_wiped_and_redone(self, spark, sf_dir, tmp_path):
        """Partial rows on disk WITHOUT a marker (crash between write and
        marker) must be wiped by the retry, never double-counted."""
        from scala_etl_test_spark.operators.similarity import embedding_covariance
        from scala_etl_test_spark.streaming import append_batch_moments, read_covariance
        from scala_etl_test_spark.streaming.moments import _partials_dir

        emb = self._emb(spark, sf_dir)
        mdir = str(tmp_path / "moments")
        assert append_batch_moments(spark, mdir, emb.filter(F.col("vec_id") % 2 == 0), 0)
        # simulate the crash: batch 1's partials land, but no marker
        half = emb.filter(F.col("vec_id") % 2 == 1)
        from scala_etl_test_spark.streaming.moments import batch_moment_partials

        (
            batch_moment_partials(half)
            .withColumn("batch_id", F.lit(1))
            .write.mode("append")
            .partitionBy("batch_id")
            .parquet(_partials_dir(mdir))
        )
        assert append_batch_moments(spark, mdir, half, 1)  # retry: wipe + redo
        got = {
            (r["dim_i"], r["dim_j"]): r["cov"]
            for r in read_covariance(spark, mdir).collect()
        }
        want = {
            (r["dim_i"], r["dim_j"]): r["cov"]
            for r in embedding_covariance(emb).collect()
        }
        assert got == want

    def test_empty_store_reads_none(self, spark, tmp_path):
        from scala_etl_test_spark.streaming import read_covariance

        assert read_covariance(spark, str(tmp_path / "nothing")) is None

    def test_stream_end_to_end(self, spark, sf_dir, tmp_path):
        import os
        import shutil as _sh
        import time as _t

        from scala_etl_test_spark.operators.similarity import embedding_covariance
        from scala_etl_test_spark.streaming import read_covariance, stream_covariance

        emb = self._emb(spark, sf_dir)
        src = tmp_path / "src"
        src.mkdir()
        base = _t.time() - 100
        for k in range(2):
            stage = tmp_path / f"_stage{k}"
            emb.filter(F.col("vec_id") % 2 == k).coalesce(1).write.mode(
                "overwrite"
            ).parquet(str(stage))
            dst = src / f"b{k}.parquet"
            _sh.copy(next(stage.glob("part-*.parquet")), dst)
            os.utime(dst, (base + k, base + k))
        mdir = str(tmp_path / "moments")
        sdf = (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        stream_covariance(sdf, mdir, str(tmp_path / "ck")).awaitTermination()
        got = {
            (r["dim_i"], r["dim_j"]): r["cov"]
            for r in read_covariance(spark, mdir).collect()
        }
        want = {
            (r["dim_i"], r["dim_j"]): r["cov"]
            for r in embedding_covariance(emb).collect()
        }
        assert got == want

    def test_null_embedding_rows_do_not_skew_denominator(self, spark, sf_dir, tmp_path):
        """A batch carrying NULL-embedding rows must stream to the SAME
        covariance as the batch operator over the same data (the batch
        operator's per-pair count excludes non-contributing rows; the
        streamed n partial must too)."""
        from scala_etl_test_spark.operators.similarity import embedding_covariance
        from scala_etl_test_spark.streaming import append_batch_moments, read_covariance

        emb = self._emb(spark, sf_dir)
        with_nulls = emb.unionByName(
            emb.limit(3).select(
                (F.col("vec_id") + 1_000_000).alias("vec_id"),
                F.lit(None).cast("array<float>").alias("embedding"),
                "label",
            )
        )
        mdir = str(tmp_path / "moments")
        assert append_batch_moments(spark, mdir, with_nulls, 0)
        got = {
            (r["dim_i"], r["dim_j"]): r["cov"]
            for r in read_covariance(spark, mdir).collect()
        }
        want = {
            (r["dim_i"], r["dim_j"]): r["cov"]
            for r in embedding_covariance(with_nulls).collect()
        }
        assert got == want

    def test_uncommitted_partials_excluded_from_serve(self, spark, sf_dir, tmp_path):
        """ADVICE r9: a partial on disk WITHOUT its marker (in-flight
        append, or crash between parquet write and marker mkdir) must not
        bleed into the served matrix — serving reads committed batches
        only, so the exactly-once bit-identity claim holds in that window
        too."""
        from scala_etl_test_spark.operators.similarity import embedding_covariance
        from scala_etl_test_spark.streaming import append_batch_moments, read_covariance
        from scala_etl_test_spark.streaming.moments import (
            _partials_dir,
            batch_moment_partials,
        )

        emb = self._emb(spark, sf_dir)
        committed = emb.filter(F.col("vec_id") % 2 == 0)
        mdir = str(tmp_path / "moments")
        assert append_batch_moments(spark, mdir, committed, 0)
        # batch 1's partials land, marker never does
        (
            batch_moment_partials(emb.filter(F.col("vec_id") % 2 == 1))
            .withColumn("batch_id", F.lit(1))
            .write.mode("append")
            .partitionBy("batch_id")
            .parquet(_partials_dir(mdir))
        )
        got = {
            (r["dim_i"], r["dim_j"]): r["cov"]
            for r in read_covariance(spark, mdir).collect()
        }
        want = {
            (r["dim_i"], r["dim_j"]): r["cov"]
            for r in embedding_covariance(committed).collect()
        }
        assert got == want  # batch-0-only, bit-identical

    def test_serve_none_when_nothing_ever_committed(self, spark, sf_dir, tmp_path):
        from scala_etl_test_spark.streaming import read_covariance
        from scala_etl_test_spark.streaming.moments import (
            _partials_dir,
            batch_moment_partials,
        )

        mdir = str(tmp_path / "moments")
        (
            batch_moment_partials(self._emb(spark, sf_dir))
            .withColumn("batch_id", F.lit(0))
            .write.mode("append")
            .partitionBy("batch_id")
            .parquet(_partials_dir(mdir))
        )
        assert read_covariance(spark, mdir) is None

    def test_empty_vector_rows_tolerated(self, spark, tmp_path):
        """ADVICE r9: an EMPTY embedding array used to crash second_moments
        (sequence(0,-1) → element_at(_q, 0)) and poison the micro-batch
        forever (the marker never commits, every replay re-crashes). Now
        quantized_base filters empties once, for batch and streaming
        identically."""
        from scala_etl_test_spark.operators.similarity import embedding_covariance
        from scala_etl_test_spark.streaming import append_batch_moments, read_covariance

        rows = [(0, [1.0, 2.0]), (1, [3.0, 5.0]), (2, []), (3, None), (4, [2.0, 7.0])]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        clean = df.filter(F.size("embedding") > 0)
        mdir = str(tmp_path / "moments")
        assert append_batch_moments(spark, mdir, df, 0)  # does not crash
        got = {
            (r["dim_i"], r["dim_j"]): r["cov"]
            for r in read_covariance(spark, mdir).collect()
        }
        want = {
            (r["dim_i"], r["dim_j"]): r["cov"]
            for r in embedding_covariance(clean).collect()
        }
        assert got == want
        assert append_batch_moments(spark, mdir, df, 0) is False  # replay ok

    def test_cross_batch_width_mismatch_fails_loud(self, spark, tmp_path):
        """Each batch is internally consistent, so the per-batch guard
        passes — but merging moment sums from d=2 and d=3 spaces is
        corruption, and serving must raise (the kind='d' sentinel), not
        return garbage."""
        import pytest

        from scala_etl_test_spark.streaming import append_batch_moments, read_covariance

        d2 = spark.createDataFrame(
            [(0, [1.0, 2.0]), (1, [3.0, 4.0])], "vec_id long, embedding array<double>"
        )
        d3 = spark.createDataFrame(
            [(2, [1.0, 2.0, 3.0])], "vec_id long, embedding array<double>"
        )
        mdir = str(tmp_path / "moments")
        assert append_batch_moments(spark, mdir, d2, 0)
        assert append_batch_moments(spark, mdir, d3, 1)
        with pytest.raises(Exception, match="distinct embedding widths"):
            read_covariance(spark, mdir).collect()


class TestMomentsCompaction:
    """compact_moments: the delta spine collapses to ONE batch dir, the
    served matrix is bit-identical before/after, and the _COMPACTLOG
    watermark keeps replays of collapsed batches no-ops."""

    def _emb(self, spark, sf_dir):
        from scala_etl_test_spark.sources.parquet_source import read_table

        return read_table(spark, sf_dir, "embeddings")

    def _cov(self, spark, mdir):
        from scala_etl_test_spark.streaming import read_covariance

        return {
            (r["dim_i"], r["dim_j"]): r["cov"]
            for r in read_covariance(spark, mdir).collect()
        }

    def test_bit_identical_and_collapses_spine(self, spark, sf_dir, tmp_path):
        import pathlib

        from scala_etl_test_spark.streaming import append_batch_moments, compact_moments
        from scala_etl_test_spark.streaming.compaction import marker_ids
        from scala_etl_test_spark.streaming.moments import _partials_dir

        emb = self._emb(spark, sf_dir)
        mdir = str(tmp_path / "moments")
        for k in range(3):
            assert append_batch_moments(spark, mdir, emb.filter(F.col("vec_id") % 3 == k), k)
        before = self._cov(spark, mdir)
        assert compact_moments(spark, mdir) == 2
        assert self._cov(spark, mdir) == before  # bit-identical serve
        dirs = sorted(
            p.name for p in pathlib.Path(_partials_dir(mdir)).glob("batch_id=*")
        )
        assert dirs == ["batch_id=2"]  # spine collapsed
        assert marker_ids(mdir) == []  # markers collapsed into watermark

    def test_replay_after_compaction_is_noop(self, spark, sf_dir, tmp_path):
        from scala_etl_test_spark.streaming import append_batch_moments, compact_moments

        emb = self._emb(spark, sf_dir)
        mdir = str(tmp_path / "moments")
        for k in range(2):
            assert append_batch_moments(spark, mdir, emb.filter(F.col("vec_id") % 2 == k), k)
        before = self._cov(spark, mdir)
        assert compact_moments(spark, mdir) == 1
        # marker is gone, but the watermark must keep the replay a no-op
        assert append_batch_moments(spark, mdir, emb.filter(F.col("vec_id") % 2 == 0), 0) is False
        assert self._cov(spark, mdir) == before

    def test_append_after_compaction_composes(self, spark, sf_dir, tmp_path):
        from scala_etl_test_spark.operators.similarity import embedding_covariance
        from scala_etl_test_spark.streaming import append_batch_moments, compact_moments

        emb = self._emb(spark, sf_dir)
        mdir = str(tmp_path / "moments")
        for k in range(2):
            assert append_batch_moments(spark, mdir, emb.filter(F.col("vec_id") % 3 == k), k)
        assert compact_moments(spark, mdir) == 1
        assert append_batch_moments(spark, mdir, emb.filter(F.col("vec_id") % 3 == 2), 2)
        want = {
            (r["dim_i"], r["dim_j"]): r["cov"]
            for r in embedding_covariance(emb).collect()
        }
        assert self._cov(spark, mdir) == want
        assert compact_moments(spark, mdir) == 2  # second compaction stacks
        assert self._cov(spark, mdir) == want

    def test_wipes_uncommitted_orphans(self, spark, sf_dir, tmp_path):
        """An orphaned partial (no marker) must be wiped BEFORE the
        watermark lands — otherwise 'everything ≤ watermark is committed'
        would adopt garbage a replay was supposed to rewrite."""
        from scala_etl_test_spark.streaming import append_batch_moments, compact_moments
        from scala_etl_test_spark.streaming.moments import (
            _partials_dir,
            batch_moment_partials,
        )

        emb = self._emb(spark, sf_dir)
        mdir = str(tmp_path / "moments")
        for k in range(2):
            assert append_batch_moments(spark, mdir, emb.filter(F.col("vec_id") % 3 == k), k)
        before = self._cov(spark, mdir)
        # orphan: batch 1's id re-used by a crashed, BIGGER attempt at
        # batch 2 — no marker, must not survive compaction
        (
            batch_moment_partials(emb)
            .withColumn("batch_id", F.lit(2))
            .write.mode("append")
            .partitionBy("batch_id")
            .parquet(_partials_dir(mdir))
        )
        assert compact_moments(spark, mdir) == 1  # hi = max COMMITTED, not max on disk
        assert self._cov(spark, mdir) == before

    def test_nothing_to_compact(self, spark, sf_dir, tmp_path):
        from scala_etl_test_spark.streaming import append_batch_moments, compact_moments

        mdir = str(tmp_path / "moments")
        assert compact_moments(spark, mdir) is None  # never written
        assert append_batch_moments(spark, mdir, self._emb(spark, sf_dir), 0)
        assert compact_moments(spark, mdir) is None  # single batch: no-op

    def test_crash_mid_swap_recovers(self, spark, sf_dir, tmp_path):
        """Simulate the worst crash window (live partials renamed away,
        merged tmp + watermark on disk): the next compact_moments call
        finishes the swap and serving returns the identical matrix."""
        import pathlib

        from scala_etl_test_spark.streaming import append_batch_moments, compact_moments
        from scala_etl_test_spark.streaming.moments import _partials_dir

        emb = self._emb(spark, sf_dir)
        mdir = str(tmp_path / "moments")
        for k in range(2):
            assert append_batch_moments(spark, mdir, emb.filter(F.col("vec_id") % 2 == k), k)
        before = self._cov(spark, mdir)
        assert compact_moments(spark, mdir) == 1
        # crash window: partials renamed to retired, rename-in never ran
        pdir = pathlib.Path(_partials_dir(mdir))
        pdir.rename(pathlib.Path(mdir) / "partials_retired")
        assert compact_moments(spark, mdir) is None  # recovery path, 1 batch dir left
        assert self._cov(spark, mdir) == before

    def _manufacture_mid_swap_crash(self, spark, sf_dir, tmp_path):
        """Freeze a moments store at the exact compact_moments crash
        window the ADVICE r10 data-loss sequence starts from: watermark
        landed, live spine renamed to retired, merged tmp never renamed
        in. Returns (mdir, emb); batches 0 and 1 (vec_id % 3 == 0/1) are
        committed, batch 2's slice is still unstreamed."""
        import pathlib
        import shutil as _sh

        from scala_etl_test_spark.streaming import append_batch_moments, compact_moments
        from scala_etl_test_spark.streaming.moments import _partials_dir

        emb = self._emb(spark, sf_dir)
        mdir = str(tmp_path / "moments")
        for k in range(2):
            assert append_batch_moments(spark, mdir, emb.filter(F.col("vec_id") % 3 == k), k)
        pdir = pathlib.Path(_partials_dir(mdir))
        saved = tmp_path / "saved_spine"
        _sh.copytree(pdir, saved)
        assert compact_moments(spark, mdir) == 1
        # rewind to the crash window: merged spine → tmp, old spine → retired
        pdir.rename(pathlib.Path(mdir) / "partials_compacting")
        saved.rename(pathlib.Path(mdir) / "partials_retired")
        return mdir, emb

    def test_append_after_mid_swap_crash_heals(self, spark, sf_dir, tmp_path):
        """THE ADVICE r10 medium sequence: a restarted stream appends
        BEFORE anyone re-runs compaction. Pre-fix, the parquet append
        re-created the live dir with only the new batch — serving silently
        dropped all pre-compaction moments while markers/watermark still
        claimed them committed, and the NEXT compact_moments then deleted
        partials_retired/partials_compacting (the only surviving copies).
        The append path now finishes the swap first."""
        import pathlib

        from scala_etl_test_spark.operators.similarity import embedding_covariance
        from scala_etl_test_spark.streaming import append_batch_moments, compact_moments

        mdir, emb = self._manufacture_mid_swap_crash(spark, sf_dir, tmp_path)
        assert append_batch_moments(spark, mdir, emb.filter(F.col("vec_id") % 3 == 2), 2)
        want = {
            (r["dim_i"], r["dim_j"]): r["cov"]
            for r in embedding_covariance(emb).collect()
        }
        assert self._cov(spark, mdir) == want
        # the follow-up compaction must consolidate, not destroy
        assert compact_moments(spark, mdir) == 2
        assert self._cov(spark, mdir) == want
        assert not (pathlib.Path(mdir) / "partials_retired").exists()
        assert not (pathlib.Path(mdir) / "partials_compacting").exists()

    def test_read_after_mid_swap_crash_heals(self, spark, sf_dir, tmp_path):
        """Serving straight out of the crash window must finish the swap
        (not return None / a fragment) and only drop the retired copy
        after the merge is confirmed live."""
        import pathlib

        from scala_etl_test_spark.operators.similarity import embedding_covariance

        mdir, emb = self._manufacture_mid_swap_crash(spark, sf_dir, tmp_path)
        want = {
            (r["dim_i"], r["dim_j"]): r["cov"]
            for r in embedding_covariance(emb.filter(F.col("vec_id") % 3 != 2)).collect()
        }
        assert self._cov(spark, mdir) == want
        assert not (pathlib.Path(mdir) / "partials_retired").exists()
        assert not (pathlib.Path(mdir) / "partials_compacting").exists()

    def test_heal_merges_prefix_damaged_store(self, spark, sf_dir, tmp_path):
        """A store damaged by the PRE-fix append (live dir re-created
        mid-swap, so live + tmp + retired all exist) is still healed: the
        merged tmp generations move into the live dir next to the
        post-crash appends, and nothing is lost."""
        import pathlib

        from scala_etl_test_spark.operators.similarity import embedding_covariance
        from scala_etl_test_spark.streaming.compaction import marker_path
        from scala_etl_test_spark.streaming.moments import (
            _partials_dir,
            batch_moment_partials,
        )

        mdir, emb = self._manufacture_mid_swap_crash(spark, sf_dir, tmp_path)
        # replicate the old append body verbatim: write + marker, NO heal
        (
            batch_moment_partials(emb.filter(F.col("vec_id") % 3 == 2))
            .withColumn("batch_id", F.lit(2))
            .write.mode("append")
            .partitionBy("batch_id")
            .parquet(_partials_dir(mdir))
        )
        marker_path(mdir, 2).mkdir(parents=True, exist_ok=True)
        want = {
            (r["dim_i"], r["dim_j"]): r["cov"]
            for r in embedding_covariance(emb).collect()
        }
        assert self._cov(spark, mdir) == want
        assert not (pathlib.Path(mdir) / "partials_retired").exists()
        assert not (pathlib.Path(mdir) / "partials_compacting").exists()


class TestMomentsErasure:
    """forget_from_moments: integer moments subtract EXACTLY, so erasure
    is one negated-partials append and the served matrix equals the batch
    operator over the survivors bit-identically."""

    def _emb(self, spark, sf_dir):
        from scala_etl_test_spark.sources.parquet_source import read_table

        return read_table(spark, sf_dir, "embeddings")

    def _cov(self, spark, mdir):
        from scala_etl_test_spark.streaming import read_covariance

        return {
            (r["dim_i"], r["dim_j"]): r["cov"]
            for r in read_covariance(spark, mdir).collect()
        }

    def test_erasure_equals_survivor_recompute_bit_identical(self, spark, sf_dir, tmp_path):
        from scala_etl_test_spark.operators.similarity import embedding_covariance
        from scala_etl_test_spark.streaming import append_batch_moments, forget_from_moments

        emb = self._emb(spark, sf_dir)
        mdir = str(tmp_path / "moments")
        for k in range(2):
            assert append_batch_moments(spark, mdir, emb.filter(F.col("vec_id") % 2 == k), k)
        doomed = emb.filter(F.col("vec_id") % 7 == 0)
        assert forget_from_moments(spark, mdir, doomed) == 0
        survivors = emb.filter(F.col("vec_id") % 7 != 0)
        want = {
            (r["dim_i"], r["dim_j"]): r["cov"]
            for r in embedding_covariance(survivors).collect()
        }
        assert self._cov(spark, mdir) == want

    def test_explicit_erasure_id_replay_is_noop(self, spark, sf_dir, tmp_path):
        from scala_etl_test_spark.streaming import append_batch_moments, forget_from_moments

        emb = self._emb(spark, sf_dir)
        mdir = str(tmp_path / "moments")
        assert append_batch_moments(spark, mdir, emb, 0)
        doomed = emb.limit(5)
        assert forget_from_moments(spark, mdir, doomed, erasure_id=0) == 0
        after_once = self._cov(spark, mdir)
        # retry of the SAME request: no-op, never a double subtract
        assert forget_from_moments(spark, mdir, doomed, erasure_id=0) is None
        assert self._cov(spark, mdir) == after_once

    def test_erasure_survives_compaction_and_tombstone_holds(self, spark, sf_dir, tmp_path):
        from scala_etl_test_spark.operators.similarity import embedding_covariance
        from scala_etl_test_spark.streaming import (
            append_batch_moments,
            compact_moments,
            forget_from_moments,
        )

        emb = self._emb(spark, sf_dir)
        mdir = str(tmp_path / "moments")
        for k in range(2):
            assert append_batch_moments(spark, mdir, emb.filter(F.col("vec_id") % 2 == k), k)
        doomed = emb.filter(F.col("vec_id") % 5 == 0)
        assert forget_from_moments(spark, mdir, doomed, erasure_id=0) == 0
        before = self._cov(spark, mdir)
        assert compact_moments(spark, mdir) == 1
        assert self._cov(spark, mdir) == before  # erasure folded into the merge
        # the tombstone: replaying the compacted erasure stays a no-op
        assert forget_from_moments(spark, mdir, doomed, erasure_id=0) is None
        assert self._cov(spark, mdir) == before
        want = {
            (r["dim_i"], r["dim_j"]): r["cov"]
            for r in embedding_covariance(emb.filter(F.col("vec_id") % 5 != 0)).collect()
        }
        assert before == want

    def test_stream_append_after_erasure_composes(self, spark, sf_dir, tmp_path):
        from scala_etl_test_spark.operators.similarity import embedding_covariance
        from scala_etl_test_spark.streaming import append_batch_moments, forget_from_moments

        emb = self._emb(spark, sf_dir)
        mdir = str(tmp_path / "moments")
        assert append_batch_moments(spark, mdir, emb.filter(F.col("vec_id") % 3 == 0), 0)
        doomed = emb.filter((F.col("vec_id") % 3 == 0) & (F.col("vec_id") % 2 == 0))
        assert forget_from_moments(spark, mdir, doomed) == 0
        assert append_batch_moments(spark, mdir, emb.filter(F.col("vec_id") % 3 == 1), 1)
        survivors = emb.filter(
            ((F.col("vec_id") % 3 == 0) & (F.col("vec_id") % 2 != 0))
            | (F.col("vec_id") % 3 == 1)
        )
        want = {
            (r["dim_i"], r["dim_j"]): r["cov"]
            for r in embedding_covariance(survivors).collect()
        }
        assert self._cov(spark, mdir) == want

    def test_fully_erased_store_fails_loud(self, spark, sf_dir, tmp_path):
        import pytest

        from scala_etl_test_spark.streaming import append_batch_moments, forget_from_moments

        emb = self._emb(spark, sf_dir)
        mdir = str(tmp_path / "moments")
        assert append_batch_moments(spark, mdir, emb, 0)
        assert forget_from_moments(spark, mdir, emb) == 0
        with pytest.raises(Exception, match="contributing rows"):
            self._cov(spark, mdir)

    def test_auto_allocated_ids_are_sequential(self, spark, sf_dir, tmp_path):
        from scala_etl_test_spark.streaming import append_batch_moments, forget_from_moments

        emb = self._emb(spark, sf_dir)
        mdir = str(tmp_path / "moments")
        assert append_batch_moments(spark, mdir, emb, 0)
        assert forget_from_moments(spark, mdir, emb.limit(2)) == 0
        assert forget_from_moments(spark, mdir, emb.filter(F.col("vec_id").between(10, 12))) == 1


class TestIvfIndexCompaction:
    """compact_ivf_index + committed-only serving: the per-cell batch-dir
    spine collapses to one generation, probe results are identical
    before/after, replays of compacted batches stay no-ops, and
    uncommitted partials never surface in probe results."""

    @pytest.fixture()
    def index(self, spark, sf_dir, tmp_path):
        from scala_etl_test_spark.streaming import append_batch_to_ivf, init_ivf_index

        emb = read_table(spark, sf_dir, "embeddings")
        d = str(tmp_path / "ivf_index")
        init_ivf_index(spark, d, emb, n_centroids=4)
        max_id = emb.agg(F.max("vec_id")).first()[0] + 1
        for r in (1, 2):
            batch = emb.select(
                (F.col("vec_id") + F.lit(r * max_id)).alias("vec_id"), "embedding", "label"
            )
            assert append_batch_to_ivf(spark, d, batch, r)
        return d, emb, max_id

    def _probe(self, spark, d, emb, k=400):
        from scala_etl_test_spark.streaming import ivf_index_topk

        qv = [float(v) for v in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
        return [r["vec_id"] for r in ivf_index_topk(spark, d, qv, k=k).collect()]

    def test_probe_identical_and_spine_collapsed(self, spark, index):
        import pathlib as _pl

        from scala_etl_test_spark.streaming import compact_ivf_index
        from scala_etl_test_spark.streaming.ann import _corpus_dir
        from scala_etl_test_spark.streaming.compaction import marker_ids

        d, emb, _ = index
        before = self._probe(spark, d, emb)
        assert compact_ivf_index(spark, d) == 2
        assert self._probe(spark, d, emb) == before
        gens = {
            p.name
            for p in _pl.Path(_corpus_dir(d)).glob("cluster_id=*/batch_id=*")
        }
        assert gens == {"batch_id=2"}
        assert marker_ids(d) == []
        # the cell-routed merge writes one file per compacted cell
        cells = list(_pl.Path(_corpus_dir(d)).glob("cluster_id=*/batch_id=2"))
        assert cells and all(len(list(c.glob("*.parquet"))) == 1 for c in cells)

    def test_replay_after_compaction_is_noop(self, spark, index):
        from scala_etl_test_spark.streaming import append_batch_to_ivf, compact_ivf_index
        from scala_etl_test_spark.streaming.ann import read_ivf_corpus

        d, emb, max_id = index
        n_before = read_ivf_corpus(spark, d).count()
        assert compact_ivf_index(spark, d) == 2
        replay = emb.select(
            (F.col("vec_id") + F.lit(1 * max_id)).alias("vec_id"), "embedding", "label"
        )
        assert append_batch_to_ivf(spark, d, replay, 1) is False
        assert read_ivf_corpus(spark, d).count() == n_before

    def test_append_after_compaction_composes(self, spark, index):
        from scala_etl_test_spark.streaming import append_batch_to_ivf, compact_ivf_index
        from scala_etl_test_spark.streaming.ann import read_ivf_corpus

        d, emb, max_id = index
        n = emb.count()
        assert compact_ivf_index(spark, d) == 2
        batch3 = emb.select(
            (F.col("vec_id") + F.lit(3 * max_id)).alias("vec_id"), "embedding", "label"
        )
        assert append_batch_to_ivf(spark, d, batch3, 3)
        assert read_ivf_corpus(spark, d).count() == 4 * n
        served = set(self._probe(spark, d, emb, k=10 * n))
        assert served & {i + 3 * max_id for i in range(n)}, "new batch must serve"
        # second compaction stacks on the first
        assert compact_ivf_index(spark, d) == 3

    def test_uncommitted_partial_never_served_and_wiped_by_compaction(self, spark, index):
        import pathlib as _pl

        from scala_etl_test_spark.operators.similarity import ivf_assign
        from scala_etl_test_spark.streaming import compact_ivf_index
        from scala_etl_test_spark.streaming.ann import (
            _corpus_dir,
            read_centroids,
            read_ivf_corpus,
        )

        d, emb, max_id = index
        # orphan: batch 9's rows land, marker never does (crash window)
        phantom = emb.select(
            (F.col("vec_id") + F.lit(9 * max_id)).alias("vec_id"), "embedding", "label"
        )
        (
            ivf_assign(phantom, read_centroids(spark, d))
            .withColumn("batch_id", F.lit(9))
            .write.mode("append")
            .partitionBy("cluster_id", "batch_id")
            .parquet(_corpus_dir(d))
        )
        n = emb.count()
        served = self._probe(spark, d, emb, k=10 * n)
        phantom_ids = {i + 9 * max_id for i in range(n)}
        assert not (set(served) & phantom_ids), "uncommitted vectors served!"
        assert compact_ivf_index(spark, d) == 2
        assert read_ivf_corpus(spark, d).count() == 3 * n  # orphan wiped
        # erasure still composes on the compacted layout
        from scala_etl_test_spark.streaming import forget_from_ivf_index

        doomed = spark.createDataFrame([(int(1 * max_id),)], "vec_id long")
        forget_from_ivf_index(spark, d, doomed).collect()
        assert read_ivf_corpus(spark, d).count() == 3 * n - 1


def test_ivf_index_erasure_writes_audit_trail(spark, sf_dir, tmp_path):
    """forget_from_ivf_index inherits the _ERASURE_AUDIT trail (r10): the
    per-cell intent is recorded under the index's corpus dir and reads
    back 'applied' — a deletion request against the maintained index is
    diagnosable post-hoc exactly like the batch path."""
    from scala_etl_test_spark.operators.similarity import erasure_audit_status
    from scala_etl_test_spark.streaming import forget_from_ivf_index, init_ivf_index
    from scala_etl_test_spark.streaming.ann import _corpus_dir

    emb = read_table(spark, sf_dir, "embeddings")
    d = str(tmp_path / "ivf_index")
    init_ivf_index(spark, d, emb, n_centroids=4)
    doomed = emb.select("vec_id").orderBy("vec_id").limit(3)
    forget_from_ivf_index(spark, d, doomed).collect()
    status = erasure_audit_status(spark, _corpus_dir(d)).collect()
    assert status and all(r["status"] == "applied" for r in status)
    assert sum(r["rows_erased"] for r in status) == 3


class TestIvfCellCompaction:
    """compact_ivf_cells: only spine-heavy cells rewritten, markers
    untouched (replay guards need no watermark), probe identical,
    crash-window recovery converges."""

    @pytest.fixture()
    def index(self, spark, sf_dir, tmp_path):
        from scala_etl_test_spark.streaming import append_batch_to_ivf, init_ivf_index

        emb = read_table(spark, sf_dir, "embeddings")
        d = str(tmp_path / "ivf_index")
        init_ivf_index(spark, d, emb, n_centroids=4)
        max_id = emb.agg(F.max("vec_id")).first()[0] + 1
        corpus = spark.read.parquet(f"{d}/corpus")
        # batches 1..2 confined to cell 2 only: cell 2's spine grows to 3
        # generations while the other cells stay at 1
        cell2 = corpus.filter(F.col("cluster_id") == 2).select(
            "vec_id", "embedding", "label"
        )
        for r in (1, 2):
            batch = cell2.select(
                (F.col("vec_id") + F.lit(r * max_id)).alias("vec_id"), "embedding", "label"
            )
            assert append_batch_to_ivf(spark, d, batch, r)
        return d, emb, max_id

    def _probe_all(self, spark, d, emb):
        from scala_etl_test_spark.streaming import ivf_index_topk

        qv = [float(v) for v in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
        return sorted(
            r["vec_id"] for r in ivf_index_topk(spark, d, qv, k=10_000, nprobe=4).collect()
        )

    def test_only_heavy_cells_rewritten_markers_kept(self, spark, index):
        import pathlib as _pl

        from scala_etl_test_spark.streaming import compact_ivf_cells
        from scala_etl_test_spark.streaming.compaction import marker_ids

        d, emb, _ = index
        before_probe = self._probe_all(spark, d, emb)
        corpus = _pl.Path(d, "corpus")
        untouched_before = {
            c.name: sorted(str(p) for p in c.rglob("*.parquet"))
            for c in corpus.glob("cluster_id=*")
            if c.name != "cluster_id=2"
        }
        got = compact_ivf_cells(spark, d, min_generations=3)
        assert got == {2: 3}
        gens2 = {p.name for p in (corpus / "cluster_id=2").glob("batch_id=*")}
        assert gens2 == {"batch_id=2"}  # merged under the cell's own hi
        untouched_after = {
            c.name: sorted(str(p) for p in c.rglob("*.parquet"))
            for c in corpus.glob("cluster_id=*")
            if c.name != "cluster_id=2"
        }
        assert untouched_after == untouched_before  # byte-for-byte file sets
        assert marker_ids(d) == [-1, 1, 2]  # markers untouched
        assert self._probe_all(spark, d, emb) == before_probe

    def test_replay_and_append_after_cell_compaction(self, spark, index):
        from scala_etl_test_spark.streaming import append_batch_to_ivf, compact_ivf_cells
        from scala_etl_test_spark.streaming.ann import read_ivf_corpus

        d, emb, max_id = index
        n_before = read_ivf_corpus(spark, d).count()
        assert compact_ivf_cells(spark, d, min_generations=3) == {2: 3}
        # marker-guarded replay of a merged batch: no-op
        replay = emb.limit(5).select(
            (F.col("vec_id") + F.lit(1 * max_id)).alias("vec_id"), "embedding", "label"
        )
        assert append_batch_to_ivf(spark, d, replay, 1) is False
        assert read_ivf_corpus(spark, d).count() == n_before
        # new appends land as a fresh generation on the merged cell
        batch3 = emb.limit(7).select(
            (F.col("vec_id") + F.lit(3 * max_id)).alias("vec_id"), "embedding", "label"
        )
        assert append_batch_to_ivf(spark, d, batch3, 3)
        assert read_ivf_corpus(spark, d).count() == n_before + 7

    def test_below_budget_is_noop(self, spark, index):
        from scala_etl_test_spark.streaming import compact_ivf_cells

        d, _, _ = index
        assert compact_ivf_cells(spark, d, min_generations=4) == {}

    def test_crash_window_recovery(self, spark, index):
        """Worst window: the merged generation landed invisibly inside the
        cell (_merged_hi_N) but old generations were never deleted. The
        next compact_ivf_cells call must finish the swap, never
        double-count, and serve the identical corpus."""
        import pathlib as _pl

        from scala_etl_test_spark.streaming import compact_ivf_cells
        from scala_etl_test_spark.streaming.ann import read_ivf_corpus

        d, emb, _ = index
        before_probe = self._probe_all(spark, d, emb)
        n_before = read_ivf_corpus(spark, d).count()
        cell_dir = _pl.Path(d, "corpus", "cluster_id=2")
        # manufacture the crash state: stage the merge of cell 2's three
        # generations as _merged_hi=2, leaving the live generations intact
        (
            spark.read.parquet(f"{d}/corpus")
            .filter(F.col("cluster_id") == 2)
            .drop("cluster_id", "batch_id")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(str(cell_dir / "_merged_hi_2"))
        )
        # read_ivf_corpus itself finishes the pending swap (serve-path
        # heal, ADVICE r10) and the row count is unchanged either way
        assert read_ivf_corpus(spark, d).count() == n_before
        compact_ivf_cells(spark, d, min_generations=99)  # recovery-only pass
        gens2 = {p.name for p in cell_dir.glob("batch_id=*")}
        assert gens2 == {"batch_id=2"}
        assert read_ivf_corpus(spark, d).count() == n_before
        assert self._probe_all(spark, d, emb) == before_probe

    def test_serve_path_heals_mid_cell_swap(self, spark, index):
        """ADVICE r10: a crash INSIDE the cell swap — old generations
        already deleted, merged generation still staged invisibly as
        _merged_hi_N — previously made every serve under-count that cell
        until someone happened to re-run compaction. The serve path now
        runs the recovery sweep itself, with no compaction call."""
        import pathlib as _pl
        import shutil as _sh

        from scala_etl_test_spark.streaming.ann import read_ivf_corpus

        d, emb, _ = index
        before_probe = self._probe_all(spark, d, emb)
        n_before = read_ivf_corpus(spark, d).count()
        cell_dir = _pl.Path(d, "corpus", "cluster_id=2")
        (
            spark.read.parquet(f"{d}/corpus")
            .filter(F.col("cluster_id") == 2)
            .drop("cluster_id", "batch_id")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(str(cell_dir / "_merged_hi_2"))
        )
        for gen in cell_dir.glob("batch_id=*"):
            _sh.rmtree(gen)
        # no compaction call — serving alone must see the full cell
        assert read_ivf_corpus(spark, d).count() == n_before
        assert self._probe_all(spark, d, emb) == before_probe
        gens = {p.name for p in cell_dir.glob("batch_id=*")}
        assert gens == {"batch_id=2"}


def test_moments_lifecycle_through_real_stream(spark, sf_dir, tmp_path):
    """End-to-end: a REAL availableNow stream maintains the moment store,
    then the r10 lifecycle tail runs against what the stream wrote —
    erase a cohort, compact, serve — and the matrix equals the batch
    operator over the post-erasure survivors bit-identically."""
    import os
    import shutil as _sh
    import time as _t

    from scala_etl_test_spark.operators.similarity import embedding_covariance
    from scala_etl_test_spark.streaming import (
        compact_moments,
        forget_from_moments,
        read_covariance,
        stream_covariance,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    src = tmp_path / "src"
    src.mkdir()
    base = _t.time() - 100
    for k in range(2):
        stage = tmp_path / f"_stage{k}"
        emb.filter(F.col("vec_id") % 2 == k).coalesce(1).write.mode("overwrite").parquet(
            str(stage)
        )
        dst = src / f"b{k}.parquet"
        _sh.copy(next(stage.glob("part-*.parquet")), dst)
        os.utime(dst, (base + k, base + k))
    mdir = str(tmp_path / "moments")
    sdf = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    stream_covariance(sdf, mdir, str(tmp_path / "ck")).awaitTermination()

    doomed = emb.filter(F.col("vec_id") % 5 == 0)
    assert forget_from_moments(spark, mdir, doomed, erasure_id=0) == 0
    assert compact_moments(spark, mdir) == 1
    assert forget_from_moments(spark, mdir, doomed, erasure_id=0) is None  # tombstone
    got = {
        (r["dim_i"], r["dim_j"]): r["cov"] for r in read_covariance(spark, mdir).collect()
    }
    want = {
        (r["dim_i"], r["dim_j"]): r["cov"]
        for r in embedding_covariance(emb.filter(F.col("vec_id") % 5 != 0)).collect()
    }
    assert got == want


def test_moments_store_with_zero_contributing_vectors_serves_empty(spark, tmp_path):
    """Edge pin: a store whose only committed batch carried NO
    contributing vectors (all NULL/empty embeddings) has an EMPTY pair
    table, so serving returns an empty matrix — no rows, no garbage, no
    crash (AQE eliminates the n-guard join when the pair side is empty;
    the n<=0 raise fires only when pair groups EXIST with nothing behind
    them, i.e. the erased-to-zero store, pinned in
    test_fully_erased_store_fails_loud). None stays reserved for
    'nothing ever committed'."""
    from scala_etl_test_spark.streaming import append_batch_moments, read_covariance

    df = spark.createDataFrame(
        [(0, None), (1, [])], "vec_id long, embedding array<double>"
    )
    mdir = str(tmp_path / "moments")
    assert append_batch_moments(spark, mdir, df, 0)  # commits, no crash
    served = read_covariance(spark, mdir)
    assert served is not None and served.count() == 0
