"""10×-scale-UP stress run per operator family.

    python tools/stress_replica.py [--family docs|docs2|docs3|rel|rel2|ann] [sf_dir] [out_dir]

Builds a 10× replica of the family's tables (default base:
/root/testdata/sf0.1) and times the family's queries at 1× vs 10×,
printing one JSON line of wall ratios. Reading them: join/shuffle-light
ops amortize overhead and land ~1-3×; compute-bound narrow ops approach
LINEAR (~8-10×) once 32 cores saturate at both scales — that is the
expected ceiling, not a trap. The trap signature is a ratio near-or-above
linear on an op whose cost should be join-bounded: this harness found the
r4 edit-distance "33×" (single-file layout artifact), the SNM n² nested
loop, and the r6 simhash single-chunk banding quadratic (9.6× → 6.2×
after multi-piece blocking, the residual being the linear fingerprint
compute).

Replica construction traps (see also the r4/r5/r6 logs):

- **docs family — verbatim replication** makes every document a 10-way
  exact dup, which explodes candidate-pair counts and measures the dup
  explosion, not the operator. Each replica instead gets a DETERMINISTIC
  per-(replica, doc) word shuffle — order by md5(replica|doc_id|pos|word)
  — so global word/gram frequency distributions stay realistic while
  cross-replica docs stop being near-dups.
- **rel family — foreign keys must shift consistently**: every key column
  is offset by replica × (max_key + 1), with ONE offset shared per key
  DOMAIN (o_orderkey/l_orderkey; c_custkey/o_custkey/events.user_id —
  training_set_pit joins events to customer). Dimension tables that the
  queries treat as fixed-cardinality (nation, region) are copied, not
  replicated, and nationkeys are left unshifted.
- **single-file layout**: a compacted parquet file glues into ONE scan
  partition and serializes per-row fanout, masquerading as quadratic
  scaling. Replicas are written as 32-file directories. (The engine's
  ``partitioning.spread`` guard also defends the single-file case at
  runtime; the multi-file layout keeps the measurement about the
  OPERATOR.)

Requires ~10× the replicated tables' footprint free under ``out_dir``.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FAMILIES = {
    "docs": [
        "dedup_minhash_pairs",
        "dedup_simhash_pairs",
        "duplicate_spans",
        "chunk_dedup",
        "winnow_fingerprints",
        "winnow_overlap",
        "dedup_edit_distance",
        "text_quality",
    ],
    "rel": [
        "tpch_q1",
        "tpch_q3",
        "tpch_q5",
        "tpch_q6",
        "tpch_q10",
        "tpch_q13",
        "tpch_q18",
        "tpch_q21",
        "semi_join_exists",
        "events_sessionize",
        "events_hourly_rollup",
        "event_transitions",
        "events_funnel",
        "events_ks_drift",
        "training_set_pit",
        # graph/recsys tier over the same replica: baskets keep their 1×
        # size (keys shift per replica), so co-occurrence pair counts and
        # wedge counts must grow linearly — a super-linear ratio here means
        # the degree orientation / basket bound broke
        "copurchase_pairs",
        "item_cf_neighbors",
        "graph_triangles",
        "graph_pagerank",
        # measurable since the corpus-scaled (nation, name-digit-suffix)
        # blocking key replaced nation-only blocking AND the replica
        # builder prepends a per-replica name tag (verbatim names would be
        # 10-way exact twins for the name comparator)
        "entity_resolution",
    ],
    # retrieval / clustering tier over the same documents replica
    "docs2": [
        "bm25_topk",
        "dedup_snm",
        "dedup_prefix_jaccard",
        "dedup_clusters",
        "corpus_clean",
        # r9: cluster-backed split-leakage governance gate (minhash pairs +
        # CC + two split audits — the corpus-clean cost shape)
        "split_leakage_audit",
        # r9: LSH recall audit — its ground truth is exact all-pairs within
        # a 60% hash stratum, so like dedup_prefix_jaccard its candidate
        # volume is quadratic in the SATURATED replica's vocabulary regime
        # by design; read its ratio next to dedup_prefix_jaccard's
        "lsh_recall_audit",
    ],
    # blocked-jaccard / governance tier over the same documents replica;
    # NOT hybrid_retrieval — it fuses ann_cosine_topk, the brute-force
    # verification baseline excluded by the ann-family rule
    "docs3": [
        "dedup_ngram_jaccard",
        "dedup_containment",
        "duplicate_span_stats",
        "dedup_method_report",
        "doc_fingerprint",
        "decontaminate_bloom_audit",
        "source_overlap_matrix",
        "quality_filter_sweep",
        "corpus_release_report",
        # r9: content-addressed export sharding manifest (row-local hash +
        # one bounded groupBy — must be flatly linear)
        "shard_manifest",
    ],
    # range/as-of/skew/interval join shapes — the rel queries whose cost
    # is NOT a plain equi-join and could hide super-linear growth; plus
    # the four TPC-H members exercising part/supplier joins absent from
    # the main rel list (the other TPC-H remainders reuse join shapes the
    # measured members already cover — deliberate cap, not an oversight)
    "rel2": [
        "skew_salted_join",
        "asof_last_purchase",
        "range_join_session_errors",
        "sessions_max_concurrency",
        "event_path_trigrams",
        "scd2_asof_enrich",
        "full_outer_reconcile",
        "merge_upsert",
        "funnel_latency",
        "events_retention",
        "tpch_q2",
        "tpch_q9",
        "tpch_q11",
        "tpch_q20",
    ],
    # embedding tier: ann_cosine_topk (brute force) is EXCLUDED by design —
    # it is the O(n²) verification baseline, not a scale path; these are
    # the bucketed/coded paths that must stay sub-quadratic.
    # READING THE RATIOS: the cell-blocked wrappers (semantic_dedup,
    # greedy, label_spread, contrastive) are n^1.5 BY DESIGN — k=⌊√n⌋
    # cells balance the n·k assignment against the Σc²≈n²/k pair stage,
    # so PAIR WORK grows 10^1.5 ≈ 31.6× at 10× rows. A wall ratio of
    # 2–4× here is sub-linear per unit work; the trap signature is a
    # ratio approaching or exceeding the 31.6× work growth (the r6 fixed
    # k=16 bug showed 10.75× and climbing with n). Compare absolute
    # walls across rounds too: a faster 1× base mechanically inflates
    # the ratio without any 10×-side regression.
    "ann": [
        "ann_ivf_topk",
        "ann_lsh_topk",
        "ann_multiprobe_topk",
        "ann_pq_topk",
        "ann_ivfpq_topk",
        # r9: exact second moments — rows × d²/2 row-local products into a
        # d²-bounded aggregate; must be flatly linear in rows
        "embedding_covariance",
        "semantic_dedup",
        "semantic_dedup_greedy",
        "label_spread",
        "embedding_near_dup_lsh",
        "contrastive_negatives",
    ],
}

REPLICAS = 10
FILES_PER_TABLE = 32


def _build_docs_replica(spark, sf_dir: str, out_dir: str) -> int:
    from pyspark.sql import functions as F

    from scala_etl_test_spark.operators.dedup import words

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    max_id = docs.agg(F.max("doc_id")).first()[0] + 1
    rep = spark.range(REPLICAS).withColumnRenamed("id", "_rep")
    # deterministic per-(replica, doc) word shuffle, all JVM-side: key each
    # word position with md5(replica|doc_id|pos|word), array_sort, strip
    keyed = F.transform(
        words("text"),
        lambda w, i: F.struct(
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("_rep").cast("string"),
                    F.col("doc_id").cast("string"),
                    i.cast("string"),
                    w,
                )
            ).alias("k"),
            w.alias("w"),
        ),
    )
    shuffled = F.array_join(F.transform(F.array_sort(keyed), lambda s: s["w"]), " ")
    replica = (
        docs.crossJoin(rep)
        .withColumn("doc_id", F.col("doc_id") + F.col("_rep") * F.lit(max_id))
        .withColumn("text", shuffled)
        .drop("_rep")
    )
    replica.repartition(FILES_PER_TABLE).write.mode("overwrite").parquet(
        os.path.join(out_dir, "documents.parquet")
    )
    return spark.read.parquet(os.path.join(out_dir, "documents.parquet")).count()


def _replicate_shifted(spark, sf_dir, out_dir, table, offsets, transform=None) -> int:
    """Key-shifted 10× replica of ONE table — the shared replication
    discipline for every relational builder: each key column is offset by
    replica × (its per-domain offset), dtypes preserved, written as a
    FILES_PER_TABLE-file directory (the single-file layout trap). The
    optional ``transform(df)`` runs with ``_rep`` still in scope for
    per-replica value perturbations (e.g. the customer name tag)."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    dtypes = dict(df.dtypes)
    out = df.crossJoin(spark.range(REPLICAS).withColumnRenamed("id", "_rep"))
    for col, off in offsets.items():
        out = out.withColumn(
            col, (F.col(col) + F.col("_rep") * F.lit(off)).cast(dtypes[col])
        )
    if transform is not None:
        out = transform(out)
    dest = os.path.join(out_dir, f"{table}.parquet")
    out.drop("_rep").repartition(FILES_PER_TABLE).write.mode("overwrite").parquet(dest)
    return spark.read.parquet(dest).count()


def _build_docs3_replica(spark, sf_dir: str, out_dir: str) -> int:
    """Documents replica plus a key-shifted events replica:
    corpus_release_report composes the events KS-drift gate, so the
    governance family needs both tables to scale together."""
    from pyspark.sql import functions as F

    n = _build_docs_replica(spark, sf_dir, out_dir)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    offs = {c: ev.agg(F.max(c)).first()[0] + 1 for c in ("event_id", "user_id")}
    return n + _replicate_shifted(spark, sf_dir, out_dir, "events", offs)


def _build_ann_replica(spark, sf_dir: str, out_dir: str) -> int:
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    max_id = emb.agg(F.max("vec_id")).first()[0] + 1
    rep = spark.range(REPLICAS).withColumnRenamed("id", "_rep")
    # verbatim vector copies would give every vector 9 exact-duplicate
    # neighbors and collapse top-k structure; perturb each element with a
    # deterministic hash-derived offset (~±1% of typical magnitude) so
    # replicas are distinct but the space's cluster geometry survives
    noise = lambda x, i: x + (  # noqa: E731
        (
            F.xxhash64(F.col("_rep"), F.col("vec_id"), i).bitwiseAND(F.lit(1023))
            - F.lit(512)
        ).cast("double")
        / F.lit(51200.0)
    ).cast("float")
    replica = (
        emb.crossJoin(rep)
        .withColumn("embedding", F.transform("embedding", noise))
        .withColumn("vec_id", F.col("vec_id") + F.col("_rep") * F.lit(max_id))
        .drop("_rep")
    )
    dest = os.path.join(out_dir, "embeddings.parquet")
    replica.repartition(FILES_PER_TABLE).write.mode("overwrite").parquet(dest)
    return spark.read.parquet(dest).count()


def _build_rel_replica(spark, sf_dir: str, out_dir: str) -> int:
    from pyspark.sql import functions as F

    def top(table: str, col: str) -> int:
        return (
            spark.read.parquet(f"{sf_dir}/{table}.parquet").agg(F.max(col)).first()[0]
            + 1
        )

    # one offset per key DOMAIN so foreign keys stay consistent across
    # tables (events.user_id joins customer.c_custkey in training_set_pit)
    order_off = top("orders", "o_orderkey")
    cust_off = max(top("customer", "c_custkey"), top("events", "user_id"))
    supp_off = top("supplier", "s_suppkey")
    part_off = top("part", "p_partkey")
    event_off = top("events", "event_id")
    shifts = {
        "lineitem": {"l_orderkey": order_off, "l_partkey": part_off, "l_suppkey": supp_off},
        "orders": {"o_orderkey": order_off, "o_custkey": cust_off},
        "customer": {"c_custkey": cust_off},
        "supplier": {"s_suppkey": supp_off},
        "part": {"p_partkey": part_off},
        "events": {"event_id": event_off, "user_id": cust_off},
    }
    # verbatim name copies would make every customer a 10-way exact name
    # twin for entity_resolution's name comparator; PREPEND a replica tag
    # (the digit TAIL is the blocking suffix and must survive, same reason
    # the dirty twin's typo edits the word)
    def tag_customer_names(out):
        return out.withColumn(
            "c_name", F.concat(F.lit("r"), F.col("_rep"), F.lit("-"), F.col("c_name"))
        )

    total = 0
    for table, offs in shifts.items():
        total += _replicate_shifted(
            spark, sf_dir, out_dir, table, offs,
            transform=tag_customer_names if table == "customer" else None,
        )
    for dim in ("nation", "region"):  # fixed-cardinality dims: copy as-is
        spark.read.parquet(f"{sf_dir}/{dim}.parquet").write.mode("overwrite").parquet(
            os.path.join(out_dir, f"{dim}.parquet")
        )
    return total


def main() -> None:
    argv, family, args = sys.argv[1:], "docs", []
    i = 0
    while i < len(argv):
        if argv[i] == "--family":
            family, i = argv[i + 1], i + 2
        elif argv[i].startswith("--family="):
            family, i = argv[i].split("=", 1)[1], i + 1
        else:
            args.append(argv[i])
            i += 1
    if family not in FAMILIES:
        raise SystemExit(f"--family must be one of {sorted(FAMILIES)}")
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    out_dir = args[1] if len(args) > 1 else f"/tmp/spark_graft_stress10x_{family}"

    from scala_etl_test_spark.caching import release_persisted
    from scala_etl_test_spark.plans.queries import QUERIES
    from scala_etl_test_spark.session import build_session

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = build_session(master=f"local[{cpus}]", shuffle_partitions=int(cpus))
    spark.sparkContext.setLogLevel("ERROR")

    if os.path.isdir(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)
    builders = {
        "docs": _build_docs_replica,
        "docs2": _build_docs_replica,
        "docs3": _build_docs3_replica,
        "rel": _build_rel_replica,
        "rel2": _build_rel_replica,
        "ann": _build_ann_replica,
    }
    t0 = time.perf_counter()
    n_rows = builders[family](spark, sf_dir, out_dir)
    build_s = time.perf_counter() - t0

    def run(name: str, d: str) -> float:
        best = float("inf")
        for _ in range(2):
            start = time.perf_counter()
            QUERIES[name](spark, d).write.mode("overwrite").format("noop").save()
            best = min(best, time.perf_counter() - start)
            release_persisted()
            spark.catalog.clearCache()
        return best

    base, big, ratio = {}, {}, {}
    for name in FAMILIES[family]:
        run(name, sf_dir)  # warm codegen on the small side first
        base[name] = round(run(name, sf_dir), 3)
        big[name] = round(run(name, out_dir), 3)
        ratio[name] = round(big[name] / base[name], 2) if base[name] else None
    print(
        json.dumps(
            {
                "metric": "stress10x_wall_ratio",
                "family": family,
                "replicas": REPLICAS,
                "rows_10x": n_rows,
                "build_s": round(build_s, 1),
                "base_s": base,
                "big_s": big,
                "ratio_10x": ratio,
            }
        )
    )


if __name__ == "__main__":
    main()
