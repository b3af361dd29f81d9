from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from scala_etl_test_spark.operators import similarity as S


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    from scala_etl_test_spark.sources.parquet_source import read_table

    return read_table(spark, sf_dir, "embeddings")


@pytest.fixture(scope="module")
def query_vec(emb):
    return [float(v) for v in emb.filter(F.col("vec_id") == 0).first()["embedding"]]


def test_brute_force_topk_self_first(emb, query_vec):
    rows = S.cosine_topk(emb, query_vec, k=5).collect()
    assert rows[0]["vec_id"] == 0 and rows[0]["cosine"] == 1.0
    sims = [r["cosine"] for r in rows]
    assert sims == sorted(sims, reverse=True)


def test_ivf_recall_vs_brute_force(emb, query_vec):
    exact = {r["vec_id"] for r in S.cosine_topk(emb, query_vec, k=10).collect()}
    centroids = S.stride_centroids(emb, 16)
    assigned = S.ivf_assign(emb, centroids)
    # probing all clusters == brute force (sanity: the index is lossless)
    full = {r["vec_id"] for r in S.ivf_topk(assigned, centroids, query_vec, k=10, nprobe=16).collect()}
    assert full == exact
    # probing few clusters trades recall; must still return k rows
    probe = S.ivf_topk(assigned, centroids, query_vec, k=10, nprobe=4).collect()
    assert len(probe) == 10


def test_kmeans_centroids_plug_into_ivf(emb, query_vec):
    """Trained centroids must drop into the IVF path unchanged: full probe is
    lossless (== brute force), partial probe returns k rows, every vector is
    assigned exactly once. (No recall-vs-stride claim: on near-uniform
    synthetic vectors partition recall is data-noise; trained cells pay off
    on naturally clustered embeddings.)"""
    exact = {r["vec_id"] for r in S.cosine_topk(emb, query_vec, k=10).collect()}
    centroids = S.kmeans_centroids(emb, 16)
    assert centroids.count() == 16
    assigned = S.ivf_assign(emb, centroids)
    assert assigned.count() == emb.count()
    full = {
        r["vec_id"]
        for r in S.ivf_topk(assigned, centroids, query_vec, k=10, nprobe=16).collect()
    }
    assert full == exact
    assert len(S.ivf_topk(assigned, centroids, query_vec, k=10, nprobe=4).collect()) == 10


def _ivf_assign_wide_reference(df, centroids, vec_col="embedding", id_col="vec_id"):
    """The pre-round-7 n·k formulation (broadcast cross join + max_by
    groupBy), kept here verbatim as the semantic pin for the narrow
    row-local argmax that replaced it."""
    from scala_etl_test_spark.functions.vectors import cosine_similarity

    scored = df.join(F.broadcast(centroids)).withColumn(
        "_sim", cosine_similarity(vec_col, "centroid_vec")
    )
    carried = [F.any_value(F.col(c)).alias(c) for c in df.columns if c != id_col]
    return scored.groupBy(id_col).agg(
        *carried,
        F.expr("max_by(centroid_id, struct(_sim, -centroid_id))").alias("cluster_id"),
    )


def test_ivf_assign_narrow_matches_wide_reference(spark):
    """Row-local argmax == the old n·k groupBy max_by on every edge:
    exact-tie centroids (smaller id wins), a zero-norm vector (all cosines
    NULL -> smallest centroid id), and a zero-norm centroid (NULL for that
    centroid only)."""
    rows = [
        (0, [1.0, 0.0], 7),
        (1, [0.0, 1.0], 7),
        (2, [0.0, 0.0], 8),      # zero-norm vector: every cosine NULL
        (3, [1.0, 1.0], 8),      # exactly between two unit centroids
        (4, [-1.0, -1.0], 9),
        (5, [2.0, 0.0], 9),      # scaled copy of centroid 0
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.0, 0.0])],  # centroid 2 zero-norm
        "centroid_id long, centroid_vec array<double>",
    )
    got = sorted(
        S.ivf_assign(df, cents).collect(), key=lambda r: r["vec_id"]
    )
    want = sorted(
        _ivf_assign_wide_reference(df, cents).collect(), key=lambda r: r["vec_id"]
    )
    assert [r.asDict() for r in got] == [r.asDict() for r in want]
    by_id = {r["vec_id"]: r["cluster_id"] for r in got}
    assert by_id[3] == 0  # exact tie between centroids 0 and 1 -> smaller id
    assert by_id[2] == 0  # all-NULL cosines -> smallest centroid id
    # output column order is part of the contract (oracle compare + callers)
    assert S.ivf_assign(df, cents).columns == ["vec_id", "embedding", "label", "cluster_id"]


def test_ivf_assign_randomized_cross_check(spark):
    """Seeded-random corpora (duplicated vectors, scaled copies, zero
    vectors, quantized coordinates that force exact cosine ties): the
    narrow argmax must match BOTH the old wide formulation and an
    independent pure-Python argmax (same sequential IEEE fold, max sim
    then min centroid id, all-NULL -> min id)."""
    import math
    import random

    rng = random.Random(1307)
    for trial in range(4):
        dim = rng.choice([2, 3, 5])
        n = rng.randint(5, 40)
        k = rng.randint(2, 6)
        # quantized coords => duplicated/parallel vectors and exact ties
        def vec():
            return [float(rng.randint(-2, 2)) for _ in range(dim)]

        rows = [(i, vec()) for i in range(n)]
        cents = [(j, vec()) for j in range(k)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        cdf = spark.createDataFrame(cents, "centroid_id long, centroid_vec array<double>")

        def py_norm(v):
            acc = 0.0
            for x in v:
                acc += x * x
            return math.sqrt(acc)

        def py_best(v):
            nv = py_norm(v)
            best = None  # (sim or None, -cid) max-order
            for cid, cv in cents:
                nc = py_norm(cv)
                sim = None
                if nv != 0.0 and nc != 0.0:
                    acc = 0.0
                    for x, y in zip(v, cv):
                        acc += x * y
                    sim = acc / (nv * nc)
                cand = (sim is not None, sim if sim is not None else 0.0, -cid)
                if best is None or cand > best[0]:
                    best = (cand, cid)
            return best[1]

        want_py = {i: py_best(v) for i, v in rows}
        got = {r["vec_id"]: r["cluster_id"] for r in S.ivf_assign(df, cdf).collect()}
        assert got == want_py, (trial, dim, n, k)
        wide = {
            r["vec_id"]: r["cluster_id"]
            for r in _ivf_assign_wide_reference(df, cdf).collect()
        }
        assert got == wide, (trial, dim, n, k)


def test_ivf_assign_plan_is_narrow(spark):
    """On an input that already uses the cluster, the assignment adds NO
    exchange over the vector table (the only exchanges are the caller's
    own pre-spread and the 1-row centroid-fold broadcast side); on a
    narrow input the guarded pre-spread (``partitioning.spread``) injects
    exactly one id repartition so the k-cosine projection can't serialize
    into one task."""
    target = spark.sparkContext.defaultParallelism
    rows = [(i, [float(i), 1.0], 0) for i in range(8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "centroid_id long, centroid_vec array<double>"
    )
    wide_in = df.repartition(target * 2, "vec_id")
    plan = S.ivf_assign(wide_in, cents)._jdf.queryExecution().executedPlan().toString()
    main_branch = plan.split("BroadcastExchange")[0]
    # exactly the caller's own repartition — the assignment adds none
    assert main_branch.count("Exchange") == 1, main_branch


def test_ivf_assign_spreads_narrow_parquet_scan(spark, sf_dir):
    """A small-file parquet corpus lands in fewer scan partitions than
    cores; the guarded pre-spread (``partitioning.spread``) must inject
    exactly one id repartition so the n·k cosine projection cannot
    serialize into one task (the 10× ann stress measured 2.8M single-task
    cosines without it)."""
    from scala_etl_test_spark.sources.parquet_source import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    cents = S.stride_centroids(emb, 4)
    plan = S.ivf_assign(emb, cents)._jdf.queryExecution().executedPlan().toString()
    main_branch = plan.split("BroadcastExchange")[0]
    assert main_branch.count("Exchange") == 1, main_branch
    assert "hashpartitioning(vec_id" in main_branch


def test_lsh_bucket_contains_query_and_orders(emb, query_vec):
    rows = S.lsh_bucket_topk(emb, query_vec, k=10, nbits=4).collect()
    # vec 0 shares its own bucket -> always recalled
    assert rows[0]["vec_id"] == 0
    sims = [r["cosine"] for r in rows]
    assert sims == sorted(sims, reverse=True)


def test_near_dup_blocking_only_same_label(emb):
    out = S.embedding_near_dup_pairs(emb, threshold=0.3)
    labels = emb.select("vec_id", "label")
    joined = (
        out.join(labels.withColumnRenamed("vec_id", "id_a").withColumnRenamed("label", "la"), on="id_a")
        .join(labels.withColumnRenamed("vec_id", "id_b").withColumnRenamed("label", "lb"), on="id_b")
    )
    assert joined.filter(F.col("la") != F.col("lb")).count() == 0


def test_centroid_sums_exact_and_reconstruction(spark):
    """Fixed-point centroid accumulation must be exact regardless of
    partitioning, and the reconstructed mean must match a direct average
    within quantization error (0.5/scale per component per vector)."""
    from scala_etl_test_spark.operators.similarity import centroid_sums, centroids_from_sums

    rows = [
        (1, "a", [0.5, -0.25, 0.125]),
        (2, "a", [0.5, 0.75, 0.125]),
        (3, "b", [1.0, 2.0, -3.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, label string, embedding array<double>")
    sums = centroid_sums(df, "embedding", "label")
    got = {(r["label"], r["dim"]): (r["sum_q"], r["n_vecs"]) for r in sums.collect()}
    assert got[("a", 0)] == (1_000_000, 2)  # 0.5 + 0.5
    assert got[("a", 1)] == (500_000, 2)  # -0.25 + 0.75
    assert got[("b", 2)] == (-3_000_000, 1)
    # repartitioned input yields the identical accumulator (associativity)
    got_rep = {
        (r["label"], r["dim"]): (r["sum_q"], r["n_vecs"])
        for r in centroid_sums(df.repartition(7), "embedding", "label").collect()
    }
    assert got_rep == got
    cents = {r["label"]: r["centroid"] for r in centroids_from_sums(sums, "label").collect()}
    assert cents["a"] == [0.5, 0.25, 0.125]
    assert cents["b"] == [1.0, 2.0, -3.0]


def test_hard_negatives_geometry(spark):
    # two cells; cell 0 holds labels {0,1} with a clear nearest cross-label
    # pair, cell 1 is mono-label and must yield no rows for its anchors.
    rows = [
        (0, [1.0, 0.0], 0, 0),
        (1, [0.9, 0.1], 1, 0),   # closest cross-label vector to 0
        (2, [0.0, 1.0], 1, 0),
        (3, [-1.0, 0.0], 2, 1),
        (4, [-0.9, -0.1], 2, 1),  # same label as 3 -> no negative in cell
    ]
    assigned = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int, cluster_id int"
    )
    got = {r["anchor_id"]: r for r in S.hard_negatives(assigned).collect()}
    assert set(got) == {0, 1, 2}  # cell-1 anchors have no cross-label negative
    assert got[0]["neg_id"] == 1
    assert got[1]["neg_id"] == 0
    assert got[2]["neg_id"] == 0  # vec 1 shares label 1 with anchor 2
    assert got[0]["cosine"] == pytest.approx(0.9 / (0.9**2 + 0.1**2) ** 0.5, abs=1e-6)


def test_hard_negatives_tie_breaks_to_smaller_id(spark):
    # ids 2 and 3 are duplicates, both equally similar to anchor 1
    rows = [
        (1, [1.0, 0.0], 0, 0),
        (2, [1.0, 0.1], 1, 0),
        (3, [1.0, 0.1], 1, 0),
    ]
    assigned = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int, cluster_id int"
    )
    got = {r["anchor_id"]: r["neg_id"] for r in S.hard_negatives(assigned).collect()}
    assert got[1] == 2


def test_multiprobe_extends_single_bucket(emb, query_vec):
    single = {r["vec_id"] for r in S.lsh_bucket_topk(emb, query_vec, k=10).collect()}
    zero_probe = {r["vec_id"] for r in S.multiprobe_lsh_topk(emb, query_vec, k=10, probes=0).collect()}
    assert zero_probe == single  # probes=0 degenerates to the single bucket
    multi = S.multiprobe_lsh_topk(emb, query_vec, k=10, probes=8).collect()
    # candidate set is a superset, so the scored top-k can only improve:
    # at equal k the worst returned cosine is >= the single-bucket worst
    assert len(multi) >= len(single)
    exact = {r["vec_id"] for r in S.cosine_topk(emb, query_vec, k=10).collect()}
    recall_single = len(single & exact)
    recall_multi = len({r["vec_id"] for r in multi} & exact)
    assert recall_multi >= recall_single


def test_multiprobe_rejects_bad_probe_count(emb, query_vec):
    with pytest.raises(ValueError):
        S.multiprobe_lsh_topk(emb, query_vec, probes=9, nbits=8)


def test_embedding_outliers_flags_misfit(spark):
    rows = [
        (1, [1.0, 0.0], 0),
        (2, [0.9, 0.1], 0),
        (3, [1.0, 0.1], 0),
        (4, [-1.0, -0.2], 0),  # opposite direction, same label -> outlier
        (5, [0.0, 1.0], 1),
        (6, [0.1, 0.9], 1),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    got = {r["vec_id"]: r for r in S.embedding_outliers(df, threshold=0.5).collect()}
    assert set(got) == {1, 2, 3, 4, 5, 6}
    assert got[4]["is_outlier"] and got[4]["centroid_cosine"] < 0
    for vid in (1, 2, 3, 5, 6):
        assert not got[vid]["is_outlier"], vid


def test_embedding_outliers_partition_invariant(spark):
    rows = [(i, [float(i % 7), float((i * 3) % 5), 1.0], i % 3) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    a = {(r["vec_id"], r["centroid_cosine"]) for r in S.embedding_outliers(df).collect()}
    b = {(r["vec_id"], r["centroid_cosine"]) for r in S.embedding_outliers(df.repartition(11)).collect()}
    assert a == b  # fixed-point centroids make the score partition-invariant


def test_lloyd_recovers_two_clusters(spark):
    # two tight direction bundles; k=2 stride seeds land one in each after
    # training, and every vector's nearest trained centroid is its bundle
    rows = [(i, [1.0, 0.05 * (i % 3)], 0) for i in range(0, 6)] + [
        (i, [0.05 * (i % 3), 1.0], 0) for i in range(6, 12)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    cents = S.lloyd_spherical(df, 2, num_iters=3)
    assigned = S.ivf_assign(df, cents)
    groups = {
        r["cluster_id"]: r["n"]
        for r in assigned.groupBy("cluster_id").agg(F.count("*").alias("n")).collect()
    }
    assert sorted(groups.values()) == [6, 6]
    # bundle membership must match assignment exactly
    got = {r["vec_id"]: r["cluster_id"] for r in assigned.collect()}
    assert len({got[i] for i in range(6)}) == 1
    assert len({got[i] for i in range(6, 12)}) == 1
    assert got[0] != got[6]


def test_lloyd_partition_invariant(spark):
    rows = [(i, [float((i * 7) % 11), float((i * 3) % 5), float(i % 4)], 0) for i in range(80)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    a = {(r["centroid_id"], tuple(r["centroid_vec"])) for r in S.lloyd_spherical(df, 4, 2).collect()}
    b = {
        (r["centroid_id"], tuple(r["centroid_vec"]))
        for r in S.lloyd_spherical(df.repartition(13), 4, 2).collect()
    }
    assert a == b  # fixed-point sums: training is partition-invariant


def test_lloyd_empty_cluster_keeps_seed(spark):
    # all vectors share one direction; with k=2 the losing seed never wins a
    # vector and must keep its (distinct) seed position
    rows = [(0, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [1.0, 0.001]), (3, [1.0, 0.002])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = {r["centroid_id"]: r["centroid_vec"] for r in S.lloyd_spherical(df, 2, 2).collect()}
    assert len(cents) == 2
    assert cents[1] == [1.0, 0.0]  # seed 1 won nothing (ties go to centroid 0)


def test_greedy_sweep_chain_keeps_unblocked_tail(spark):
    # chain: cos(1,2) >= t, cos(2,3) >= t, cos(1,3) < t.  Greedy keeps
    # {1, 3} (2's removal un-blocks 3); the relational smaller-id rule
    # keeps only {1}.  One centroid so all vectors share a cluster.
    rows = [
        (1, [1.0, 0.0]),
        (2, [0.9, 0.4358898943540674]),   # cos(1,2) ~ 0.9
        (3, [0.62, 0.7846018098373213]),  # cos(2,3) ~ 0.9, cos(1,3) ~ 0.62
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = S.stride_centroids(df, 1)
    greedy = {
        r["vec_id"]: r["is_semantic_dup"]
        for r in S.semantic_dedup_greedy(df, cents, threshold=0.85).collect()
    }
    assert greedy == {1: False, 2: True, 3: False}
    relational = {
        r["vec_id"]: r["is_semantic_dup"]
        for r in S.semantic_dedup(df, cents, threshold=0.85).collect()
    }
    assert relational == {1: False, 2: True, 3: True}  # over-deletes the chain


def test_greedy_sweep_matches_relational_when_transitive(spark):
    # two tight bundles: within each, every pair clears the threshold, so
    # greedy and relational agree (keep the smallest id per bundle)
    rows = [(i, [1.0 + 0.001 * i, 0.0]) for i in range(3)] + [
        (10 + i, [0.0, 2.0 + 0.001 * i]) for i in range(3)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = S.stride_centroids(df, 1)
    g = {r["vec_id"]: r["is_semantic_dup"] for r in S.semantic_dedup_greedy(df, cents, threshold=0.99).collect()}
    r_ = {r["vec_id"]: r["is_semantic_dup"] for r in S.semantic_dedup(df, cents, threshold=0.99).collect()}
    assert g == r_
    assert [k for k, v in sorted(g.items()) if not v] == [0, 10]


def test_greedy_sweep_zero_vector_kept_and_inert(spark):
    # zero-norm vectors have NULL/undefined cosine: never duplicates, and
    # never block anything after being kept
    rows = [(1, [0.0, 0.0]), (2, [1.0, 0.0]), (3, [1.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = S.stride_centroids(df, 1)
    g = {r["vec_id"]: r["is_semantic_dup"] for r in S.semantic_dedup_greedy(df, cents, threshold=0.9).collect()}
    assert g == {1: False, 2: False, 3: True}


def test_ivf_assign_survives_reserved_name_collisions(spark):
    """ADVICE r7: caller columns literally named ``_nv`` / ``_cents`` must
    pass through UNCHANGED — the internal norm/centroid-array names are
    uniquified per call, so they can neither replace a caller column nor
    make the centroid crossJoin ambiguous."""
    rows = [(0, [1.0, 0.0], 11.0, "keep0"), (1, [0.0, 1.0], 22.0, "keep1")]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, _nv double, _cents string"
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "centroid_id long, centroid_vec array<double>",
    )
    out = S.ivf_assign(df, cents)
    assert out.columns == ["vec_id", "embedding", "_nv", "_cents", "cluster_id"]
    got = {r["vec_id"]: r for r in out.collect()}
    assert got[0]["_nv"] == 11.0 and got[0]["_cents"] == "keep0"
    assert got[1]["_nv"] == 22.0 and got[1]["_cents"] == "keep1"
    assert got[0]["cluster_id"] == 0 and got[1]["cluster_id"] == 1


def test_ivf_assignment_prunes_as_write_time_partition_key(spark, sf_dir, tmp_path):
    """The 100 TB story the IVF docstrings claim, pinned: write the
    assigned corpus partitioned by ``cluster_id`` and a single-cell probe
    becomes storage-aligned PARTITION PRUNING — the scan's
    PartitionFilters carry the cell predicate, so 1/k of the data is
    listed before any row filtering (at scale: nprobe cells of an IVF
    search read only their directories)."""
    from scala_etl_test_spark.sources.parquet_source import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    cents = S.stride_centroids(emb, 4)
    assigned = S.ivf_assign(emb, cents)
    d = str(tmp_path / "ivf_parts")
    assigned.write.partitionBy("cluster_id").parquet(d)

    probe = spark.read.parquet(d).filter(F.col("cluster_id") == 2)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m is not None, plan
    assert "cluster_id" in m.group(1) and "= 2" in m.group(1), plan
    # the pruned read returns exactly the cell's rows
    want = assigned.filter(F.col("cluster_id") == 2).count()
    assert probe.count() == want > 0


class TestForgetFromIvf:
    """Erasure on the PERSISTED IVF layout (operators/similarity.py:
    forget_from_ivf): only the cells containing a doomed id are rewritten;
    everything else is byte-identical on disk; a probe over the erased
    index can never return a forgotten id."""

    @staticmethod
    def _cell_files(root):
        """{cluster dir → {file → (size, mtime_ns)}} for every data file."""
        import os

        out = {}
        for d in os.listdir(root):
            if not d.startswith("cluster_id="):
                continue
            full = os.path.join(root, d)
            out[d] = {
                f: (os.path.getsize(os.path.join(full, f)), os.stat(os.path.join(full, f)).st_mtime_ns)
                for f in os.listdir(full)
                if not f.startswith((".", "_"))
            }
        return out

    @pytest.fixture()
    def corpus(self, spark, emb, tmp_path):
        cents = S.stride_centroids(emb, 4)
        d = str(tmp_path / "ivf_corpus")
        S.ivf_assign(emb, cents).write.partitionBy("cluster_id").parquet(d)
        return d

    def test_only_touched_cells_rewritten_and_probe_clean(self, spark, emb, corpus, query_vec):
        before = self._cell_files(corpus)
        assert len(before) == 4
        live = spark.read.parquet(corpus)
        # doom 3 ids confined to ONE cell, so 3 cells must stay untouched
        cell = live.filter(F.col("cluster_id") == 2)
        doomed_ids = [r["vec_id"] for r in cell.select("vec_id").orderBy("vec_id").limit(3).collect()]
        doomed = spark.createDataFrame([(i,) for i in doomed_ids], "vec_id long")

        stats = {r["cluster_id"]: r for r in S.forget_from_ivf(spark, corpus, doomed).collect()}
        assert set(stats) == {2}
        assert stats[2]["rows_erased"] == 3

        after = self._cell_files(corpus)
        for d in before:
            if d == "cluster_id=2":
                assert before[d] != after[d], "touched cell must be rewritten"
            else:
                assert before[d] == after[d], f"untouched cell {d} changed on disk"

        erased = spark.read.parquet(corpus)
        assert erased.filter(F.col("vec_id").isin(doomed_ids)).count() == 0
        assert erased.count() == emb.count() - 3
        assert stats[2]["rows_after"] == erased.filter(F.col("cluster_id") == 2).count()
        # probe over the erased index: a forgotten id never comes back, and
        # the probe is still partition pruning (PartitionFilters carry the cell)
        cents = S.stride_centroids(emb, 4)
        hits = S.ivf_topk(erased, cents, query_vec, k=50, nprobe=4)
        assert not {r["vec_id"] for r in hits.collect()} & set(doomed_ids)
        probe = erased.filter(F.col("cluster_id") == 2)
        plan = probe._jdf.queryExecution().executedPlan().toString()
        import re

        m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
        assert m is not None and "cluster_id" in m.group(1), plan

    def test_fully_doomed_cell_directory_removed(self, spark, corpus):
        import os

        live = spark.read.parquet(corpus)
        cell_ids = [r["vec_id"] for r in live.filter(F.col("cluster_id") == 3).select("vec_id").collect()]
        assert cell_ids
        doomed = spark.createDataFrame([(i,) for i in cell_ids], "vec_id long")
        stats = {r["cluster_id"]: r for r in S.forget_from_ivf(spark, corpus, doomed).collect()}
        assert stats[3]["rows_after"] == 0
        # dynamic partition overwrite would have KEPT this dir (nothing staged
        # for it); the explicit swap deletes it
        assert not os.path.exists(os.path.join(corpus, "cluster_id=3"))
        assert not os.path.exists(os.path.join(corpus, "_erasure_staging"))
        assert spark.read.parquet(corpus).filter(F.col("cluster_id") == 3).count() == 0

    def test_no_op_request_touches_nothing(self, spark, corpus):
        before = self._cell_files(corpus)
        doomed = spark.createDataFrame([(10_000_000,)], "vec_id long")
        stats = S.forget_from_ivf(spark, corpus, doomed)
        assert stats.count() == 0
        assert self._cell_files(corpus) == before

    def test_content_closure_reaches_the_vector_side(self, spark, emb, corpus):
        """The cross-modal contract q_forget_from_ivf exercises: closure
        computed on document near-dup PAIRS, applied to vec ids — a near-dup
        of an opted-out doc is erased, an unrelated doc survives."""
        from scala_etl_test_spark.operators.cluster import forget_closure_ids

        optout = spark.createDataFrame([(1,)], "doc_id long")
        pairs = spark.createDataFrame([(1, 7), (7, 9), (3, 4)], "id_a long, id_b long")
        doomed = forget_closure_ids(optout, pairs, "doc_id")
        assert {r["doc_id"] for r in doomed.collect()} == {1, 7, 9}
        S.forget_from_ivf(spark, corpus, doomed, id_col="vec_id")
        left = {r["vec_id"] for r in spark.read.parquet(corpus).select("vec_id").collect()}
        assert not left & {1, 7, 9}
        assert {3, 4} <= left  # minimality: the unrelated component survives


def test_forget_from_ivf_randomized_erasure_audit(spark, emb, tmp_path):
    """Seeded-random audit of the cell-local rewrite: for arbitrary doomed
    sets (empty → spanning several cells → everything-in-a-cell), the
    erased corpus equals exactly {corpus} − {doomed}, per-cell stats match
    ground truth, and cells with no doomed member are never rewritten."""
    import os
    import random

    cents = S.stride_centroids(emb, 4)
    all_rows = {
        r["vec_id"]: r["cluster_id"]
        for r in S.ivf_assign(emb, cents).select("vec_id", "cluster_id").collect()
    }
    rng = random.Random(99)
    ids = sorted(all_rows)
    for case in range(3):
        d = str(tmp_path / f"audit_{case}")
        S.ivf_assign(emb, cents).write.partitionBy("cluster_id").parquet(d)
        doomed_ids = sorted(rng.sample(ids, rng.choice([0, 7, 40])))
        before = {
            c: sorted(os.listdir(os.path.join(d, c)))
            for c in os.listdir(d)
            if c.startswith("cluster_id=")
        }
        doomed = spark.createDataFrame([(i,) for i in doomed_ids] or [(None,)], "vec_id long")
        stats = {r["cluster_id"]: r for r in S.forget_from_ivf(spark, d, doomed).collect()}

        want_touched = {all_rows[i] for i in doomed_ids}
        assert set(stats) == want_touched
        from collections import Counter

        per_cell_doomed = Counter(all_rows[i] for i in doomed_ids)
        for c, s in stats.items():
            assert s["rows_erased"] == per_cell_doomed[c]
        survivors = {
            r["vec_id"] for r in spark.read.parquet(d).select("vec_id").collect()
        }
        assert survivors == set(ids) - set(doomed_ids)
        after = {
            c: sorted(os.listdir(os.path.join(d, c)))
            for c in os.listdir(d)
            if c.startswith("cluster_id=")
        }
        for c in before:
            cell = int(c.split("=", 1)[1])
            if cell not in want_touched:
                assert before[c] == after[c], f"case {case}: untouched {c} rewritten"


def test_forget_from_ivf_full_corpus_erasure_and_rerun_converge(spark, emb, tmp_path):
    """r9 review finding #2: erasing EVERY row deletes every cell directory;
    the evidence frame must still come back (rows_after=0), and re-running
    the same request on the emptied corpus must be a clean no-op — the
    documented convergence contract, not a schema-inference crash."""
    cents = S.stride_centroids(emb, 4)
    d = str(tmp_path / "fullerase")
    S.ivf_assign(emb, cents).write.partitionBy("cluster_id").parquet(d)
    everyone = spark.createDataFrame(
        [(r["vec_id"],) for r in emb.select("vec_id").collect()], "vec_id long"
    )
    stats = {r["cluster_id"]: r for r in S.forget_from_ivf(spark, d, everyone).collect()}
    assert stats and all(s["rows_after"] == 0 for s in stats.values())
    import os

    assert not [c for c in os.listdir(d) if c.startswith("cluster_id=")]
    # convergence: the second run reports an empty stats frame, no crash
    again = S.forget_from_ivf(spark, d, everyone)
    assert again.count() == 0


class TestEmbeddingCovariance:
    def _emb(self, spark, seed=7, n=60, d=5):
        import random

        rng = random.Random(seed)
        rows = [(i, [rng.uniform(-1, 1) for _ in range(d)]) for i in range(n)]
        return rows, spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def test_matches_numpy_within_quantization(self, spark):
        import numpy as np

        from scala_etl_test_spark.operators.similarity import embedding_covariance

        rows, df = self._emb(spark)
        got = {(r["dim_i"], r["dim_j"]): r["cov"] for r in embedding_covariance(df).collect()}
        m = np.array([v for _, v in rows])
        ref = np.cov(m, rowvar=False, bias=True)  # population covariance
        assert len(got) == 5 * 6 // 2
        for (i, j), c in got.items():
            # quantization error bound: ~d * 0.5/scale per moment, far below 1e-4
            assert abs(c - ref[i][j]) < 1e-4, (i, j)

    def test_partition_invariant_bit_identical(self, spark):
        """The fixed-point contract: the SAME doubles out under any input
        partitioning (a float-summed covariance cannot promise this)."""
        from scala_etl_test_spark.operators.similarity import embedding_covariance

        _, df = self._emb(spark, seed=11)
        a = {(r["dim_i"], r["dim_j"]): r["cov"] for r in embedding_covariance(df).collect()}
        b = {
            (r["dim_i"], r["dim_j"]): r["cov"]
            for r in embedding_covariance(df.repartition(7)).collect()
        }
        assert a == b

    def test_pca_components_orthonormal_and_ordered(self, spark):
        import numpy as np

        from scala_etl_test_spark.operators.similarity import (
            embedding_covariance,
            pca_components_from_cov,
        )

        rows, df = self._emb(spark, seed=13, n=80, d=6)
        comps = pca_components_from_cov(embedding_covariance(df), d=6, k=4)
        c = np.array(comps)
        assert c.shape == (4, 6)
        assert np.allclose(c @ c.T, np.eye(4), atol=1e-9)  # orthonormal
        m = np.array([v for _, v in rows])
        cov = np.cov(m, rowvar=False, bias=True)
        variances = [float(v @ cov @ v) for v in c]
        assert variances == sorted(variances, reverse=True)  # eigenvalue DESC
        # sign pin: the largest-|x| entry of each component is positive
        for v in c:
            assert v[int(np.argmax(np.abs(v)))] > 0

    def test_projection_matches_numpy_and_stays_jvm_side(self, spark):
        import numpy as np

        from scala_etl_test_spark.operators.similarity import project_to_components

        rows, df = self._emb(spark, seed=17, n=10, d=4)
        comps = [[1.0, 0.0, 0.0, 0.0], [0.5, -0.5, 0.25, 0.0]]
        out = project_to_components(df, comps)
        got = {r["vec_id"]: r["projected"] for r in out.collect()}
        for vid, vec in rows:
            want = [float(np.dot(vec, c)) for c in comps]
            assert np.allclose(got[vid], want, atol=1e-12)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan and "Exchange" not in plan

    def test_full_rank_rotation_preserves_cosine_topk(self, spark):
        """The whiten-then-index composition end to end: covariance →
        sign-pinned components → literal-matrix projection. With k = d the
        projection is an orthonormal ROTATION, so cosine top-k over the
        projected corpus must return the IDENTICAL neighbor ids as over
        the raw corpus — the exact invariant that makes PCA preprocessing
        safe for a cosine index."""
        from scala_etl_test_spark.operators.similarity import (
            cosine_topk,
            embedding_covariance,
            pca_components_from_cov,
            project_to_components,
        )

        rows, df = self._emb(spark, seed=23, n=120, d=6)
        comps = pca_components_from_cov(embedding_covariance(df), d=6, k=6)
        projected = project_to_components(df, comps).select(
            "vec_id", F.col("projected").alias("embedding")
        )
        query = rows[0][1]
        q_proj = [sum(a * b for a, b in zip(query, c)) for c in comps]
        raw = [r["vec_id"] for r in cosine_topk(df, query, k=10, round_digits=None).collect()]
        rot = [
            r["vec_id"]
            for r in cosine_topk(projected, q_proj, k=10, round_digits=None).collect()
        ]
        assert raw == rot

    def test_truncated_projection_orders_variance(self, spark):
        """k < d keeps the HIGHEST-variance directions: the projected
        coordinates' per-dimension variance must be non-increasing."""
        import numpy as np

        from scala_etl_test_spark.operators.similarity import (
            embedding_covariance,
            pca_components_from_cov,
            project_to_components,
        )

        rows, df = self._emb(spark, seed=29, n=100, d=6)
        comps = pca_components_from_cov(embedding_covariance(df), d=6, k=3)
        got = np.array(
            [r["projected"] for r in project_to_components(df, comps).collect()]
        )
        variances = got.var(axis=0)
        assert variances[0] >= variances[1] >= variances[2]


class TestCovarianceContract:
    """Input-contract edges of the exact-covariance family (ADVICE r9 +
    VERDICT r9 item 3): NULL/EMPTY vectors are tolerated (filtered once in
    quantized_base, consistently with the n denominator); MIXED widths are
    corruption and fail loud; wide d does not materialize a d²/2 struct
    array per row (two-level explode in second_moments)."""

    def test_empty_and_null_vectors_tolerated(self, spark):
        import numpy as np

        from scala_etl_test_spark.operators.similarity import embedding_covariance

        good = [[1.0, 2.0, 3.0], [4.0, 0.5, -1.0], [0.25, 2.5, 9.0], [-3.0, 1.0, 2.0]]
        rows = [(0, good[0]), (1, []), (2, good[1]), (3, None), (4, good[2]), (5, [])]
        rows.append((6, good[3]))
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        got = {(r["dim_i"], r["dim_j"]): r["cov"] for r in embedding_covariance(df).collect()}
        ref = np.cov(np.array(good), rowvar=False, bias=True)
        assert len(got) == 3 * 4 // 2
        for (i, j), c in got.items():
            assert abs(c - ref[i][j]) < 1e-4, (i, j)

    def test_all_rows_empty_or_null_yields_empty_result(self, spark):
        from scala_etl_test_spark.operators.similarity import embedding_covariance

        df = spark.createDataFrame(
            [(0, []), (1, None)], "vec_id long, embedding array<double>"
        )
        assert embedding_covariance(df).count() == 0

    def test_mixed_width_fails_loud(self, spark):
        import pytest

        from scala_etl_test_spark.operators.similarity import embedding_covariance

        df = spark.createDataFrame(
            [(0, [1.0, 2.0]), (1, [1.0, 2.0, 3.0]), (2, [4.0, 5.0])],
            "vec_id long, embedding array<double>",
        )
        with pytest.raises(Exception, match="mixed embedding widths"):
            embedding_covariance(df).collect()

    def test_wide_d_smoke_matches_numpy(self, spark):
        """d=256: 32,896 unordered pairs per row through the two-level
        explode (peak per-row array 256, not 32,896). Correctness spot-
        checked against numpy on the diagonal + a stride of off-diagonals."""
        import random

        import numpy as np

        from scala_etl_test_spark.operators.similarity import embedding_covariance

        rng = random.Random(41)
        n, d = 20, 256
        vecs = [[rng.uniform(-1, 1) for _ in range(d)] for _ in range(n)]
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(vecs)], "vec_id long, embedding array<double>"
        )
        got = {(r["dim_i"], r["dim_j"]): r["cov"] for r in embedding_covariance(df).collect()}
        assert len(got) == d * (d + 1) // 2
        ref = np.cov(np.array(vecs), rowvar=False, bias=True)
        for i in range(0, d, 37):
            for j in range(i, d, 53):
                assert abs(got[(i, j)] - ref[i][j]) < 1e-3, (i, j)


class TestErasureAuditTrail:
    """_ERASURE_AUDIT (VERDICT r9 item 6): forget_from_ivf persists its
    per-cell intent BEFORE any byte moves, so a crash mid-swap is
    diagnosable post-hoc from the artifact alone — erasure_audit_status
    distinguishes applied from pending cells."""

    @pytest.fixture()
    def corpus(self, spark, emb, tmp_path):
        cents = S.stride_centroids(emb, 4)
        d = str(tmp_path / "ivf_corpus")
        S.ivf_assign(emb, cents).write.partitionBy("cluster_id").parquet(d)
        return d

    def _doom_two_cells(self, spark, corpus):
        live = spark.read.parquet(corpus)
        ids = []
        for cell in (1, 3):
            ids += [
                r["vec_id"]
                for r in live.filter(F.col("cluster_id") == cell)
                .select("vec_id")
                .orderBy("vec_id")
                .limit(2)
                .collect()
            ]
        return spark.createDataFrame([(i,) for i in ids], "vec_id long")

    def test_audit_written_and_all_applied_after_success(self, spark, corpus):
        doomed = self._doom_two_cells(spark, corpus)
        S.forget_from_ivf(spark, corpus, doomed).collect()
        status = {r["cluster_id"]: r for r in S.erasure_audit_status(spark, corpus).collect()}
        assert set(status) == {1, 3}
        for c, r in status.items():
            assert r["status"] == "applied"
            assert r["rows_erased"] == 2
            assert r["rows_actual"] == r["rows_after_expected"] == r["rows_before"] - 2

    def test_crash_mid_swap_distinguishes_applied_from_pending(self, spark, corpus):
        doomed = self._doom_two_cells(spark, corpus)

        swapped = []

        def crash_after_first(cell):
            swapped.append(cell)
            if len(swapped) == 1:
                raise RuntimeError("simulated crash between cell swaps")

        with pytest.raises(RuntimeError, match="simulated crash"):
            S.forget_from_ivf(spark, corpus, doomed, on_cell_swapped=crash_after_first)

        status = {r["cluster_id"]: r["status"] for r in S.erasure_audit_status(spark, corpus).collect()}
        assert status[swapped[0]] == "applied"
        pending = ({1, 3} - {swapped[0]}).pop()
        assert status[pending] == "pending"

        # re-running the same request converges; the NEW audit (request=1)
        # covers only the pending cell, and everything ends applied
        S.forget_from_ivf(spark, corpus, doomed).collect()
        final = {r["cluster_id"]: r["status"] for r in S.erasure_audit_status(spark, corpus).collect()}
        assert final == {pending: "applied"}
        first = {
            r["cluster_id"]: r["status"]
            for r in S.erasure_audit_status(spark, corpus, request_id=0).collect()
        }
        assert first == {1: "applied", 3: "applied"}
        live_ids = {r["vec_id"] for r in spark.read.parquet(corpus).select("vec_id").collect()}
        assert live_ids.isdisjoint({r["vec_id"] for r in doomed.collect()})

    def test_fully_doomed_cell_reports_applied(self, spark, corpus):
        live = spark.read.parquet(corpus)
        everyone_in_2 = live.filter(F.col("cluster_id") == 2).select("vec_id")
        S.forget_from_ivf(spark, corpus, everyone_in_2).collect()
        status = {r["cluster_id"]: r for r in S.erasure_audit_status(spark, corpus).collect()}
        assert set(status) == {2}
        assert status[2]["status"] == "applied"
        assert status[2]["rows_after_expected"] == 0 == status[2]["rows_actual"]

    def test_no_audit_raises(self, spark, corpus):
        with pytest.raises(ValueError, match="no _ERASURE_AUDIT"):
            S.erasure_audit_status(spark, corpus)

    def test_fully_erased_corpus_reports_zero_live(self, spark, corpus):
        """Erasing EVERY cell leaves no data files at all — the one state
        where 'all live counts are zero' is the truth, not a guess."""
        live = spark.read.parquet(corpus)
        S.forget_from_ivf(spark, corpus, live.select("vec_id")).collect()
        status = {r["cluster_id"]: r for r in S.erasure_audit_status(spark, corpus).collect()}
        assert status and all(r["status"] == "applied" for r in status.values())
        assert all(r["rows_actual"] == 0 for r in status.values())

    def test_corrupt_corpus_raises_instead_of_misreporting(self, spark, corpus):
        """ADVICE r10: an unreadable corpus (corrupt footer here; same for
        permissions or transient FS errors) must PROPAGATE — the audit
        tool exists to diagnose crashes, so mapping infrastructure
        failures to 'all cells applied' misreports the one thing it is
        for. Only the fully-erased (path empty) state may read as zero."""
        import pathlib

        doomed = self._doom_two_cells(spark, corpus)
        S.forget_from_ivf(spark, corpus, doomed).collect()
        # corrupt a file inside an AUDITED cell — partition pruning keeps
        # unaudited cells out of the status scan, so only these are read
        part = next(pathlib.Path(corpus).glob("cluster_id=1/part-*.parquet"))
        part.write_bytes(b"not a parquet file")
        with pytest.raises(Exception, match="(?i)parquet|footer|magic"):
            S.erasure_audit_status(spark, corpus).collect()


def test_erasure_audit_query_deterministic_and_applied(spark, sf_dir):
    """Registered-query pin for the r12 post-cert amendment: two runs
    (two fresh corpus dirs) classify identically, every touched cell is
    'applied' with rows_actual == rows_after_expected, and at least one
    cell was actually touched by the standard closure request."""
    from scala_etl_test_spark.plans.queries_data import q_erasure_audit

    a = sorted(tuple(r) for r in q_erasure_audit(spark, sf_dir).collect())
    b = sorted(tuple(r) for r in q_erasure_audit(spark, sf_dir).collect())
    assert a == b
    assert a, "closure request touched no cells — fixture drifted"
    for _cell, before, erased, after_exp, actual, status in a:
        assert status == "applied"
        assert actual == after_exp == before - erased
        assert erased > 0
