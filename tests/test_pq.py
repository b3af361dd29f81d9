"""Product quantization: encode determinism, ADC exactness, zero-shuffle plan."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from scala_etl_test_spark.operators.pq import (
    SCALE,
    _quantize_py,
    pq_adc_topk,
    pq_encode,
    train_pq_codebook,
)


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    from scala_etl_test_spark.sources.parquet_source import read_table

    return read_table(spark, sf_dir, "embeddings").cache()


@pytest.fixture(scope="module")
def codebook(emb):
    return train_pq_codebook(emb, m=4, k=16)


def test_codebook_shape(codebook, emb):
    d = len(emb.select("embedding").first()[0])
    assert len(codebook) == 4
    assert all(len(cb) == 16 for cb in codebook)
    assert all(len(cw) == d // 4 for cb in codebook for cw in cb)
    assert all(isinstance(c, int) for cb in codebook for cw in cb for c in cw)


def test_quantize_py_matches_spark_round(spark):
    vals = [0.1234565, -0.1234565, 1.9999995, -3.25, 0.0, 2.5e-7, -2.5e-7]
    df = spark.createDataFrame([(v,) for v in vals], "x double").select(
        F.round(F.col("x") * SCALE, 0).cast("long").alias("q")
    )
    got = [r["q"] for r in df.collect()]
    assert got == [_quantize_py(v) for v in vals]


def test_codes_in_range_and_deterministic(emb, codebook):
    wide = pq_encode(emb, codebook)
    rows = {r["vec_id"]: r["codes"] for r in wide.collect()}
    assert all(len(c) == 4 for c in rows.values())
    assert all(0 <= x < 16 for c in rows.values() for x in c)
    again = {
        r["vec_id"]: r["codes"] for r in pq_encode(emb.repartition(7), codebook).collect()
    }
    assert rows == again  # partitioning-invariant (row-local encode)


def test_seed_vectors_encode_to_own_code(emb, codebook):
    """The k seed vectors are their own nearest codeword in every subspace
    (distance 0), so seed i must encode to [rank_i] * m."""
    seed_ids = [r["vec_id"] for r in emb.orderBy("vec_id").limit(16).collect()]
    wide = pq_encode(emb.filter(F.col("vec_id").isin(seed_ids)), codebook)
    for r in wide.collect():
        rank = seed_ids.index(r["vec_id"])
        assert r["codes"] == [rank] * 4


def test_adc_m1_equals_exact_quantized_l2(emb):
    """With m=1 the code IS the nearest seed, and the ADC distance of a
    seed-vector query to any vector equals dist(query_codeword, code's
    codeword) — for code-0 query (vec 0), dist to vec 0 itself is 0."""
    cb = train_pq_codebook(emb, m=1, k=16)
    query = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    top = pq_adc_topk(pq_encode(emb, cb), cb, [float(v) for v in query], k=3)
    rows = top.collect()
    assert rows[0]["adc_dist"] == 0  # vec 0 encodes to its own codeword
    assert [r["adc_dist"] for r in rows] == sorted(r["adc_dist"] for r in rows)


def test_encode_plan_has_no_exchange(emb, codebook):
    plan = pq_encode(emb, codebook)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_adc_topk_plan_is_take_ordered(emb, codebook):
    query = [0.0] * 64
    plan = (
        pq_adc_topk(pq_encode(emb, codebook), codebook, query, k=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan


def test_dim_mismatch_raises(emb, codebook):
    with pytest.raises(ValueError):
        pq_adc_topk(pq_encode(emb, codebook), codebook, [0.0] * 3, k=5)


def test_ivf_pq_results_come_from_probed_cells(emb, codebook):
    from scala_etl_test_spark.operators.pq import ivf_pq_topk
    from scala_etl_test_spark.operators.similarity import (
        ivf_assign,
        stride_centroids,
    )
    from scala_etl_test_spark.functions.vectors import cosine_similarity
    from scala_etl_test_spark.operators.similarity import _as_double_array

    query = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    query = [float(v) for v in query]
    cent = stride_centroids(emb, 8)
    assigned = ivf_assign(emb, cent).cache()
    enc = pq_encode(assigned, codebook, keep_cols=["cluster_id"])
    got = ivf_pq_topk(enc, cent, codebook, query, k=10, nprobe=2)
    probe_ids = {
        r["centroid_id"]
        for r in cent.withColumn(
            "_sim", cosine_similarity("centroid_vec", _as_double_array(query))
        )
        .orderBy(F.col("_sim").desc(), F.col("centroid_id"))
        .limit(2)
        .collect()
    }
    cells = {
        r["vec_id"]: r["cluster_id"] for r in assigned.select("vec_id", "cluster_id").collect()
    }
    rows = got.collect()
    assert len(rows) == 10
    assert all(cells[r["vec_id"]] in probe_ids for r in rows)
    # ADC distances agree with the flat ADC ranking restricted to the cells
    flat = pq_adc_topk(
        pq_encode(assigned.filter(F.col("cluster_id").isin(list(probe_ids))), codebook),
        codebook,
        query,
        k=10,
    ).collect()
    assert [(r["vec_id"], r["adc_dist"]) for r in rows] == [
        (r["vec_id"], r["adc_dist"]) for r in flat
    ]


def test_partitioned_code_table_prunes_cells(emb, codebook, tmp_path):
    """The IVF-PQ claim 'non-probed cells prune at the source': write the
    code table partitioned by cluster_id and verify a probe filter becomes
    a partition filter on the scan (no full-table read)."""
    from scala_etl_test_spark.operators.similarity import (
        ivf_assign,
        stride_centroids,
    )

    cent = stride_centroids(emb, 8)
    enc = pq_encode(ivf_assign(emb, cent), codebook, keep_cols=["cluster_id"])
    path = str(tmp_path / "codes")
    enc.write.partitionBy("cluster_id").parquet(path)
    spark = emb.sparkSession
    probed = spark.read.parquet(path).filter(F.col("cluster_id").isin([0, 3]))
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cluster_id" in plan.split("PartitionFilters")[1][:200], plan
    # only the probed cells' files are read
    n_cells = {r["cluster_id"] for r in probed.select("cluster_id").distinct().collect()}
    assert n_cells <= {0, 3}


def test_residual_pq_roundtrip_and_probe_restriction(emb):
    from scala_etl_test_spark.operators.pq import (
        ivf_pq_residual_topk,
        residual_pq_encode,
        train_residual_codebook,
    )
    from scala_etl_test_spark.operators.similarity import stride_centroids

    cent = stride_centroids(emb, 8)
    cb = train_residual_codebook(emb, cent, m=4, k=16)
    enc = residual_pq_encode(emb, cent, cb).cache()
    # seed vectors' residuals ARE codewords -> distance 0 to their own rank's
    # codeword; ties (e.g. seeds that are also centroids share the zero
    # residual) resolve to the smallest code with an identical codeword
    seed_ids = [r["vec_id"] for r in emb.orderBy("vec_id").limit(16).collect()]
    for r in enc.filter(F.col("vec_id").isin(seed_ids)).collect():
        rank = seed_ids.index(r["vec_id"])
        expected = [
            min(j for j in range(16) if cb[s][j] == cb[s][rank]) for s in range(4)
        ]
        assert r["codes"] == expected
    query = [float(v) for v in emb.filter("vec_id = 0").first()["embedding"]]
    got = ivf_pq_residual_topk(enc, cent, cb, query, k=10, nprobe=2).collect()
    assert len(got) == 10
    cells = {r["vec_id"]: r["cluster_id"] for r in enc.collect()}
    from scala_etl_test_spark.functions.vectors import cosine_similarity
    from scala_etl_test_spark.operators.similarity import _as_double_array

    probe = {
        r["centroid_id"]
        for r in cent.withColumn(
            "_sim", cosine_similarity("centroid_vec", _as_double_array(query))
        )
        .orderBy(F.col("_sim").desc(), F.col("centroid_id"))
        .limit(2)
        .collect()
    }
    assert all(cells[r["vec_id"]] in probe for r in got)
    # the query vector (vec 0, a seed in its own probed cell) has distance 0
    assert got[0]["vec_id"] == 0 and got[0]["adc_dist"] == 0


def test_residual_topk_dim_mismatch_raises(emb, codebook):
    from scala_etl_test_spark.operators.pq import (
        ivf_pq_residual_topk,
        residual_pq_encode,
    )
    from scala_etl_test_spark.operators.similarity import stride_centroids

    cent = stride_centroids(emb, 4)
    enc = residual_pq_encode(emb, cent, codebook)
    with pytest.raises(ValueError):
        ivf_pq_residual_topk(enc, cent, codebook, [0.0] * 60, k=3)


def test_forget_from_pq_codes_cell_local_and_probe_clean(emb, codebook, tmp_path):
    """Erasure reaches the PQ artifact: a code table written
    ``partitionBy(cluster_id)`` is a narrower IVF corpus, so
    ``similarity.forget_from_ivf`` erases from it directly. Doomed code rows
    leave the partitioned table via a cell-local rewrite (untouched cells
    byte-identical), an IVFADC probe over the erased table never returns a
    forgotten id, and the codebook file-set is untouched by construction
    (it is not stored in the code table at all)."""
    import os

    from scala_etl_test_spark.operators.similarity import (
        forget_from_ivf,
        ivf_assign,
        stride_centroids,
    )

    spark = emb.sparkSession
    cent = stride_centroids(emb, 8)
    enc = pq_encode(ivf_assign(emb, cent), codebook, keep_cols=["cluster_id"])
    path = str(tmp_path / "codes")
    enc.write.partitionBy("cluster_id").parquet(path)

    def cell_files():
        return {
            d: sorted(
                (f, os.path.getsize(os.path.join(path, d, f)), os.stat(os.path.join(path, d, f)).st_mtime_ns)
                for f in os.listdir(os.path.join(path, d))
                if not f.startswith((".", "_"))
            )
            for d in os.listdir(path)
            if d.startswith("cluster_id=")
        }

    before = cell_files()
    live = spark.read.parquet(path)
    doomed_ids = [
        r["vec_id"]
        for r in live.filter(F.col("cluster_id") == 1).select("vec_id").orderBy("vec_id").limit(2).collect()
    ]
    doomed = spark.createDataFrame([(i,) for i in doomed_ids], "vec_id long")
    stats = {r["cluster_id"]: r for r in forget_from_ivf(spark, path, doomed).collect()}
    assert set(stats) == {1} and stats[1]["rows_erased"] == 2

    after = cell_files()
    for d in before:
        if d == "cluster_id=1":
            assert before[d] != after[d]
        else:
            assert before[d] == after[d], f"untouched cell {d} changed"

    erased = spark.read.parquet(path)
    assert erased.filter(F.col("vec_id").isin(doomed_ids)).count() == 0
    # probe with every cell: even at full nprobe no forgotten id can rank
    from scala_etl_test_spark.operators.pq import ivf_pq_topk

    qv = [float(v) for v in emb.select("embedding").first()[0]]
    hits = ivf_pq_topk(erased, cent, codebook, qv, k=50, nprobe=8)
    got = {r["vec_id"] for r in hits.collect()}
    assert not got & set(doomed_ids)


class TestPqRotationRecall:
    """pq_rotation_recall (VERDICT r9 item 4): the rotation's effect on PQ
    recall is MEASURED at equal code budget, deterministically."""

    def test_shape_and_determinism(self, spark, sf_dir):
        from scala_etl_test_spark.plans.queries_data import q_pq_rotation_recall

        a = [tuple(r) for r in q_pq_rotation_recall(spark, sf_dir).collect()]
        b = [tuple(r) for r in q_pq_rotation_recall(spark, sf_dir).collect()]
        # stride codebook/centroids + integer-exact variance permutation:
        # no flakiness
        assert a == b
        assert [(r[0], r[1]) for r in a] == [
            ("raw", "adc"),
            ("raw", "ivfpq"),
            ("rotated", "adc"),
            ("rotated", "ivfpq"),
        ]
        by_key = {}
        for variant, path, k, n_hits, recall in a:
            assert k == 10
            assert 0 <= n_hits <= k
            assert recall == round(n_hits / k, 6)
            by_key[(variant, path)] = n_hits
        # probing can only LOSE hits relative to the full ADC scan of the
        # same codes (the probe restricts the candidate set)
        for variant in ("raw", "rotated"):
            assert by_key[(variant, "ivfpq")] <= by_key[(variant, "adc")]

    def test_permutation_is_valid_and_energy_balancing(self, spark, sf_dir):
        """The registered rotation (variance_rr_permutation) is a true
        permutation of range(d), and it deals the top-m-variance dims one
        per subspace — the parametric-OPQ balancing property the query's
        A/B measures."""
        from scala_etl_test_spark.operators.pq import SCALE
        from scala_etl_test_spark.plans.queries_data import (
            _PQ_M,
            variance_rr_permutation,
        )
        from scala_etl_test_spark.sources.parquet_source import read_table

        emb = read_table(spark, sf_dir, "embeddings")
        d = len(emb.select("embedding").first()[0])
        order = variance_rr_permutation(emb, d, _PQ_M)
        assert sorted(order) == list(range(d))
        # replay the ranking in pandas and check the round-robin layout
        pdf = emb.select("embedding").toPandas()
        import numpy as np

        q = np.round(np.stack(pdf["embedding"].to_numpy()) * SCALE)
        n = q.shape[0]
        score = n * (q * q).sum(axis=0) - q.sum(axis=0) ** 2
        ranked = sorted(range(d), key=lambda i: (-score[i], i))
        dsub = d // _PQ_M
        expect = [0] * d
        for r, dim in enumerate(ranked):
            expect[(r % _PQ_M) * dsub + r // _PQ_M] = dim
        assert order == expect
        # each subspace holds exactly one of the top-m variance dims
        for s in range(_PQ_M):
            sub = set(order[s * dsub : (s + 1) * dsub])
            assert len(sub & set(ranked[:_PQ_M])) == 1

    def test_truth_is_rotation_invariant(self, spark, sf_dir):
        """The single ground truth both variants chase: brute cosine top-k
        over the ROTATED corpus returns the same ids as over the raw one
        (full-rank rotation preserves cosine) — so scoring both variants
        against the raw-corpus truth is fair. Pins the eigh-based PCA
        rotation now served by the --pq-rotation-eval CLI artifact
        (pca_rotation_recall_report); the registered query's permutation
        rotation preserves cosine exactly by construction."""
        from scala_etl_test_spark.operators import similarity as S
        from scala_etl_test_spark.sources.parquet_source import read_table

        emb = read_table(spark, sf_dir, "embeddings")
        q = [float(v) for v in emb.filter("vec_id = 0").first()["embedding"]]
        d = len(q)
        comps = S.pca_components_from_cov(S.embedding_covariance(emb), d=d, k=d)
        rotated = S.project_to_components(emb, comps).select(
            "vec_id", F.col("projected").alias("embedding")
        )
        q_rot = [sum(a * b for a, b in zip(q, c)) for c in comps]
        raw_ids = [r["vec_id"] for r in S.cosine_topk(emb, q, k=10, round_digits=None).collect()]
        rot_ids = [r["vec_id"] for r in S.cosine_topk(rotated, q_rot, k=10, round_digits=None).collect()]
        assert raw_ids == rot_ids


class TestAnnTruncationRecall:
    """ann_truncation_recall: dimension-truncation A/B measured
    deterministically, structure pinned."""

    def test_shape_and_determinism(self, spark, sf_dir):
        from scala_etl_test_spark.plans.queries_data import q_ann_truncation_recall

        a = [tuple(r) for r in q_ann_truncation_recall(spark, sf_dir).collect()]
        b = [tuple(r) for r in q_ann_truncation_recall(spark, sf_dir).collect()]
        assert a == b
        assert [(r[0], r[1]) for r in a] == [
            ("raw_prefix", 8), ("raw_prefix", 16),
            ("variance_ordered", 8), ("variance_ordered", 16),
        ]
        for _variant, _dk, k, n_hits, recall in a:
            assert k == 10 and 0 <= n_hits <= k
            assert recall == round(n_hits / k, 6)

    def test_full_d_truncation_is_exact(self, spark, sf_dir):
        """Sanity anchor: 'truncating' to the full dimension must recover
        the exact truth (recall 1.0) for BOTH orderings — the variance
        permutation preserves cosine exactly."""
        from scala_etl_test_spark.operators import similarity as S
        from scala_etl_test_spark.plans.queries_data import variance_ranked_dims
        from scala_etl_test_spark.sources.parquet_source import read_table

        emb = read_table(spark, sf_dir, "embeddings")
        q = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
        d = len(q)
        ranked = variance_ranked_dims(emb, d)
        assert sorted(ranked) == list(range(d))
        v = F.col("embedding").cast("array<double>")
        reordered = emb.select(
            "vec_id", F.array(*[v[i] for i in ranked]).alias("embedding")
        )
        truth = [r["vec_id"] for r in S.cosine_topk(emb, q, k=10).collect()]
        got = [
            r["vec_id"]
            for r in S.cosine_topk(reordered, [q[i] for i in ranked], k=10).collect()
        ]
        assert got == truth


class TestVarianceRankingAdviceR11:
    """ADVICE r11 regressions: decimal moment sums (int64 SUM wrap),
    the d % m guard, and the min-vec_id query seed."""

    def test_rr_permutation_rejects_indivisible_dim(self, spark):
        """d % m != 0 used to build a silently-corrupt permutation
        (position collisions drop dimensions); now it fails the same way
        train_pq_codebook does."""
        from scala_etl_test_spark.plans.queries_data import variance_rr_permutation

        emb = spark.createDataFrame(
            [(i, [float(i), 0.0, 1.0]) for i in range(4)],
            "vec_id long, embedding array<double>",
        )
        with pytest.raises(ValueError, match="not divisible"):
            variance_rr_permutation(emb, 3, 2)

    def test_ranked_dims_survive_int64_sum_overflow(self, spark):
        """Σq² must accumulate in decimal(38,0): with q ~ 2e9 (|x| ~ 2000
        at SCALE=1e6) three rows push the sum past int64, where a long SUM
        wraps negative in non-ANSI Spark and the high-variance dimension
        would silently rank LAST instead of first."""
        from scala_etl_test_spark.plans.queries_data import variance_ranked_dims

        emb = spark.createDataFrame(
            [(0, [2000.0, 0.001]), (1, [-2000.0, -0.001]), (2, [1999.0, 0.002])],
            "vec_id long, embedding array<double>",
        )
        assert variance_ranked_dims(emb, 2) == [0, 1]

    def test_evals_gate_on_min_vec_id_corpus(self, spark, tmp_path):
        """Both eval queries (and their oracles) key the probe vector off
        MIN(vec_id), so a corpus whose ids start at 5 runs end-to-end and
        still value-matches DuckDB (the old Spark fallback raised
        TypeError and the old oracle hardcoded vec_id = 0)."""
        import duckdb

        from scala_etl_test_spark.plans.queries_data import (
            SQL_ANN_TRUNCATION_RECALL,
            SQL_PQ_ROTATION_RECALL,
            q_ann_truncation_recall,
            q_pq_rotation_recall,
        )
        from tests.oracle_harness import compare

        d = 16
        rows = [
            (i + 5, [((i * 7 + j * 3) % 11 - 5) / 7.0 for j in range(d)])
            for i in range(40)
        ]
        spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        ).coalesce(1).write.parquet(str(tmp_path / "embeddings.parquet"))

        con = duckdb.connect()
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{tmp_path}/embeddings.parquet/*.parquet')"
        )
        try:
            for fn, sql in (
                (q_ann_truncation_recall, SQL_ANN_TRUNCATION_RECALL),
                (q_pq_rotation_recall, SQL_PQ_ROTATION_RECALL),
            ):
                result = compare(fn(spark, str(tmp_path)), con, sql)
                assert result["count_match"] and result["schema_match"], result
                assert result["value_match"], result
        finally:
            con.close()
