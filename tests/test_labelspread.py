"""Label spreading: hand-crafted graph semantics + determinism."""

from __future__ import annotations

from pyspark.sql import functions as F

from scala_etl_test_spark.operators.labelspread import knn_edges_in_cells, label_spread


def _edges(spark, rows):
    return spark.createDataFrame(rows, "src long, dst long, sim double")


def test_majority_vote_and_rounds(spark):
    # 1,2 seeded A(=0); 3 seeded B(=1). node 4 sees {1,2,3} -> A by 2:1.
    # node 5 only sees 4 -> labeled in ROUND 2 from 4's new label.
    seeds = spark.createDataFrame([(1, 0), (2, 0), (3, 1)], "node long, label int")
    edges = _edges(
        spark,
        [(4, 1, 0.9), (4, 2, 0.8), (4, 3, 0.7), (5, 4, 0.9)],
    )
    got = {
        r["node"]: (r["label"], r["assigned_round"])
        for r in label_spread(seeds, edges, rounds=2).collect()
    }
    assert got[4] == (0, 1)
    assert got[5] == (0, 2)
    assert got[1] == (0, 0) and got[3] == (1, 0)


def test_vote_tie_breaks_smaller_label(spark):
    seeds = spark.createDataFrame([(1, 7), (2, 3)], "node long, label int")
    edges = _edges(spark, [(9, 1, 0.9), (9, 2, 0.8)])
    got = {r["node"]: r["label"] for r in label_spread(seeds, edges, rounds=1).collect()}
    assert got[9] == 3  # 1-1 tie -> smaller label wins


def test_seeds_never_change(spark):
    seeds = spark.createDataFrame([(1, 0), (2, 1)], "node long, label int")
    # 1 and 2 point at each other: neither may flip
    edges = _edges(spark, [(1, 2, 0.9), (2, 1, 0.9)])
    got = {r["node"]: (r["label"], r["assigned_round"]) for r in label_spread(seeds, edges, rounds=3).collect()}
    assert got == {1: (0, 0), 2: (1, 0)}


def test_spreading_stops_once_a_round_labels_nothing(spark, monkeypatch):
    """Rounds left over after the labels saturate change nothing, so the
    loop stops at the first round that labels no node: the graph of
    test_majority_vote_and_rounds saturates in 2 rounds, and a budget of
    10 gives the same rows after 3 checkpointed rounds."""
    from scala_etl_test_spark.operators import cluster

    seeds = spark.createDataFrame([(1, 0), (2, 0), (3, 1)], "node long, label int")
    edges = _edges(spark, [(4, 1, 0.9), (4, 2, 0.8), (4, 3, 0.7), (5, 4, 0.9)])
    want = sorted(label_spread(seeds, edges, rounds=2).collect())

    real, calls = cluster._checkpoint_counted, []

    def counted(df, flag):
        calls.append(1)
        return real(df, flag)

    monkeypatch.setattr(cluster, "_checkpoint_counted", counted)
    got = sorted(label_spread(seeds, edges, rounds=10).collect())
    assert got == want
    assert len(calls) == 3, calls  # rounds 1 and 2 label a node, round 3 none


def test_knn_edges_respect_cells_and_k(spark, sf_dir):
    from scala_etl_test_spark.operators.similarity import ivf_assign, stride_centroids
    from scala_etl_test_spark.sources.parquet_source import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    assigned = ivf_assign(emb, stride_centroids(emb, 8)).cache()
    edges = knn_edges_in_cells(assigned, k=3)
    per_src = edges.groupBy("src").count().agg(F.max("count")).first()[0]
    assert per_src <= 3
    cells = {r["vec_id"]: r["cluster_id"] for r in assigned.select("vec_id", "cluster_id").collect()}
    assert all(cells[r["src"]] == cells[r["dst"]] for r in edges.collect())
