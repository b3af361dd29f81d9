"""Semi-supervised label spreading over a kNN similarity graph
(beyond-reference): propagate labels from a small seeded subset to the
rest of the corpus by iterative majority vote among labeled neighbors —
the relational form of label propagation (Zhu & Ghahramani 2002), the
standard trick for spreading sparse quality/domain labels across an
embedding space before training a filter model.

Fully deterministic, so the whole procedure is oracle-checkable: the kNN
graph is cell-blocked (IVF assignment → candidates only within a cell,
the same bounded-blowup pattern as the blocked near-dup joins), neighbor
ranking breaks ties on the neighbor id, and the majority vote breaks
ties on (count desc, label asc). Fixed round count unrolls into SQL.

Scale shape: per-cell pair generation is Σ n_c² (never corpus²; cells
come from :func:`similarity.ivf_assign`, so cell sizes are capped by the
centroid count you choose), one window ranks neighbors per node, and
each round is a join + grouped vote on the edge list — the iteration
state is one (node, label) table, exactly like the connected-components
and PageRank loops in this package.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from scala_etl_test_spark.functions.vectors import cosine_from_norms, l2_norm
from scala_etl_test_spark.operators.cluster import _grow_to_fixpoint


def knn_edges_in_cells(
    assigned: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int = 6,
) -> DataFrame:
    """Directed kNN edge list (src, dst, sim) restricted to IVF cells:
    each node's k most-similar neighbors AMONG ITS CELL (ties → smaller
    dst id). ``assigned`` is :func:`similarity.ivf_assign` output."""
    # norms precomputed per ROW (n folds), not per pair (Σc² folds) — see
    # functions/vectors.cosine_from_norms
    a = assigned.select(
        F.col("cluster_id"),
        F.col(id_col).alias("src"),
        F.col(vec_col).alias("_va"),
        l2_norm(vec_col).alias("_na"),
    )
    b = assigned.select(
        F.col("cluster_id"),
        F.col(id_col).alias("dst"),
        F.col(vec_col).alias("_vb"),
        l2_norm(vec_col).alias("_nb"),
    )
    pairs = (
        a.join(b, on="cluster_id")
        .filter(F.col("src") != F.col("dst"))
        .select(
            "src",
            "dst",
            F.round(
                cosine_from_norms("_va", "_vb", "_na", "_nb"), round_digits
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("src").orderBy(F.col("sim").desc(), F.col("dst"))
    return (
        pairs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def label_spread(
    seeds: DataFrame,
    edges: DataFrame,
    rounds: int = 2,
    node_col: str = "node",
    label_col: str = "label",
) -> DataFrame:
    """Spread ``seeds`` (node, label) along ``edges`` (src, dst, …) for at
    most ``rounds`` rounds: an unlabeled node adopts the majority label of
    its labeled out-neighbors (ties → count desc, label asc); newly
    labeled nodes vote in later rounds. Seeds never change. A round that
    labels nothing ends the spreading early — the unchanged label set
    would vote the same way again.

    Returns (node, label, assigned_round) — 0 for seeds."""
    # materialize the graph ONCE: every round joins it, and without the
    # checkpoint the whole upstream kNN plan (per-cell pairwise cosines +
    # ranking window) would re-execute per round — same discipline as the
    # CC edge list and the PageRank adjacency
    edges = edges.select("src", "dst").localCheckpoint()
    seeded = seeds.select(
        F.col(node_col).alias("node"),
        F.col(label_col).alias("label"),
        F.lit(0).alias("assigned_round"),
    ).localCheckpoint()

    def vote(_frontier: DataFrame, labels: DataFrame, r: int) -> DataFrame:
        nbr = (
            edges.join(labels.select(F.col("node").alias("dst"), "label"), on="dst")
            .groupBy("src", "label")
            .agg(F.count(F.lit(1)).alias("votes"))
        )
        w = Window.partitionBy("src").orderBy(
            F.col("votes").desc(), F.col("label").asc()
        )
        winners = (
            nbr.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(F.col("src").alias("node"), "label")
        )
        return winners.join(
            labels.select("node"), on="node", how="left_anti"
        ).withColumn("assigned_round", F.lit(r))

    labels, _, _, _ = _grow_to_fixpoint(vote, seeded, rounds)
    return labels
