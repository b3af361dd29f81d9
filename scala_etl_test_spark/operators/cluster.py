"""Duplicate-cluster resolution: connected components over near-dup pairs
(beyond-reference; the step that turns pairwise similarity into dedup
*decisions* — cluster near-duplicates, keep one representative per cluster).

Algorithm: iterative min-label propagation over the symmetric edge list —
each round every node takes the min of its own and its neighbors' labels
(one join + one groupBy per round); converges in O(graph diameter) rounds,
which for near-dup graphs (overwhelmingly tiny cliques, diameter ≤ 2-3) is
a handful of shuffles. No driver adjacency, no ``collect``; the only
driver-side value per round is the changed-label count, observed on the
round's own checkpoint job (:func:`_checkpoint_counted`), which is also
what terminates the loop. The O(log n)-round large-star/small-star scheme
of Kiveris et al., SoCC'14 (:func:`connected_components_alternating`) is
the diameter-independent variant for deep chains/super-hubs — for dedup
cliques the simpler propagation does strictly fewer shuffles per round.

Scale notes:
- State per round is the (node, label) edge list — linear in |V|+|E|. A
  celebrity node's per-round groupBy input is its full degree (the
  adjacency is static); partial aggregation (min combines map-side) and
  AQE skew splits keep that bounded — and the large-star/small-star
  upgrade below is the structural fix if a pair generator ever emits
  super-hub nodes.
- Rounds are materialized via ``localCheckpoint`` to cut the exponentially
  growing lineage (iterative-algorithm hygiene on any cluster). The
  convergence count rides on that checkpoint through ``DataFrame.observe``,
  so a round runs no probe job of its own.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, functions as F


def _checkpoint_counted(df: DataFrame, flag: Column) -> tuple[DataFrame, int]:
    """``df.localCheckpoint()`` plus the number of its rows where ``flag``
    holds, observed in the checkpoint's own job. This is the convergence
    test of the iterative loops below; reading it off the checkpoint saves
    each round a probe action and the job(s) it would run."""
    obs = Observation()
    out = df.observe(obs, F.count_if(flag).alias("n")).localCheckpoint()
    return out, obs.get["n"]


def _canonical_edges(pairs: DataFrame, src: str, dst: str) -> DataFrame:
    """Undirected edge list as (u, v) with u < v, deduplicated."""
    u = F.least(F.col(src), F.col(dst)).alias("u")
    v = F.greatest(F.col(src), F.col(dst)).alias("v")
    return pairs.select(u, v).filter(F.col("u") != F.col("v")).distinct()


def connected_components(
    pairs: DataFrame, src: str = "id_a", dst: str = "id_b", max_rounds: int = 20
) -> DataFrame:
    """(node, component) for every node appearing in ``pairs``; component is
    the minimum node id reachable from the node.

    Implementation: min-label propagation — each round joins every node's
    current label with its neighbors' labels and takes the min; terminates
    when no label changes. Rounds ≈ graph diameter ≤ ``max_rounds`` (near-dup
    graphs are overwhelmingly tiny cliques; diameter > 20 would mean a
    pathological chain, reported via ValueError rather than silently wrong).
    """
    # materialize canonical edges ONCE: the symmetric union below consumes
    # the subtree twice, and without the checkpoint the (possibly expensive)
    # pair-generating pipeline upstream would execute twice
    edges = _canonical_edges(pairs, src, dst).localCheckpoint()
    # symmetric adjacency (u→v and v→u) so min flows both directions
    adj = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))

    # Round 0 specialized: labels start as the identity, so the generic
    # round's join-with-labels degenerates to min over the adjacency — ONE
    # groupBy instead of distinct + join + groupBy (two shuffles saved per
    # invocation; round 0 is also where every node is enumerated, since the
    # symmetric adjacency lists each node as u at least once).
    labels = (
        adj.groupBy(F.col("u").alias("node"))
        .agg(F.least(F.min("v"), F.first("u")).alias("component"))
        .localCheckpoint()
    )
    for _ in range(max_rounds):
        neighbor_min = (
            adj.join(labels, adj.v == labels.node)
            .groupBy(F.col("u").alias("node"))
            .agg(F.min("component").alias("neighbor_component"))
        )
        updated = (
            labels.join(neighbor_min, on="node", how="left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce("neighbor_component", "component")
                ).alias("component"),
                (
                    F.coalesce("neighbor_component", "component") < F.col("component")
                ).alias("_changed"),
            )
        )
        updated, changed = _checkpoint_counted(updated, F.col("_changed"))
        labels = updated.drop("_changed")
        if changed == 0:
            return labels
    raise ValueError(f"connected_components did not converge in {max_rounds} rounds")


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star round (Kiveris et al., SoCC'14): every node connects its
    strictly-larger neighbors to the minimum of its neighborhood (incl.
    itself). Cuts long chains toward the component minimum in O(log n)
    alternations instead of the O(diameter) rounds of plain propagation."""
    sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    return (
        sym.join(mins, on="u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star round: orient edges large→small; every node repoints its
    smaller neighbors (and itself) at the minimum of that set."""
    oriented = (
        edges.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))  # all v < u ⇒ min incl. self
    joined = oriented.join(mins, on="u")
    return (
        joined.select(F.col("v").alias("u"), F.col("m").alias("v"))
        .union(mins.select(F.col("u"), F.col("m").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components_alternating(
    pairs: DataFrame, src: str = "id_a", dst: str = "id_b", max_rounds: int = 30
) -> DataFrame:
    """(node, component) via alternating large-star/small-star (Kiveris et
    al., "Connected Components in MapReduce and Beyond", SoCC'14) — the
    documented upgrade path of :func:`connected_components` for graphs whose
    diameter outgrows plain min-label propagation (deep chains, super-hubs).

    Converges in O(log n) alternations independent of diameter: each
    alternation at least halves the distance of every node to its component
    minimum. Same output contract as :func:`connected_components`
    (equivalence is test-pinned); per alternation it shuffles twice
    (one groupBy per star phase) vs propagation's once, so for shallow
    near-dup cliques the simpler propagation remains the default.
    """
    edges = _canonical_edges(pairs, src, dst).localCheckpoint()
    for _ in range(max_rounds):
        after = _small_star(_large_star(edges)).localCheckpoint()
        # fixpoint of the composition ⇔ converged star forest (1-row
        # actions, not data collects; the second check only runs when the
        # first passes — one saved full-shuffle job per non-converged round)
        changed = after.exceptAll(edges).limit(1).count() > 0 or (
            edges.exceptAll(after).limit(1).count() > 0
        )
        edges = after
        if not changed:
            roots = (
                edges.select(F.col("v").alias("node"))
                .distinct()
                .withColumn("component", F.col("node"))
            )
            return (
                edges.select(F.col("u").alias("node"), F.col("v").alias("component"))
                .union(roots)
                .groupBy("node")
                .agg(F.min("component").alias("component"))
            )
    raise ValueError(
        f"connected_components_alternating did not converge in {max_rounds} rounds"
    )


def dedup_keep_representative(
    df: DataFrame, pairs: DataFrame, id_col: str, src: str = "id_a", dst: str = "id_b"
) -> DataFrame:
    """Drop every row whose id is in a duplicate cluster, except the cluster
    representative (min id). Rows in no cluster are kept unchanged."""
    comp = connected_components(pairs, src, dst)
    losers = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, on=id_col, how="left_anti")


def forget_closure_ids(
    optout: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
    components: DataFrame | None = None,
) -> DataFrame:
    """The erasure CLOSURE shared by every persisted-artifact forget path
    (batch corpus, LSH index, IVF corpus, PQ code tables): expand a
    request-sized opt-out list to every member of each opted-out id's
    near-dup cluster, returned as a single-column (``id_col``) DataFrame.

    Shape (r14): with no precomputed ``components``, the closure is a
    seed-frontier BFS from the opt-out ids — per round, the (small,
    broadcast) frontier joins the static edge list once and the strictly
    new neighbors become the next frontier. Reachability in an undirected
    graph IS component membership, so the visited set equals the
    CC-based closure exactly — but every round touches only
    frontier-incident edges via a broadcast probe (no corpus-node-sized
    label table is shuffled per round, which is what the previous
    full-graph connected_components run did), and rounds stop at the
    CLUSTER eccentricity from the seeds instead of the global diameter.
    The frontier is request-scale by the near-dup-cluster premise; a
    viral cluster that outgrew broadcast would surface as a broadcast
    build failure, not silent wrongness.

    Pass ``components`` (a precomputed (node, component) map over the
    SAME pairs — callers that need full components anyway) to skip the
    rounds; that path keeps the r13 semi-join/fan-out shape, where the
    fan-out is deliberately NOT hint-broadcast (one viral opt-out
    cluster could exceed the threshold; the planner picks broadcast
    itself when the closure is small)."""
    opt_col = id_col if id_col in optout.columns else optout.columns[0]
    opt_ids = optout.select(F.col(opt_col).alias("node")).distinct()
    if components is not None:
        comp = components
        doomed = (
            comp.join(F.broadcast(opt_ids), on="node", how="left_semi")
            .select("component")
            .distinct()
        )
        doomed_members = comp.join(doomed, on="component", how="left_semi").select(
            F.col("node").alias(id_col)
        )
        return doomed_members.unionByName(
            opt_ids.select(F.col("node").alias(id_col))
        ).distinct()
    # materialize canonical edges ONCE (the possibly-expensive pair
    # pipeline upstream must not re-run per BFS round), same policy as
    # connected_components
    edges = _canonical_edges(pairs, src, dst).localCheckpoint()
    adj = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    visited = opt_ids.localCheckpoint()
    frontier = visited
    # near-dup clusters are tiny cliques; 20 rounds is the same
    # pathological-chain bound connected_components enforces
    for _ in range(20):
        nxt = (
            adj.join(F.broadcast(frontier), adj.u == frontier.node, "left_semi")
            .select(F.col("v").alias("node"))
            .distinct()
            .join(F.broadcast(visited), on="node", how="left_anti")
        )
        nxt, n_new = _checkpoint_counted(nxt, F.lit(True))
        if n_new == 0:
            return visited.select(F.col("node").alias(id_col))
        # no checkpoint: both operands are already flat checkpointed RDD
        # scans, so the union's lineage stays round-count-deep, not
        # exponential — and this saves one job per round
        visited = visited.unionByName(nxt)
        frontier = nxt
    raise ValueError("forget_closure_ids did not converge in 20 BFS rounds")


def forget_documents(
    df: DataFrame,
    optout: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
    components: DataFrame | None = None,
) -> DataFrame:
    """Right-to-be-forgotten with CONTENT closure (beyond-reference;
    GDPR/CCPA erasure for a training corpus): drop every opted-out
    document AND every member of its near-dup cluster — a retained
    duplicate of an opted-out document retains the content the request
    was about, so id-level deletion alone does not erase.

    Shape: the opt-out list is request-sized (tiny next to the corpus) —
    it broadcasts into a semi-join against the (node, component) table,
    the doomed components fan out to their members via one more
    cluster-keyed join, and the corpus is filtered with a single
    left-anti join on id. The corpus itself is scanned once and never
    shuffled; all join keys are the id/component columns of node-sized
    tables. The doomed-member fan-out is deliberately NOT hint-broadcast:
    one viral opt-out cluster could exceed the threshold, and the planner
    picks broadcast itself when the closure is small.

    Pass ``components`` (a precomputed (node, component) map over the SAME
    pairs) to skip the CC rounds — the corpus CLI already has it.

    Closure computation lives in :func:`forget_closure_ids` (shared with
    the IVF/PQ artifact erasure paths); the opt-out id column is resolved
    by NAME when present so a multi-column request frame whose first
    column is not the id cannot silently anti-join on wrong values (a
    no-op erasure on a deletion path).
    """
    forget_ids = forget_closure_ids(optout, pairs, id_col, src, dst, components)
    return df.join(forget_ids, on=id_col, how="left_anti")
