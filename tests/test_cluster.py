"""Connected-components duplicate clustering: label propagation must match
graph-theoretic components, and keep-representative must drop exactly the
non-minimum members of each cluster."""

from __future__ import annotations

import pytest

from scala_etl_test_spark.operators.cluster import (
    connected_components,
    dedup_keep_representative,
    forget_closure_ids,
)


def _pairs(spark, edges):
    return spark.createDataFrame(edges, "id_a long, id_b long")


def _comp(df):
    return {(r["node"], r["component"]) for r in df.collect()}


def test_two_cliques_and_a_chain(spark):
    # clique {1,2,3}, chain 10-11-12-13 (diameter 3), pair {20,21}
    edges = [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (12, 13), (21, 20)]
    got = _comp(connected_components(_pairs(spark, edges)))
    want = {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (12, 10), (13, 10), (20, 20), (21, 20)}
    assert got == want


def test_long_chain_converges(spark):
    """A 30-node chain has diameter 29 but min-label needs only O(log) rounds
    beyond the propagation distance — must converge within max_rounds=20?
    No: plain min propagation needs ~diameter rounds, so use max_rounds=40."""
    edges = [(i, i + 1) for i in range(30)]
    got = _comp(connected_components(_pairs(spark, edges), max_rounds=40))
    assert got == {(i, 0) for i in range(31)}


def test_reversed_and_duplicate_edges_are_canonicalized(spark):
    edges = [(2, 1), (1, 2), (2, 1), (3, 3)]  # self-loop dropped, dups merged
    got = _comp(connected_components(_pairs(spark, edges)))
    assert got == {(1, 1), (2, 1)}


def test_nonconvergence_raises(spark):
    edges = [(i, i + 1) for i in range(10)]
    with pytest.raises(ValueError, match="did not converge"):
        connected_components(_pairs(spark, edges), max_rounds=2)


def test_closure_bfs_nonconvergence_raises(spark):
    """A chain longer than the BFS round bound (20) from its end seed."""
    edges = [(i, i + 1) for i in range(25)]
    optout = spark.createDataFrame([(0,)], "doc_id long")
    with pytest.raises(ValueError, match="did not converge"):
        forget_closure_ids(optout, _pairs(spark, edges))


def test_keep_representative(spark):
    df = spark.createDataFrame([(i, f"d{i}") for i in range(6)], "doc_id long, text string")
    pairs = _pairs(spark, [(0, 1), (1, 2), (4, 5)])
    kept = dedup_keep_representative(df, pairs, "doc_id")
    assert sorted(r["doc_id"] for r in kept.collect()) == [0, 3, 4]


def test_sessions_max_concurrency_hand_case(spark, tmp_path):
    """3 users with known overlap: u1 [0,10], u2 [5,15], u3 [12,20] minutes
    -> peak 2; u2 second session far later -> 4 sessions total."""
    import datetime

    from scala_etl_test_spark.plans.queries import q_sessions_max_concurrency

    base = datetime.datetime(2024, 1, 1)

    def ev(eid, uid, minute):
        return (eid, base + datetime.timedelta(minutes=minute), uid, "x", 0.0, "{}")

    rows = [
        ev(1, 1, 0), ev(2, 1, 10),
        ev(3, 2, 5), ev(4, 2, 15),
        ev(5, 3, 12), ev(6, 3, 20),
        ev(7, 2, 300), ev(8, 2, 301),  # second session for u2, gap > 30min
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    out = str(tmp_path / "events.parquet")
    df.write.parquet(out)
    r = q_sessions_max_concurrency(spark, str(tmp_path)).collect()[0]
    assert r["n_sessions"] == 4
    assert r["max_concurrent"] == 2


def test_copurchase_pairs_hand_case(spark, tmp_path):
    """3 orders: {1,2,3}, {1,2}, {1,2,4} -> pair (1,2) support 3, lift
    computed over 3 baskets: 3*3/(3*3) = 1.0; pairs below min_support drop."""
    from scala_etl_test_spark.plans.queries import q_copurchase_pairs

    rows = [(1, 1), (1, 2), (1, 3), (2, 1), (2, 2), (3, 1), (3, 2), (3, 4)]
    df = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    df.write.parquet(str(tmp_path / "lineitem.parquet"))
    got = q_copurchase_pairs(spark, str(tmp_path)).collect()
    assert [(r["p1"], r["p2"], r["support"]) for r in got] == [(1, 2, 3)]
    assert got[0]["lift"] == 1.0


def test_forget_documents_erases_whole_cluster(spark):
    """Opting out ONE member of a near-dup cluster erases the whole
    cluster (a retained duplicate retains the content); singleton
    opt-outs erase only themselves; untouched clusters survive whole."""
    from scala_etl_test_spark.operators.cluster import forget_documents

    docs = spark.createDataFrame(
        [(i, f"s{i}") for i in range(1, 10)], "doc_id long, source string"
    )
    # clusters: {1,2,3} (chain), {4,5}; 6..9 singletons
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "id_a long, id_b long"
    )
    optout = spark.createDataFrame([(2,), (7,)], "doc_id long")
    kept = {r["doc_id"] for r in forget_documents(docs, optout, pairs).collect()}
    # 2 opted out -> 1,2,3 all erased; 7 opted out (singleton) -> just 7
    assert kept == {4, 5, 6, 8, 9}


def test_forget_documents_no_optouts_is_identity(spark):
    from scala_etl_test_spark.operators.cluster import forget_documents

    docs = spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, source string")
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    optout = spark.createDataFrame([], "doc_id long")
    kept = {r["doc_id"] for r in forget_documents(docs, optout, pairs).collect()}
    assert kept == {1, 2}


def test_forget_documents_erasure_audit(spark):
    """Audit property: after forgetting, NO surviving document is a
    near-dup (pair-connected, transitively) of any opted-out document —
    the re-scan a deletion-verification gate would run."""
    from scala_etl_test_spark.operators.cluster import (
        connected_components,
        forget_documents,
    )

    import random

    rng = random.Random(8)
    n = 60
    docs = spark.createDataFrame(
        [(i, "src") for i in range(n)], "doc_id long, source string"
    )
    edges = [
        (rng.randrange(n), rng.randrange(n)) for _ in range(40)
    ]
    pairs = spark.createDataFrame(
        [(a, b) for a, b in edges if a != b], "id_a long, id_b long"
    )
    optout = spark.createDataFrame([(i,) for i in range(0, n, 13)], "doc_id long")
    kept = forget_documents(docs, optout, pairs)
    comp = connected_components(pairs)
    comp_of = {r["node"]: r["component"] for r in comp.collect()}
    opted = {r["doc_id"] for r in optout.collect()}
    doomed_comps = {comp_of[o] for o in opted if o in comp_of}
    for r in kept.collect():
        did = r["doc_id"]
        assert did not in opted
        assert comp_of.get(did) not in doomed_comps


def test_forget_documents_resolves_optout_column_by_name(spark):
    """Regression (round-8 review): a multi-column opt-out frame whose
    FIRST column is not the id must still erase by doc_id — positional
    selection would silently anti-join on wrong values (a no-op erasure
    on a deletion path)."""
    from scala_etl_test_spark.operators.cluster import forget_documents

    docs = spark.createDataFrame([(i, "s") for i in range(1, 6)], "doc_id long, source string")
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    optout = spark.createDataFrame([("req-7", 2)], "request_id string, doc_id long")
    kept = {r["doc_id"] for r in forget_documents(docs, optout, pairs).collect()}
    assert kept == {3, 4, 5}
