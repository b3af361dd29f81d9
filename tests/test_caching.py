"""Cache-lifecycle contract (caching.py): operator-internal persists are
registered session-wide and release_persisted() drops them all, so a
long-lived session does not accumulate caches across operator calls
(ADVICE r4, operators/recsys.py:52)."""

from __future__ import annotations

from pyspark.sql import functions as F

from scala_etl_test_spark.caching import _TRACKED, release_persisted, tracked_persist


def test_tracked_persist_registers_and_release_unpersists(spark):
    release_persisted()  # clean slate from other modules
    df = tracked_persist(spark.range(10))
    assert df.count() == 10
    assert df.is_cached
    assert df in _TRACKED
    assert release_persisted() == 1
    assert not df.is_cached
    assert not _TRACKED


def test_release_skips_already_unpersisted(spark):
    release_persisted()
    df = tracked_persist(spark.range(5))
    df.unpersist()
    assert release_persisted() == 0
    assert not _TRACKED


def test_operator_persists_are_released(spark):
    release_persisted()
    from scala_etl_test_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 2)], "src long, dst long"
    )
    pr = pagerank(edges, num_iters=3)
    assert pr.count() > 0
    # pagerank persists its edge/degree/node tables internally
    assert len(_TRACKED) > 0
    released = release_persisted()
    assert released > 0
    assert not _TRACKED


def test_minhash_shingle_cache_released(spark):
    release_persisted()
    from scala_etl_test_spark.operators.dedup import minhash_near_duplicates

    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog " + str(i % 3))
         for i in range(20)],
        "doc_id long, text string",
    )
    pairs = minhash_near_duplicates(docs, "text", "doc_id")
    pairs.count()
    assert len(_TRACKED) > 0
    assert release_persisted() > 0
    assert not _TRACKED


def test_repeated_operator_calls_drain_per_iteration(spark):
    """The bench/gate loop contract (VERDICT r5 item 7): many operator calls
    in ONE session, with release_persisted() after consuming each result —
    the registry must return to empty every iteration (never grow across
    calls) and each release must drop the JVM cache for real."""
    release_persisted()
    from scala_etl_test_spark.operators.dedup import minhash_near_duplicates

    docs = spark.createDataFrame(
        [(i, f"some shared text body number {i % 4} padded with words") for i in range(12)],
        "doc_id long, text string",
    )
    for _ in range(3):
        minhash_near_duplicates(docs, "text", "doc_id").count()
        assert len(_TRACKED) > 0
        assert release_persisted() > 0
        assert not _TRACKED


def test_tracked_scope_releases_only_scope_internal(spark):
    """tracked_scope must unpersist exactly the frames registered inside
    the scope — a cache the caller registered before entry stays cached
    and stays in the registry (the composite-operator contract)."""
    release_persisted()
    from scala_etl_test_spark.caching import _TRACKED, tracked_persist, tracked_scope

    outer = tracked_persist(spark.range(10).selectExpr("id", "id * 2 AS v"))
    outer.count()
    with tracked_scope():
        inner = tracked_persist(spark.range(5).selectExpr("id AS k"))
        inner.count()
        assert inner.is_cached
    assert not inner.is_cached          # scope-internal: released on exit
    assert outer.is_cached              # caller's cache: untouched
    assert [id(df) for df in _TRACKED] == [id(outer)]
    assert release_persisted() == 1


def test_label_spread_query_releases_its_assignment(spark, sf_dir):
    """``q_label_spread`` persists its IVF assignment through
    tracked_persist, so release_persisted() frees it: a bare ``.cache()``
    would stay in the CacheManager for the life of the session."""
    from scala_etl_test_spark.plans.queries import QUERIES

    spark.catalog.clearCache()  # clean slate from other modules
    release_persisted()
    QUERIES["label_spread"](spark, sf_dir).write.mode("overwrite").format("noop").save()
    assert release_persisted() > 0
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
