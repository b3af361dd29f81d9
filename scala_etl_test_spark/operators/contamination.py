"""Benchmark decontamination (beyond-reference; training-data hygiene).

Flags training documents that share word n-grams with an evaluation/
benchmark set — the standard contamination check (GPT-3 appendix C /
Gopher-style 13-gram overlap, here with a configurable ``n``) that must run
before any corpus ships to a trainer.

Scale shape: both sides explode to DISTINCT (doc, shingle) pairs and meet
in an equi-join on the shingle string. The benchmark side is tiny relative
to the corpus (eval sets are thousands of docs, the corpus is billions) —
it broadcasts, so the corpus side never shuffles: one scan + one broadcast
probe + one partial-aggregated groupBy on the corpus doc id. No similarity
scoring here on purpose: contamination is a containment question, not a
near-dup question (MinHash answers "roughly same doc", this answers "has
verbatim eval material inside").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from scala_etl_test_spark.operators.dedup import shingles_from_words, words


def _doc_shingles(
    df: DataFrame, text_col: str, id_col: str, n: int, distinct: bool = True
) -> DataFrame:
    """(id, shingle) pairs, one row per n-gram per doc; ``distinct=True``
    dedupes repeats within a doc (worth a shuffle only on the small side)."""
    out = df.select(F.col(id_col), words(text_col).alias("_w")).select(
        F.col(id_col), F.explode(shingles_from_words(F.col("_w"), n)).alias("shingle")
    )
    return out.distinct() if distinct else out


def ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
    min_shared: int = 1,
) -> DataFrame:
    """(corpus id, n_shared_ngrams, n_benchmark_docs) for every corpus doc
    sharing ≥ ``min_shared`` distinct word ``n``-grams with any benchmark
    doc. ``n_shared_ngrams`` counts distinct contaminated shingles;
    ``n_benchmark_docs`` counts how many benchmark docs are implicated."""
    # corpus side stays NON-distinct: the final count_distinct dedupes
    # within-doc repeats anyway, and a pre-join distinct would shuffle every
    # corpus shingle — the one plan shape that cannot survive 100 TB. The
    # broadcast probe filters to hits first; only hits reach an exchange.
    corp = _doc_shingles(corpus, text_col, id_col, n, distinct=False)
    bench = _doc_shingles(benchmark, text_col, id_col, n).withColumnRenamed(
        id_col, "_bench_id"
    )
    hits = corp.join(F.broadcast(bench), on="shingle")
    return (
        hits.groupBy(id_col)
        .agg(
            F.count_distinct("shingle").alias("n_shared_ngrams"),
            F.count_distinct("_bench_id").alias("n_benchmark_docs"),
        )
        .filter(F.col("n_shared_ngrams") >= min_shared)
    )


def bloom_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
    m_bits: int = 1 << 14,
    k: int = 3,
    min_shared: int = 1,
) -> DataFrame:
    """Sketch-based contamination screen: the benchmark's n-gram set is
    compressed into a Bloom filter of ``m_bits`` bits with ``k`` hash
    functions, and corpus shingles probe the filter — the scale path when
    even the DISTINCT benchmark shingle table is too wide to broadcast
    (the filter is a fixed ``m_bits`` bits regardless of benchmark size).

    One-sided guarantee, exactly Bloom's: every doc
    :func:`ngram_contamination` flags is flagged here too (NO false
    negatives — a set bit can never be unset); a doc can be flagged
    spuriously when all ``k`` probe positions of one of its shingles
    collide with set bits. Size ``m_bits ≳ 20×`` the benchmark's distinct
    shingle count to keep the doc-level FP count near zero.

    The filter is built RELATIONALLY: position_i(s) = md5("i|" || s) mod
    m, and the "filter" broadcast to the probe side is the distinct
    occupied-position table (≤ k · |bench shingles| ints, ≤ m_bits). A
    byte-array bitset behaves identically; the relational form keeps every
    bit of the FP behavior reproducible cross-engine (md5 is the portable
    hash family used by every sketch in this repo — swap xxhash64 in
    production for speed). A shingle "hits" iff ALL ``k`` positions are
    occupied (count of DISTINCT matched seeds = k; two seeds of the same
    shingle may collide on one position, so seeds are counted, not rows).

    Returns (id, n_bloom_shingles): corpus docs whose bloom-hit shingle
    count ≥ ``min_shared``.
    """
    seeds = list(range(k))

    def positions(col):
        return [
            F.conv(
                F.substring(F.md5(F.concat_ws("|", F.lit(str(s)), col)), 1, 15),
                16,
                10,
            ).cast("long")
            % m_bits
            for s in seeds
        ]

    bench = _doc_shingles(benchmark, text_col, id_col, n)
    bits = (
        bench.select(
            F.explode(F.array(*positions(F.col("shingle")))).alias("bit")
        ).distinct()
    )
    corp = _doc_shingles(corpus, text_col, id_col, n, distinct=False)
    probes = corp.select(
        F.col(id_col),
        "shingle",
        F.posexplode(F.array(*positions(F.col("shingle")))),
    ).select(F.col(id_col), "shingle", F.col("pos").alias("seed"), F.col("col").alias("bit"))
    hits = (
        probes.join(F.broadcast(bits), on="bit")
        .groupBy(id_col, "shingle")
        .agg(F.count_distinct("seed").alias("_k_hit"))
        .filter(F.col("_k_hit") == k)
    )
    return (
        hits.groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_bloom_shingles"))
        .filter(F.col("n_bloom_shingles") >= min_shared)
    )


def cross_source_overlap(
    df: DataFrame,
    text_col: str,
    source_col: str,
    shingle_n: int = 5,
) -> DataFrame:
    """Cross-source leakage matrix: for every unordered pair of corpus
    sources, the number of distinct word ``shingle_n``-grams present in
    BOTH, plus the Jaccard similarity of the two sources' shingle sets.
    The provenance dashboard for a multi-source corpus — a high-overlap
    pair means one feed is mirroring (or scraping) the other, and the
    dedup budget should be spent there first.

    All ``C(n_sources, 2)`` pairs are emitted (zero-overlap pairs
    included) so the matrix shape is independent of what the data happens
    to contain.

    Scale shape: the corpus-sized work is ONE partial-aggregated shuffle
    keyed by the shingle, folding each shingle's sources into a sorted
    set (bounded at ``n_sources`` entries — dashboard-scale — so no
    aggregation buffer ever exceeds it). Each set then explodes
    ROW-LOCALLY into its i<j source pairs plus one unit row per member,
    and partial-aggregates into a single tiny stats table — (a, b,
    n_shared) for pairs, (a, NULL, per-source distinct-shingle count)
    for units. Per-source totals fan onto pairs through a broadcast of
    the 1-row source-universe array, so the final matrix is ONE
    source-pair aggregation left-joined to the universe pair skeleton.

    Two r14 plan properties worth keeping (the previous shape — distinct
    over (source, shingle), a self-join of that cached table on the
    shingle string, and three broadcast builds over the cached table —
    violated both):

    - the expensive corpus lineage appears exactly ONCE in the final
      plan (a single broadcast build). Persisted-or-not, a lineage with
      k consumers is computed by up to k racing cold-cache query stages
      (profiled here: the scan+shingle pass ran 3× per run);
    - no corpus-scale shuffle is ever followed by a low-byte/high-fanout
      stage AQE can coalesce to one partition: the self-join's ~6.6 MB
      shuffle collapsed to a single task that serially rebuilt the whole
      pair matrix (profiled 2.3 s single-task stage inside
      corpus_release_report).
    """
    from scala_etl_test_spark.operators.partitioning import spread

    # the tokenize+shingle explode is the fanout-heavy stage; a small scan
    # (one file ⇒ one task at gate scale) must not serialize it
    sh_sets = (
        spread(df)
        .select(F.col(source_col).alias("_src"), words(text_col).alias("_w"))
        .select("_src", F.explode(shingles_from_words(F.col("_w"), shingle_n)).alias("shingle"))
        .groupBy("shingle")
        .agg(F.array_sort(F.collect_set("_src")).alias("_srcs"))
    )
    null_src = F.lit(None).cast("string")
    units = F.transform(
        F.col("_srcs"), lambda x: F.struct(x.alias("_sa"), null_src.alias("_sb"))
    )
    ij_pairs = F.flatten(
        F.transform(
            F.col("_srcs"),
            lambda x, i: F.transform(
                F.slice(F.col("_srcs"), i + 2, F.size(F.col("_srcs"))),
                lambda y: F.struct(x.alias("_sa"), y.alias("_sb")),
            ),
        )
    )
    stats = (
        sh_sets.select(F.explode(F.concat(units, ij_pairs)).alias("_e"))
        .groupBy(F.col("_e._sa").alias("_sa"), F.col("_e._sb").alias("_sb"))
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    univ = df.select(F.col(source_col).alias("_s")).distinct()
    univ_arr = univ.agg(F.array_sort(F.collect_set("_s")).alias("_all"))
    # one row per (pair, contribution): a unit row (s, NULL, n) fans out to
    # every universe pair containing s, carrying n as that side's
    # distinct-shingle total; a pair row carries its shared count. ONE
    # aggregation then assembles (n_shared, n_a, n_b) per pair.
    unit_fan = F.transform(
        F.filter(F.col("_all"), lambda u: u != F.col("_sa")),
        lambda u: F.struct(
            F.least(F.col("_sa"), u).alias("a"),
            F.greatest(F.col("_sa"), u).alias("b"),
            F.lit(0).cast("long").alias("sh"),
            F.when(F.col("_sa") < u, F.col("_n")).otherwise(F.lit(0)).alias("na"),
            F.when(F.col("_sa") > u, F.col("_n")).otherwise(F.lit(0)).alias("nb"),
        ),
    )
    pair_one = F.array(
        F.struct(
            F.col("_sa").alias("a"),
            F.col("_sb").alias("b"),
            F.col("_n").cast("long").alias("sh"),
            F.lit(0).cast("long").alias("na"),
            F.lit(0).cast("long").alias("nb"),
        )
    )
    counts = (
        stats.join(F.broadcast(univ_arr))
        .select(
            F.explode(
                F.when(F.col("_sb").isNull(), unit_fan).otherwise(pair_one)
            ).alias("_c")
        )
        .groupBy(F.col("_c.a").alias("source_a"), F.col("_c.b").alias("source_b"))
        .agg(
            F.sum("_c.sh").alias("_n_shared"),
            F.sum("_c.na").alias("_na"),
            F.sum("_c.nb").alias("_nb"),
        )
    )
    pairs = (
        univ.select(F.col("_s").alias("source_a"))
        .join(univ.select(F.col("_s").alias("source_b")))
        .filter(F.col("source_a") < F.col("source_b"))
    )
    n_shared = F.coalesce(F.col("_n_shared"), F.lit(0)).cast("long")
    denom = F.coalesce(F.col("_na"), F.lit(0)) + F.coalesce(F.col("_nb"), F.lit(0)) - n_shared
    return (
        pairs.join(F.broadcast(counts), on=["source_a", "source_b"], how="left")
        .select(
            "source_a",
            "source_b",
            n_shared.alias("n_shared_shingles"),
            F.round(
                F.when(denom > 0, n_shared.cast("double") / denom.cast("double")).otherwise(F.lit(0.0)),
                6,
            ).alias("jaccard"),
        )
    )


def split_leakage_audit(
    assignments: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    split_col: str = "split",
) -> DataFrame:
    """Audit a train/val/test assignment against a near-duplicate pair
    list: every pair whose two members landed in DIFFERENT splits leaks
    eval content into training (the model memorizes the train copy and is
    scored on its near-twin). Returns one row per straddled split pair —
    ``(split_a, split_b, n_pairs, n_docs_a, n_docs_b)`` with the split
    names normalized so ``split_a < split_b`` lexicographically and the
    doc counts are distinct members on each side. An empty result is the
    pass condition; :func:`sampling.leakage_safe_split` produces it by
    construction (hash the cluster representative, not the row id).

    Scale shape: the near-dup pair list is tiny relative to the corpus
    (it is dedup output), so the two equi-joins that attach each member's
    split shuffle O(pairs) + O(corpus) once each with AQE free to
    broadcast the pair side; the report aggregation is bounded by
    ``C(n_splits, 2)`` groups. No windows, no cartesians.
    """
    a = assignments.select(F.col(id_col).alias("_la"), F.col(split_col).alias("_sa"))
    b = assignments.select(F.col(id_col).alias("_lb"), F.col(split_col).alias("_sb"))
    straddled = (
        pairs.select("id_a", "id_b")
        .join(a, on=F.col("id_a") == F.col("_la"))
        .join(b, on=F.col("id_b") == F.col("_lb"))
        .filter(F.col("_sa") != F.col("_sb"))
    )
    lo_first = F.col("_sa") < F.col("_sb")
    return (
        straddled.select(
            F.least("_sa", "_sb").alias("split_a"),
            F.greatest("_sa", "_sb").alias("split_b"),
            F.when(lo_first, F.col("id_a")).otherwise(F.col("id_b")).alias("_doc_a"),
            F.when(lo_first, F.col("id_b")).otherwise(F.col("id_a")).alias("_doc_b"),
        )
        .groupBy("split_a", "split_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("_doc_a").alias("n_docs_a"),
            F.countDistinct("_doc_b").alias("n_docs_b"),
        )
    )
