from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from scala_etl_test_spark.operators import dedup as D

DOCS = [
    # exact dup pair (after normalization: case/punct-insensitive)
    (1, "The quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog!!"),
    # near-dup of 1 (one word changed)
    (3, "The quick brown fox jumps over the lazy cat"),
    # unrelated
    (4, "completely different content about spark engines and shuffles"),
    (5, "yet another unrelated document mentioning parquet and arrow"),
    # short doc (< shingle width)
    (6, "tiny doc"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_exact_dedup_normalized(docs):
    out = D.exact_dedup(docs, "text", "doc_id").collect()
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[1]["fingerprint"] == by_id[2]["fingerprint"]
    assert not by_id[1]["is_duplicate"] and by_id[2]["is_duplicate"]
    assert by_id[2]["keep_id"] == 1
    assert by_id[3]["is_duplicate"] is False


def test_minhash_finds_near_dups_not_unrelated(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.minhash_near_duplicates(docs, "text", "doc_id", threshold=0.3).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0  # identical shingle sets
    assert (1, 3) in pairs  # near-dup detected
    assert (4, 5) not in pairs  # unrelated not paired


def test_shingles_short_doc_fallback(spark, docs):
    row = docs.filter(F.col("doc_id") == 6).select(
        D.word_shingles("text", 3).alias("sh")
    ).first()
    assert row["sh"] == ["tiny doc"]


def test_simhash_close_for_near_dups(docs):
    fp = {r["doc_id"]: r["simhash"] for r in D.simhash(docs, "text", "doc_id").collect()}
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    assert ham(fp[1], fp[2]) == 0  # same token set
    assert ham(fp[1], fp[3]) < ham(fp[1], fp[4])  # near-dup closer than unrelated


def test_jaccard_pairs_exact_values(spark, docs):
    pairs = spark.createDataFrame([(1, 3)], ["id_a", "id_b"])
    out = D.jaccard_for_pairs(pairs, docs, "text", "doc_id").collect()
    # 9-word docs, 7 shingles each, differ in last word -> 6 common of 8 union
    assert len(out) == 1
    assert out[0]["jaccard"] == pytest.approx(6 / 8)


def test_lsh_bucket_cap_drops_hot_buckets(spark):
    # 20 identical docs -> one bucket of 20; cap at 10 must drop all pairs
    many = spark.createDataFrame([(i, "same text everywhere here now") for i in range(20)], ["doc_id", "text"])
    sigs = D.minhash_signatures(many, "text", "doc_id")
    bands = D.lsh_bands(sigs, "doc_id")
    assert D.lsh_candidate_pairs(bands, "doc_id", max_bucket=10).count() == 0
    assert D.lsh_candidate_pairs(bands, "doc_id", max_bucket=100).count() == 20 * 19 / 2


def test_simhash_banded_equals_direct(spark, docs):
    from scala_etl_test_spark.operators.dedup import simhash, simhash_pairs, simhash_pairs_banded

    fp = simhash(docs, "text", "doc_id")
    direct = {tuple(r) for r in simhash_pairs(fp, "doc_id", max_hamming=6).collect()}
    banded = {tuple(r) for r in simhash_pairs_banded(fp, "doc_id", max_hamming=6).collect()}
    assert banded == direct


def test_incremental_dedup_matches_full_run(spark, sf_dir):
    """Splitting the corpus into (index, batch) and deduping the batch
    against the pre-built index must produce EXACTLY the full-run pairs
    that involve a batch id — index reuse cannot change the answer."""
    from pyspark.sql import functions as F

    from scala_etl_test_spark.operators.dedup import (
        build_minhash_index,
        incremental_near_duplicates,
        minhash_near_duplicates,
    )
    from scala_etl_test_spark.sources.parquet_source import read_table

    docs = read_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)

    kw = dict(num_hashes=16, bands=4, rows=4, shingle_n=3)
    shingles, bands_t = build_minhash_index(corpus, "text", "doc_id", **kw)
    got = {
        (r["id_a"], r["id_b"])
        for r in incremental_near_duplicates(
            batch, shingles, bands_t, "text", "doc_id", threshold=0.2, **kw
        ).collect()
    }

    full = minhash_near_duplicates(docs, "text", "doc_id", threshold=0.2, **kw)
    want = {
        (r["id_a"], r["id_b"])
        for r in full.collect()
        if r["id_a"] % 5 == 0 or r["id_b"] % 5 == 0
    }
    assert got == want
    assert got  # fixture must actually exercise cross-batch pairs


def test_build_vocab_partition_invariant(spark, sf_dir):
    """Vocabulary ids must be identical regardless of input partitioning
    (deterministic (occurrences DESC, word ASC) total order)."""
    from scala_etl_test_spark.operators.text import build_vocab
    from scala_etl_test_spark.sources.parquet_source import read_table

    docs = read_table(spark, sf_dir, "documents")
    v1 = {r["word"]: r["vocab_id"] for r in build_vocab(docs, "text", min_count=2, id_col="doc_id").collect()}
    v2 = {
        r["word"]: r["vocab_id"]
        for r in build_vocab(docs.repartition(13), "text", min_count=2, id_col="doc_id").collect()
    }
    assert v1 == v2 and len(v1) > 20


class TestPrefixJaccardJoin:
    def _docs(self, spark):
        base = "the quick brown fox jumps over the lazy dog again and again"
        rows = [
            (0, base),
            (1, base + " tail"),                      # near-dup of 0
            (2, "completely different words in this one entirely"),
            (3, base.replace("quick", "slow")),       # moderate overlap
            (4, "the quick brown fox jumps over the lazy dog again and again"),  # exact dup of 0
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def _brute(self, spark, df, t, n=3):
        from scala_etl_test_spark.operators.dedup import (
            jaccard_for_pairs,
            shingle_table,
        )
        from pyspark.sql import functions as F

        ids = [r["doc_id"] for r in df.select("doc_id").collect()]
        pairs = spark.createDataFrame(
            [(a, b) for a in ids for b in ids if a < b], "id_a long, id_b long"
        )
        sh = shingle_table(df, "text", "doc_id", n)
        return {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in jaccard_for_pairs(pairs, df, "text", "doc_id", n, shingles=sh)
            .filter(F.col("jaccard") >= t)
            .collect()
        }

    def test_exactness_vs_brute_force(self, spark):
        from scala_etl_test_spark.operators.dedup import prefix_jaccard_join

        df = self._docs(spark)
        for t in (0.25, 0.5, 0.75):
            got = {
                (r["id_a"], r["id_b"]): r["jaccard"]
                for r in prefix_jaccard_join(df, "text", "doc_id", t).collect()
            }
            assert got == self._brute(spark, df, t), t

    def test_exact_dup_has_jaccard_one(self, spark):
        from scala_etl_test_spark.operators.dedup import prefix_jaccard_join

        got = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in prefix_jaccard_join(self._docs(spark), "text", "doc_id", 0.5).collect()
        }
        assert got[(0, 4)] == 1.0

    def test_prefix_candidates_prune_vs_full_index(self, spark, sf_dir):
        """The rare-first prefix index must generate fewer candidate pairs
        than the full inverted index (the whole point of the filter)."""
        from scala_etl_test_spark.operators.dedup import shingle_table
        from pyspark.sql import functions as F

        from scala_etl_test_spark.sources.parquet_source import read_table

        docs = read_table(spark, sf_dir, "documents")
        sh = shingle_table(docs, "text", "doc_id", 3)
        full = (
            sh.select(F.col("doc_id").alias("id_a"), "sh_h")
            .join(sh.select(F.col("doc_id").alias("id_b"), "sh_h"), on="sh_h")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
            .count()
        )
        # rebuild the prefix candidate set exactly as the operator does
        freq = sh.groupBy("sh_h").agg(F.count(F.lit(1)).alias("_freq"))
        per_doc = (
            sh.join(freq, on="sh_h")
            .groupBy("doc_id")
            .agg(F.array_sort(F.collect_list(F.struct("_freq", "sh_h"))).alias("_s"))
        )
        plen = (F.size("_s") - F.ceil(F.lit(0.5) * F.size("_s")) + 1).cast("int")
        pref = per_doc.select(
            "doc_id", F.explode(F.slice("_s", 1, plen)).alias("_p")
        ).select("doc_id", F.col("_p.sh_h").alias("sh_h"))
        cand = (
            pref.select(F.col("doc_id").alias("id_a"), "sh_h")
            .join(pref.select(F.col("doc_id").alias("id_b"), "sh_h"), on="sh_h")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
            .count()
        )
        assert cand < full

    def test_ppjoin_filters_lossless_on_random_corpus(self, spark):
        """Randomized losslessness gate for the full AllPairs/PPJoin filter
        stack (index prefix, canonical order, length filter, positional
        filter): a seeded corpus drawn from a tiny vocabulary maximizes
        moderate-overlap pairs — the regime where an over-tight filter
        would drop a qualifying pair — and the result must still equal
        brute force at every threshold."""
        import random

        rng = random.Random(2026)
        vocab = [f"w{i}" for i in range(12)]
        rows = []
        for i in range(48):
            length = rng.randint(4, 24)  # wide size spread → length filter active
            rows.append((i, " ".join(rng.choice(vocab) for _ in range(length))))
        # planted families: exact dup, suffix extension, single-word edit
        base = " ".join(rng.choice(vocab) for _ in range(15))
        rows += [(100, base), (101, base), (102, base + " w0 w1"),
                 (103, base.replace("w0", "w9", 1))]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        from scala_etl_test_spark.operators.dedup import prefix_jaccard_join

        for t in (0.25, 0.5, 0.75):
            got = {
                (r["id_a"], r["id_b"]): r["jaccard"]
                for r in prefix_jaccard_join(df, "text", "doc_id", t).collect()
            }
            assert got == self._brute(spark, df, t), t


def test_length_banded_pairs_equals_bruteforce(spark):
    """The bucket equi-join must yield EXACTLY the brute-force band pairs
    (each exactly once), across bucket boundaries and block keys."""
    import random

    from scala_etl_test_spark.operators.dedup import length_banded_pairs

    rng = random.Random(7)
    rows = [(i, rng.choice(["en", "de"]), rng.randint(0, 400)) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_chars long")
    for band in (0, 1, 30, 61):
        got = {
            (r["id_a"], r["id_b"])
            for r in length_banded_pairs(df, "doc_id", ["lang"], "n_chars", band).collect()
        }
        want = {
            (a_id, b_id)
            for a_id, a_lang, a_len in rows
            for b_id, b_lang, b_len in rows
            if a_id < b_id and a_lang == b_lang and abs(a_len - b_len) <= band
        }
        assert got == want, band
        # exactly-once: collect WITHOUT the set to catch double emission
        n_rows = length_banded_pairs(df, "doc_id", ["lang"], "n_chars", band).count()
        assert n_rows == len(want), band


def test_pair_overlap_rowlocal_matches_shuffle_twin(spark):
    """_pair_overlap_rowlocal must agree with _pair_overlap row for row,
    for both keep_zero_overlap settings (same columns, same values)."""
    from scala_etl_test_spark.operators.dedup import (
        _pair_overlap,
        _pair_overlap_rowlocal,
        shingle_table,
    )

    docs = spark.createDataFrame(
        [
            (0, "a b c d e f g"),
            (1, "a b c d e f g h"),
            (2, "x y z w v u t"),
            (3, "completely different text here now"),
        ],
        "doc_id long, text string",
    )
    sh = shingle_table(docs, "text", "doc_id", 3)
    pairs = spark.createDataFrame(
        [(0, 1), (0, 2), (2, 3), (1, 3)], "id_a long, id_b long"
    )
    for kz in (False, True):
        a = {
            (r["id_a"], r["id_b"]): (r["n_common"], r["size_a"], r["size_b"])
            for r in _pair_overlap(pairs, sh, "doc_id", kz).collect()
        }
        b = {
            (r["id_a"], r["id_b"]): (r["n_common"], r["size_a"], r["size_b"])
            for r in _pair_overlap_rowlocal(pairs, sh, "doc_id", kz).collect()
        }
        assert a == b, kz
    # the zero-overlap pair is present only on request
    assert (0, 2) not in {
        (r["id_a"], r["id_b"])
        for r in _pair_overlap_rowlocal(pairs, sh, "doc_id", False).collect()
    }


def test_zero_overlap_pairs_kept_on_request(spark):
    from scala_etl_test_spark.operators.dedup import jaccard_for_pairs

    docs = spark.createDataFrame(
        [(0, "alpha beta gamma delta"), (1, "epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame([(0, 1)], "id_a long, id_b long")
    # default: disjoint pair absent
    assert jaccard_for_pairs(pairs, docs, "text", "doc_id").count() == 0
    # opt-in: explicit zero row
    rows = jaccard_for_pairs(
        pairs, docs, "text", "doc_id", keep_zero_overlap=True
    ).collect()
    assert [(r["id_a"], r["id_b"], r["jaccard"]) for r in rows] == [(0, 1, 0.0)]


class TestSortedNeighborhood:
    def test_prefix_sharing_dups_found_distant_prefixes_missed(self, spark):
        from scala_etl_test_spark.operators.dedup import sorted_neighborhood_pairs

        base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        rows = [
            (0, base),
            (1, base + " tail"),                  # same prefix -> adjacent in sort
            (2, "zz " + base),                    # same CONTENT, different prefix
            (3, "unrelated words entirely here today friends"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            (r["id_a"], r["id_b"])
            for r in sorted_neighborhood_pairs(df, "text", "doc_id", window=1).collect()
        }
        assert (0, 1) in got
        # window=1 with doc 2 sorting far away ('zz...'): the high-jaccard
        # (0,2)/(1,2) pairs are OUT of the neighborhood -> by-design miss
        assert (0, 2) not in got

    def test_wide_window_recovers_all_pairs(self, spark, sf_dir):
        """With window >= n-1 SNM degenerates to all-pairs: result equals
        the exact prefix-filter join at the same threshold."""
        from scala_etl_test_spark.operators.dedup import (
            prefix_jaccard_join,
            sorted_neighborhood_pairs,
        )
        from scala_etl_test_spark.sources.parquet_source import read_table

        docs = read_table(spark, sf_dir, "documents")
        n = docs.count()
        snm = {
            (r["id_a"], r["id_b"])
            for r in sorted_neighborhood_pairs(
                docs, "text", "doc_id", window=n
            ).collect()
        }
        exact = {
            (r["id_a"], r["id_b"])
            for r in prefix_jaccard_join(docs, "text", "doc_id", 0.5).collect()
        }
        assert snm == exact


class TestEditDistancePairs:
    def _df(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_finds_pairs_within_k_and_excludes_beyond(self, spark):
        from scala_etl_test_spark.operators.dedup import edit_distance_pairs

        base = "the quick brown fox jumps over the lazy dog again and again"
        rows = [
            (1, base),
            (2, base.replace("quick", "quack")),          # 1 substitution
            (3, base + " more"),                          # 5 inserts -> beyond k=4
            (4, base.replace("brown", "blown")),          # 1 substitution
            (5, "completely different content about spark shuffles and joins"),
        ]
        got = {
            (r["id_a"], r["id_b"]): r["dist"]
            for r in edit_distance_pairs(self._df(spark, rows), "text", "doc_id").collect()
        }
        assert got[(1, 2)] == 1 and got[(1, 4)] == 1 and got[(2, 4)] == 2
        assert (1, 3) not in got and (1, 5) not in got

    def test_matches_bruteforce_reference(self, spark):
        """Blocked plan == unblocked python Levenshtein on normalized text."""
        from scala_etl_test_spark.operators.dedup import edit_distance_pairs

        def lev(a, b):
            prev = list(range(len(b) + 1))
            for i, ca in enumerate(a, 1):
                cur = [i]
                for j, cb in enumerate(b, 1):
                    cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
                prev = cur
            return prev[-1]

        import re

        texts = [
            "alpha beta gamma delta epsilon zeta",
            "alpha beta gamma delta epsilon zetas",
            "alpha beta gamma delta epsilon",
            "Alpha, beta; GAMMA delta epsilon zeta!",  # normalizes to row 0
            "totally unrelated words here friend",
            "totally unrelated words here friends",
        ]
        rows = [(i, t) for i, t in enumerate(texts)]
        norm = [re.sub(r"[^a-z0-9]+", " ", t.lower()).strip() for t in texts]
        want = {
            (i, j): lev(norm[i], norm[j])
            for i in range(len(norm))
            for j in range(i + 1, len(norm))
            if lev(norm[i], norm[j]) <= 4
        }
        got = {
            (r["id_a"], r["id_b"]): r["dist"]
            for r in edit_distance_pairs(self._df(spark, rows), "text", "doc_id").collect()
        }
        assert got == want

    def test_each_pair_emitted_once(self, spark):
        from scala_etl_test_spark.operators.dedup import edit_distance_pairs

        rows = [(i, "same length text block number %d here" % i) for i in range(6)]
        out = edit_distance_pairs(self._df(spark, rows), "text", "doc_id").collect()
        pairs = [(r["id_a"], r["id_b"]) for r in out]
        assert len(pairs) == len(set(pairs))
        assert all(a < b for a, b in pairs)

    def test_short_docs_excluded(self, spark):
        from scala_etl_test_spark.operators.dedup import edit_distance_pairs

        rows = [(1, "abc"), (2, "abd"), (3, "abcde"), (4, "abcdf")]
        got = {
            (r["id_a"], r["id_b"]) for r in
            edit_distance_pairs(self._df(spark, rows), "text", "doc_id").collect()
        }
        # len-3 docs are below the k+1=5 floor; len-5 docs participate
        assert got == {(3, 4)}


def test_simhash_pairs_auto_switches_to_banded_above_threshold(spark):
    # VERDICT r4 item 6: the all-pairs form must not reach a large table —
    # above max_rows it silently takes the banded plan (identical rows).
    from scala_etl_test_spark.operators.dedup import simhash_pairs

    fp = spark.range(50).select(
        F.col("id").alias("doc_id"), (F.col("id") * 7).alias("simhash")
    )
    guarded = simhash_pairs(fp, "doc_id", max_hamming=2, max_rows=10)
    # banded plan joins on chunk equality - no cartesian product node
    plan = guarded._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    direct = simhash_pairs(fp, "doc_id", max_hamming=2, max_rows=0)
    assert {tuple(r) for r in guarded.collect()} == {
        tuple(r) for r in direct.collect()
    }


def test_pair_overlap_twins_agree_on_distinct_pairs(spark):
    # the documented precondition: on DISTINCT candidate pairs the shuffled
    # groupBy twin and the row-local array_intersect twin are row-identical
    from pyspark.sql import functions as F

    from scala_etl_test_spark.operators.dedup import (
        _pair_overlap,
        _pair_overlap_rowlocal,
        shingle_table,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over a sleeping dog"),
            (3, "completely different words entirely here now"),
        ],
        "doc_id long, text string",
    )
    sh = shingle_table(docs, "text", "doc_id", 3)
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3)], "id_a long, id_b long"
    )
    cols = ["id_a", "id_b", "n_common", "size_a", "size_b"]
    for keep in (False, True):
        a = sorted(
            tuple(r) for r in _pair_overlap(pairs, sh, "doc_id", keep).select(cols).collect()
        )
        b = sorted(
            tuple(r) for r in _pair_overlap_rowlocal(pairs, sh, "doc_id", keep).select(cols).collect()
        )
        assert a == b, keep


def test_simhash_pairs_guard_persists_fingerprints(spark, docs):
    # ADVICE r5: the guard count used to execute an unpersisted fingerprint
    # plan once for the guard and again on consumption. The guard now
    # persists first (released via release_persisted), and the returned plan
    # must read the cache, not recompute the 60-agg groupBy.
    from scala_etl_test_spark.caching import release_persisted

    release_persisted()
    fps = D.simhash(docs, "text", "doc_id")
    out = D.simhash_pairs(fps, "doc_id", max_hamming=20)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan, plan
    assert out.count() >= 1  # consumable after the guard
    assert release_persisted() >= 1  # the guard's persist is registry-tracked
    # max_rows=0 disables the guard entirely: lazy, no persist
    lazy = D.simhash_pairs(D.simhash(docs, "text", "doc_id"), "doc_id", max_rows=0)
    assert "InMemoryTableScan" not in lazy._jdf.queryExecution().executedPlan().toString()
    assert release_persisted() == 0


def test_hash_flag_xxhash64_parity(spark, docs, monkeypatch):
    # SPARK_GRAFT_HASH=xxhash64 swaps the content hash family for production
    # (VERDICT r5 item 8). The swap contract a hash family CAN promise:
    # - identical shingle sets ⇒ identical signatures under ANY family, so
    #   exact-dup recall is guaranteed: at a threshold only exact dups meet,
    #   both families return the same verified set;
    # - verification is exact Jaccard, so there are NEVER false positives —
    #   every verified pair matches the brute-force all-pairs answer;
    # - what is NOT promised (and not asserted): which sub-1.0-jaccard pairs
    #   survive banding — LSH recall there is probabilistic by design and
    #   differs pair-by-pair between families.
    def verified_pairs(threshold):
        out = D.minhash_near_duplicates(
            docs, "text", "doc_id", num_hashes=16, bands=4, rows=4, threshold=threshold
        )
        rows = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out.collect()}
        from scala_etl_test_spark.caching import release_persisted

        release_persisted()
        spark.catalog.clearCache()
        return rows

    def brute_pairs(threshold):
        ids = [r[0] for r in docs.select("doc_id").collect()]
        all_pairs = spark.createDataFrame(
            [(a, b) for a in ids for b in ids if a < b], "id_a long, id_b long"
        )
        verified = D.jaccard_for_pairs(all_pairs, docs, "text", "doc_id")
        return {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in verified.collect()
            if r["jaccard"] >= threshold
        }

    monkeypatch.delenv("SPARK_GRAFT_HASH", raising=False)
    md5_exact = verified_pairs(0.95)
    monkeypatch.setenv("SPARK_GRAFT_HASH", "xxhash64")
    xx_exact = verified_pairs(0.95)
    assert md5_exact == xx_exact and set(xx_exact) == {(1, 2)}
    # no false positives at a looser threshold: everything found is a true
    # pair — a subset of the brute-force all-pairs verification
    xx_loose = verified_pairs(0.5)
    assert (1, 2) in xx_loose
    assert set(xx_loose) <= set(brute_pairs(0.5))
    # 60-bit non-negative contract: downstream a*(h%P)+b must stay in int64
    hvals = [
        r["h"]
        for r in docs.select(D.content_hash64(F.col("text")).alias("h")).collect()
    ]
    assert all(0 <= h < (1 << 60) for h in hvals)


def test_hash_family_mismatch_tripwire(spark, docs, tmp_path, monkeypatch):
    # An LSH index built under one SPARK_GRAFT_HASH family and probed under
    # the other joins on disjoint hash spaces — zero new-vs-corpus matches,
    # silently. The family stamp must survive a parquet round-trip and make
    # the probe raise instead.
    monkeypatch.delenv("SPARK_GRAFT_HASH", raising=False)
    corpus = docs.filter(F.col("doc_id") != 2)  # index side
    batch = docs.filter(F.col("doc_id") == 2)  # new ingest: exact dup of 1
    shingles, bands = D.build_minhash_index(corpus, "text", "doc_id")
    sh_path, bd_path = str(tmp_path / "sh"), str(tmp_path / "bd")
    shingles.write.mode("overwrite").parquet(sh_path)
    bands.write.mode("overwrite").parquet(bd_path)
    loaded_sh = spark.read.parquet(sh_path)
    loaded_bd = spark.read.parquet(bd_path)
    assert loaded_sh.schema["sh_h"].metadata.get("spark_graft_hash_family") == "md5"
    assert loaded_bd.schema["band_hash"].metadata.get("spark_graft_hash_family") == "md5"

    monkeypatch.setenv("SPARK_GRAFT_HASH", "xxhash64")
    with pytest.raises(ValueError, match="SPARK_GRAFT_HASH=md5"):
        D.incremental_near_duplicates(batch, loaded_sh, loaded_bd, "text", "doc_id")

    # matching family probes fine (md5 vs md5) and finds the cross-set dup
    monkeypatch.delenv("SPARK_GRAFT_HASH", raising=False)
    out = D.incremental_near_duplicates(batch, loaded_sh, loaded_bd, "text", "doc_id", threshold=0.3)
    assert (1, 2) in {(r["id_a"], r["id_b"]) for r in out.collect()}
    from scala_etl_test_spark.caching import release_persisted

    release_persisted()
    spark.catalog.clearCache()


def test_hash_flag_spans_winnow_parity(spark, monkeypatch):
    # The flag also covers the spans k-gram seeds and winnowing grams: span
    # boundaries and selected-fingerprint POSITIONS depend only on hash
    # EQUALITY (and, for winnowing, within-window ordering), so duplicated
    # spans are identical across families on the fixture corpus and the
    # winnow overlap pairs keep their exact-dup recall.
    from scala_etl_test_spark.operators.spans import duplicate_spans
    from scala_etl_test_spark.operators.text import winnow_fingerprints

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, base + " one two three four five six seven eight nine ten"),
        (2, base + " unrelated tail words here completely different ones now ok"),
        (3, "nothing in common with the others at all in this row friend"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def spans_rows():
        out = duplicate_spans(df, "text", "doc_id", k=4)
        res = {tuple(r) for r in out.collect()}
        from scala_etl_test_spark.caching import release_persisted

        release_persisted()
        spark.catalog.clearCache()
        return res

    monkeypatch.delenv("SPARK_GRAFT_HASH", raising=False)
    md5_spans = spans_rows()
    monkeypatch.setenv("SPARK_GRAFT_HASH", "xxhash64")
    xx_spans = spans_rows()
    assert md5_spans == xx_spans and md5_spans  # same spans, and some exist
    # winnowing emits fingerprints for every long-enough doc in both modes
    assert winnow_fingerprints(df, "text", "doc_id", k=4, w=4).groupBy("doc_id").count().count() == 3


@pytest.mark.parametrize("pieces", [1, 2, 3])
@pytest.mark.parametrize("max_hamming", [2, 4])
def test_simhash_multi_piece_banding_equals_direct(spark, docs, pieces, max_hamming):
    # Manku-style multi-piece blocking: with m = h + q chunks, any pair
    # within hamming h agrees exactly on >= q whole chunks, so joining on
    # every q-combination has 100% recall for EVERY q — identical rows to
    # the brute-force direct join.
    fp = D.simhash(docs, "text", "doc_id")
    direct = {tuple(r) for r in D.simhash_pairs(fp, "doc_id", max_hamming, max_rows=0).collect()}
    banded = {
        tuple(r)
        for r in D.simhash_pairs_banded(fp, "doc_id", max_hamming, pieces=pieces).collect()
    }
    assert banded == direct


def test_simhash_pieces_sizing():
    # q=1 only while the single-chunk space covers the corpus; decade-spaced
    # growth after that. h=4 -> 12-bit chunks: 4096-value space.
    assert D.simhash_pieces_for(100, 4) == 1
    assert D.simhash_pieces_for(5_000, 4) == 2  # 8n > 4096 -> 20-bit keys
    assert D.simhash_pieces_for(500_000, 4) == 3  # 8n > 2^20 -> 24-bit keys
    # beyond key-space reach the search saturates at the fanout cap
    # instead of looping: h=4 allows q up to 4 (C(8,4)=70 <= 100)
    assert D.simhash_pieces_for(10**18, 4) == 4
    layout = D._chunk_layout(7)
    assert sum(w for _, w in layout) == D.SIMHASH_BITS
    assert [o for o, _ in layout] == sorted({o for o, _ in layout})


def test_simhash_banded_plan_has_no_cartesian_at_any_pieces(spark, docs):
    fp = D.simhash(docs, "text", "doc_id")
    for q in (1, 2, 3):
        plan = D.simhash_pairs_banded(fp, "doc_id", 4, pieces=q)._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan and "NestedLoop" not in plan, q


class TestPairRecallReport:
    """pair_recall_report: per-band recall of an approximate pair finder
    against exact ground truth (band = floor(score/width), top band closed)."""

    def _report(self, spark, true_rows, found_rows, **kw):
        from scala_etl_test_spark.operators.dedup import pair_recall_report

        t = spark.createDataFrame(true_rows, "id_a long, id_b long, jaccard double")
        f = spark.createDataFrame(found_rows, "id_a long, id_b long")
        return {
            r["band"]: (r["n_true"], r["n_found"], r["recall"])
            for r in pair_recall_report(t, f, **kw).collect()
        }

    def test_bands_and_recall(self, spark):
        true_rows = [(1, 2, 0.25), (3, 4, 0.55), (5, 6, 0.85), (7, 8, 1.0)]
        found_rows = [(3, 4), (7, 8)]
        got = self._report(spark, true_rows, found_rows)
        # jaccard 1.0 clamps into the top band (4) alongside 0.85
        assert got == {1: (1, 0, 0.0), 2: (1, 1, 1.0), 4: (2, 1, 0.5)}

    def test_found_only_pairs_ignored(self, spark):
        """Pairs the finder reports that are NOT in the ground truth (e.g.
        below-threshold verifications) never inflate recall."""
        got = self._report(spark, [(1, 2, 0.9)], [(1, 2), (9, 9)])
        assert got == {4: (1, 1, 1.0)}

    def test_custom_band_width(self, spark):
        got = self._report(spark, [(1, 2, 0.3), (3, 4, 0.9)], [(3, 4)], band_width=0.25)
        assert got == {1: (1, 0, 0.0), 3: (1, 1, 1.0)}

    def test_duplicate_found_pairs_not_double_counted(self, spark):
        """A finder emitting the same pair twice must not fan out the true
        row (recall must stay <= 1 and n_true must stay the true count)."""
        got = self._report(spark, [(1, 2, 0.9)], [(1, 2), (1, 2)])
        assert got == {4: (1, 1, 1.0)}

    def test_randomized_vs_python_reference(self, spark):
        """Seeded-random cross-check against an independent Python
        reference: banding (incl. the closed top band), per-band counts,
        and recall arithmetic."""
        import math
        import random

        from scala_etl_test_spark.operators.dedup import pair_recall_report

        rng = random.Random(911)
        for _ in range(3):
            true_rows = [
                (2 * i, 2 * i + 1, round(rng.uniform(0.2, 1.0), 4)) for i in range(30)
            ]
            found_rows = [(a, b) for a, b, _ in true_rows if rng.random() < 0.6]
            ref: dict[int, list[int]] = {}
            for a, b, j in true_rows:
                band = min(math.floor(j * 5.0), 4)
                e = ref.setdefault(band, [0, 0])
                e[0] += 1
                e[1] += int((a, b) in set(found_rows))
            want = {
                band: (t, f, round(f / t, 6)) for band, (t, f) in ref.items()
            }
            got = self._report(spark, true_rows, found_rows)
            assert got == want


def test_lsh_recall_audit_stratum_knob(spark, sf_dir):
    """The stratum is a parameter (VERDICT r9 item 7): a run at a narrower
    stratum stays well-formed, records its own stratum in every report row
    (self-describing at any p), and audits fewer true pairs — the truth
    side is quadratic in the stratum BY DESIGN."""
    from scala_etl_test_spark.plans.queries_data import q_lsh_recall_audit

    default = q_lsh_recall_audit(spark, sf_dir).collect()
    narrow = q_lsh_recall_audit(spark, sf_dir, stratum_keep=3, stratum_mod=10).collect()
    assert {r["stratum"] for r in default} == {0.6}
    assert {r["stratum"] for r in narrow} == {0.3}
    for rows in (default, narrow):
        for r in rows:
            assert 0 <= r["n_found"] <= r["n_true"]
            assert 0.0 <= r["recall"] <= 1.0
    assert sum(r["n_true"] for r in narrow) < sum(r["n_true"] for r in default)
