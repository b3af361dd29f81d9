"""Property tests.

Pure-Python kernels get hypothesis (cheap, hundreds of examples); the
iterative Spark algorithms get seeded-random cross-checks against an
independent Python reference (union-find) — a handful of examples, since
each costs real Spark rounds.
"""

from __future__ import annotations

import random

from hypothesis import given, settings, strategies as st

from scala_etl_test_spark.operators.multimodal import byte_histogram_features


@given(st.binary(min_size=0, max_size=2048), st.sampled_from([4, 16, 64, 256]))
@settings(max_examples=200, deadline=None)
def test_byte_histogram_is_a_normalized_histogram(payload, bins):
    feats = byte_histogram_features(payload, bins)
    assert len(feats) == bins
    assert all(f >= 0 for f in feats)
    if payload:
        assert abs(sum(feats) - 1.0) < 1e-9
        # vectorized result must equal the per-byte reference definition
        ref = [0] * bins
        for b in payload:
            ref[b * bins // 256] += 1
        assert feats == [c / len(payload) for c in ref]
    else:
        assert feats == [0.0] * bins


def _union_find_components(n_nodes, edges):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    # component label = min node id reachable; only nodes appearing in edges
    touched = {x for e in edges for x in e if e[0] != e[1]}
    comp = {}
    for x in touched:
        root = find(x)
        comp.setdefault(root, []).append(x)
    return {
        (node, min(members)) for members in comp.values() for node in members
    }


def test_cc_variants_match_union_find_on_random_graphs(spark):
    """Connected components and the erasure-closure BFS must match an
    independent union-find on seeded random graphs (sparse, dense, and
    multi-component): the BFS from a seed set reaches exactly the
    members of the seeds' components."""
    from scala_etl_test_spark.operators.cluster import (
        connected_components,
        forget_closure_ids,
    )

    rng = random.Random(0)
    for n_nodes, n_edges in [(12, 6), (16, 20), (30, 12)]:
        edges = [
            (rng.randrange(n_nodes), rng.randrange(n_nodes)) for _ in range(n_edges)
        ]
        edges = [e for e in edges if e[0] != e[1]]
        want = _union_find_components(n_nodes, edges)
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        got_prop = {
            (r["node"], r["component"])
            for r in connected_components(df, max_rounds=40).collect()
        }
        assert got_prop == want, (edges, got_prop, want)

        comp_of = dict(want)
        seeds = {min(comp_of), max(comp_of)}
        want_closure = {n for n, c in want if c in {comp_of[s] for s in seeds}}
        optout = spark.createDataFrame([(s,) for s in seeds], "doc_id long")
        got_closure = {r["doc_id"] for r in forget_closure_ids(optout, df).collect()}
        assert got_closure == want_closure, (edges, seeds, got_closure)


def _ref_duplicate_spans(docs: dict[int, list[str]], k: int, min_count: int = 2):
    """Brute-force reference: count every k-gram occurrence corpus-wide,
    mark duplicated seed positions, merge consecutive positions, emit
    (doc, start, end) covering [start .. island_end + k - 1]."""
    from collections import Counter

    grams = Counter()
    for w in docs.values():
        for i in range(len(w) - k + 1):
            grams[tuple(w[i : i + k])] += 1
    out = set()
    for doc_id, w in docs.items():
        dup = [i for i in range(len(w) - k + 1) if grams[tuple(w[i : i + k])] >= min_count]
        i = 0
        while i < len(dup):
            j = i
            while j + 1 < len(dup) and dup[j + 1] == dup[j] + 1:
                j += 1
            out.add((doc_id, dup[i], dup[j] + k - 1))
            i = j + 1
    return out


def test_duplicate_spans_match_python_reference_on_random_corpora(spark):
    """Seeded-random cross-check: tiny vocab forces heavy k-gram sharing,
    so islands, overlaps, and in-doc repeats all occur; the Spark result
    must equal the brute-force reference exactly."""
    from scala_etl_test_spark.operators.spans import duplicate_spans

    rng = random.Random(7)
    for trial in range(4):
        vocab = [f"t{i}" for i in range(rng.randint(3, 6))]
        docs = {
            d: [rng.choice(vocab) for _ in range(rng.randint(0, 30))]
            for d in range(rng.randint(2, 12))
        }
        k = rng.choice([2, 3, 4])
        want = _ref_duplicate_spans(docs, k)
        df = spark.createDataFrame(
            [(d, " ".join(w)) for d, w in docs.items()], "doc_id long, text string"
        )
        got = {
            (r["doc_id"], r["span_start"], r["span_end"])
            for r in duplicate_spans(df, k=k).collect()
        }
        assert got == want, (trial, k, sorted(got) != sorted(want))


class TestRound4Properties:
    def test_edit_distance_blocked_equals_bruteforce_random(self, spark):
        """Seeded-random corpora: the length-band + pigeonhole plan finds
        EXACTLY the brute-force Levenshtein-<=k pair set (the filters'
        no-false-negative claim, stress-tested beyond the unit cases)."""
        import re

        from scala_etl_test_spark.operators.dedup import edit_distance_pairs

        def lev(a, b):
            prev = list(range(len(b) + 1))
            for i, ca in enumerate(a, 1):
                cur = [i]
                for j, cb in enumerate(b, 1):
                    cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
                prev = cur
            return prev[-1]

        rng = random.Random(421)
        words = ["alpha", "beta", "gamma", "delta", "omega", "zeta", "kappa"]
        base_docs = [
            " ".join(rng.choices(words, k=rng.randint(3, 8))) for _ in range(12)
        ]
        # edited variants: substitutions, deletes, inserts at random offsets
        docs = list(base_docs)
        for d in base_docs[:6]:
            chars = list(d)
            for _ in range(rng.randint(1, 5)):
                op = rng.choice("sdi")
                pos = rng.randrange(len(chars)) if chars else 0
                if op == "s" and chars:
                    chars[pos] = rng.choice("abcdefgh ")
                elif op == "d" and chars:
                    del chars[pos]
                else:
                    chars.insert(pos, rng.choice("abcdefgh "))
            docs.append("".join(chars))
        rows = [(i, t) for i, t in enumerate(docs)]
        norm = [re.sub(r"[^a-z0-9]+", " ", t.lower()).strip() for t in docs]
        want = {
            (i, j): lev(norm[i], norm[j])
            for i in range(len(norm))
            for j in range(i + 1, len(norm))
            if len(norm[i]) >= 5 and len(norm[j]) >= 5
            and lev(norm[i], norm[j]) <= 4
        }
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            (r["id_a"], r["id_b"]): r["dist"]
            for r in edit_distance_pairs(df, "text", "doc_id").collect()
        }
        assert got == want
        assert want  # the fixture must actually contain close pairs

    def test_checksum_permutation_invariant_random(self, spark):
        """Any permutation + any partitioning of the same multiset of rows
        checksums identically; dropping one row never does."""
        from scala_etl_test_spark.operators.integrity import table_checksum

        rng = random.Random(77)
        rows = [(rng.randrange(10), f"s{rng.randrange(5)}") for _ in range(300)]
        perm = rows[:]
        rng.shuffle(perm)
        df1 = spark.createDataFrame(rows, "a long, s string").repartition(3)
        df2 = spark.createDataFrame(perm, "a long, s string").repartition(11, "s")
        df3 = spark.createDataFrame(rows[1:], "a long, s string")
        cs = lambda d: tuple(table_checksum(d, ["a", "s"]).collect()[0])  # noqa: E731
        assert cs(df1) == cs(df2)
        assert cs(df1) != cs(df3)

    def test_kl_nonnegative_and_zero_only_for_corpus_distribution(self, spark):
        """KL(p||q) >= 0 on random corpora (Gibbs); near 0 when every group
        IS the corpus distribution."""
        from scala_etl_test_spark.operators.drift import source_kl_divergence

        rng = random.Random(5)
        vocab = [f"w{i}" for i in range(20)]
        docs = [
            (f"g{g}", " ".join(rng.choices(vocab, k=50)))
            for g in range(4)
            for _ in range(3)
        ]
        df = spark.createDataFrame(docs, "src string, text string")
        rows = source_kl_divergence(df, "text", "src").collect()
        assert all(r["kl_bits"] >= -1e-9 for r in rows)
        # the "zero only at the corpus distribution" half: groups with
        # IDENTICAL composition sit at (near-)zero, smaller than any of
        # the random groups above
        same = [("a", "x y z w"), ("b", "x y z w"), ("c", "x y z w")]
        rows2 = source_kl_divergence(
            spark.createDataFrame(same, "src string, text string"), "text", "src"
        ).collect()
        assert all(abs(r["kl_bits"]) < 0.01 for r in rows2)
        assert max(abs(r["kl_bits"]) for r in rows2) < min(r["kl_bits"] for r in rows)


class TestGovernanceTierProperties:
    def test_ks_matches_bruteforce_on_random_tied_samples(self, spark):
        """Seeded-random integer samples (heavy ties): KS from the RANGE
        window must equal the brute-force sup|F1 - F2| over pooled values."""
        from scala_etl_test_spark.operators.drift import ks_two_sample

        rng = random.Random(11)
        for _ in range(4):
            a = [rng.randrange(8) for _ in range(rng.randint(2, 40))]
            b = [rng.randrange(8) for _ in range(rng.randint(2, 40))]
            want = max(
                abs(
                    sum(x <= v for x in a) / len(a)
                    - sum(x <= v for x in b) / len(b)
                )
                for v in set(a) | set(b)
            )
            rows = [("g", float(v), True) for v in a] + [("g", float(v), False) for v in b]
            df = spark.createDataFrame(rows, "g string, value double, early boolean")
            got = ks_two_sample(df, "g", "value", "early").collect()[0]
            assert got["ks_stat"] == round(want, 6), (a, b)

    def test_join_profile_total_equals_join_count_random(self, spark):
        from scala_etl_test_spark.operators.diagnostics import join_cardinality_profile

        rng = random.Random(23)
        for _ in range(3):
            l = [(rng.randrange(6),) for _ in range(rng.randint(1, 50))]
            r = [(rng.randrange(6),) for _ in range(rng.randint(1, 50))]
            ldf = spark.createDataFrame(l, "k long")
            rdf = spark.createDataFrame(r, "k long")
            out = join_cardinality_profile(ldf, rdf, "k", "k", top_k=100).collect()
            actual = ldf.join(rdf, on="k").count()
            if actual == 0:
                assert out == []
            else:
                assert out[0]["total_join_rows"] == actual
                assert sum(row["n_pairs"] for row in out) == actual

    def test_quantile_sketch_bound_and_exact_rank_random(self, spark):
        """Random floats: the exact column IS the rank statistic, and the
        histogram estimate never strays more than one bin width from it."""
        from datetime import date

        from pyspark.sql import functions as F
        from scala_etl_test_spark.operators.sketches import histogram_quantile_merge

        rng = random.Random(31)
        import math

        for _ in range(3):
            vals = [round(rng.uniform(-50, 150), 3) for _ in range(rng.randint(5, 120))]
            days = [date(2024, 2, rng.randint(1, 9)) for _ in vals]
            df = spark.createDataFrame(list(zip(vals, days)), "value double, day date")
            out = histogram_quantile_merge(
                df, "value", F.col("day"), quantiles=(0.5, 0.9), nbins=16
            ).collect()
            s = sorted(vals)
            for r in out:
                want_exact = s[math.ceil(r["quantile"] * len(s)) - 1]
                assert r["exact_value"] == round(want_exact, 6)
                assert abs(r["est_value"] - r["exact_value"]) <= r["bin_width"] + 1e-6

    def test_sweep_counts_equal_direct_filters_random(self, spark):
        """The one-pass sweep must agree with literally filtering the corpus
        at each threshold (Spark-vs-Spark consistency on random text)."""
        from pyspark.sql import functions as F
        from scala_etl_test_spark.operators.text import quality_filter_sweep, quality_score

        rng = random.Random(41)
        words = ["the", "und", "les", "data", "spark", "x1", "!!", "zz"]
        rows = [
            (i, " ".join(rng.choices(words, k=rng.randint(1, 12))))
            for i in range(40)
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["threshold"]: r for r in quality_filter_sweep(df, "text").collect()}
        for t, r in out.items():
            direct = df.filter(quality_score("text") >= t).count()
            assert r["n_docs"] == direct, t

    def test_cross_source_overlap_matches_python_sets_random(self, spark):
        from scala_etl_test_spark.operators.contamination import cross_source_overlap

        rng = random.Random(53)
        vocab = [f"w{i}" for i in range(6)]
        n = 3
        rows = [
            (i, " ".join(rng.choices(vocab, k=rng.randint(1, 15))), f"s{rng.randrange(4)}")
            for i in range(25)
        ]
        sets: dict[str, set] = {}
        for _, text, src in rows:
            w = text.split()
            sh = (
                {tuple(w[i : i + n]) for i in range(len(w) - n + 1)}
                if len(w) >= n
                else {tuple([" ".join(w)])}
            )
            sets.setdefault(src, set()).update(sh)
        df = spark.createDataFrame(rows, "doc_id long, text string, source string")
        got = cross_source_overlap(df, "text", "source", shingle_n=n).collect()
        for r in got:
            a, b = sets.get(r["source_a"], set()), sets.get(r["source_b"], set())
            assert r["n_shared_shingles"] == len(a & b)
            want_j = len(a & b) / len(a | b) if a | b else 0.0
            assert r["jaccard"] == round(want_j, 6)
