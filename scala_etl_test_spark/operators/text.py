"""Text-analysis operators for training-data curation (beyond-reference).

All native Column expressions — language ID, quality scoring, token
counting, and fingerprinting run inside whole-stage codegen; a 100 TB corpus
pays one scan and zero shuffles for all four (they are row-local).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from scala_etl_test_spark.caching import tracked_persist

from scala_etl_test_spark.operators.dedup import normalize_text, word_shingles, words

# marker stopwords per language for the n-gram/stopword-voting heuristic.
# Order = deterministic tie-break priority.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that"],
    "de": ["der", "die", "das", "und", "nicht", "ein", "ist", "zu"],
    "fr": ["le", "la", "les", "et", "des", "un", "une", "est"],
    "es": ["el", "los", "las", "y", "que", "una", "por", "con"],
    "zh": ["de5", "shi4", "le5", "zai4", "he2", "you3"],
}


def _score(w: Column, markers: list[str]) -> Column:
    return F.size(F.filter(w, lambda t: t.isin(markers)))


def lang_id(col: Column | str) -> Column:
    """Predicted language by marker-stopword vote, ties broken by the fixed
    LANG_MARKERS order ('und' for zero evidence)."""
    w = words(col)
    scores = {lang: _score(w, m) for lang, m in LANG_MARKERS.items()}
    langs = list(LANG_MARKERS)
    best: Column = F.lit("und")
    # build the when-chain in priority order: a language wins if its score is
    # positive and >= every later language's score and > every earlier one's
    expr = None
    for i, lang in enumerate(langs):
        cond = scores[lang] > 0
        for j, other in enumerate(langs):
            if j == i:
                continue
            if j < i:
                cond = cond & (scores[lang] > scores[other])
            else:
                cond = cond & (scores[lang] >= scores[other])
        expr = F.when(cond, F.lit(lang)) if expr is None else expr.when(cond, F.lit(lang))
    return expr.otherwise(best)


def quality_score(col: Column | str) -> Column:
    """Composite quality score in [0,1] as a standalone Column (same formula
    as text_stats; Catalyst CSEs the shared subexpressions in one select)."""
    t = F.col(col) if isinstance(col, str) else col
    w = words(t)
    n_chars = F.length(t)
    n_words = F.size(w)
    all_markers = sorted({m for ms in LANG_MARKERS.values() for m in ms})
    n_stop = F.size(F.filter(w, lambda x: x.isin(all_markers)))
    n_punct = F.length(F.regexp_replace(t, r"[A-Za-z0-9\s]", ""))
    # try_divide, not "/": an EMPTY or whitespace-only document has
    # n_chars/n_words = 0, and under Spark 4 ANSI a raw divide kills the
    # executor task (caught by the r12 edge-corpus sweep — the generated
    # fixtures contain no empty docs, a 100 TB corpus certainly does).
    # NULL ratio == DuckDB's x/0, and every F.when below sends NULL to
    # its otherwise-branch exactly like the oracle's CASE.
    punct_ratio = F.round(F.try_divide(n_punct, n_chars), 6)
    stop_ratio = F.round(F.try_divide(n_stop, n_words), 6)
    length_ok = (n_words >= 5) & (n_words <= 10000)
    return F.round(
        F.when(length_ok, F.lit(0.5)).otherwise(F.lit(0.0))
        + F.when(punct_ratio < 0.1, F.lit(0.25)).otherwise(F.lit(0.0))
        + F.when(stop_ratio > 0, F.lit(0.25)).otherwise(F.lit(0.0)),
        6,
    )


def re_token_count(col: Column | str) -> Column:
    """BPE-ish regex token count as a standalone Column."""
    t = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(t, F.lit(TOKEN_REGEX), 0)).cast("long")


def text_stats(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document quality statistics + a composite score in [0, 1]:

    - n_chars / n_words / avg word length,
    - punctuation ratio (non-alnum, non-space chars / chars),
    - stopword ratio (any language's markers),
    - digit ratio,
    - quality_score: penalizes too-short/too-long docs, high punctuation,
      zero stopwords — the usual cheap pre-filter before model-based scoring.
    """
    t = F.col(text_col)
    w = words(text_col)
    n_chars = F.length(t)
    n_words = F.size(w)
    all_markers = sorted({m for ms in LANG_MARKERS.values() for m in ms})
    n_stop = F.size(F.filter(w, lambda x: x.isin(all_markers)))
    n_punct = F.length(F.regexp_replace(t, r"[A-Za-z0-9\s]", ""))
    n_digit = F.length(F.regexp_replace(t, r"[^0-9]", ""))
    # try_divide throughout (see quality_score): empty/whitespace-only
    # documents must score, not crash the scan under ANSI
    punct_ratio = F.round(F.try_divide(n_punct, n_chars), 6)
    stop_ratio = F.round(F.try_divide(n_stop, n_words), 6)
    digit_ratio = F.round(F.try_divide(n_digit, n_chars), 6)
    avg_word_len = F.round(
        F.try_divide(
            F.aggregate(w, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)),
            n_words,
        ),
        6,
    )
    length_ok = (n_words >= 5) & (n_words <= 10000)
    quality = (
        F.when(length_ok, F.lit(0.5)).otherwise(F.lit(0.0))
        + F.when(punct_ratio < 0.1, F.lit(0.25)).otherwise(F.lit(0.0))
        + F.when(stop_ratio > 0, F.lit(0.25)).otherwise(F.lit(0.0))
    )
    return df.select(
        F.col(id_col),
        n_chars.cast("long").alias("n_chars"),
        n_words.cast("long").alias("n_words"),
        avg_word_len.alias("avg_word_len"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stop_ratio"),
        digit_ratio.alias("digit_ratio"),
        F.round(quality, 6).alias("quality_score"),
    )


TOKEN_REGEX = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"


def token_counts(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Whitespace tokens + a BPE-ish regex token count (letters runs, single
    digits, single punctuation — a deterministic proxy for subword count).

    Known convention (shared with the DuckDB oracle and
    :func:`text_stats`): an empty/whitespace-only text reports
    ``ws_tokens = 1``, because ``split('')`` is ``[""]`` in both engines.
    Such degenerate docs are rejected by the quality gate's
    ``n_words >= 5`` floor before any token accounting that matters;
    counting them as 0 here would instead push NULL/NaN into every
    per-word ratio downstream."""
    t = F.col(text_col)
    return df.select(
        F.col(id_col),
        F.size(F.split(F.trim(t), r"\s+")).cast("long").alias("ws_tokens"),
        F.size(F.regexp_extract_all(t, F.lit(TOKEN_REGEX), 0)).cast("long").alias("re_tokens"),
        F.length(t).cast("long").alias("chars"),
    )


def build_vocab(
    df: DataFrame,
    text_col: str,
    min_count: int = 1,
    max_size: int | None = None,
    id_col: str | None = None,
) -> DataFrame:
    """(word, n_docs, n_occurrences, vocab_id) over the normalized corpus —
    the deterministic vocabulary a tokenizer trainer starts from. Ids are
    contiguous from 0 in (occurrences DESC, word ASC) order, so the same
    corpus always yields the same table on any engine or cluster layout.

    Scale: one explode + one groupBy on the word (uniform key). Id
    assignment is SHARD-PARALLEL, not a global ``row_number``: the vocab's
    total order (occurrences DESC, word ASC) is equivalently (occurrences
    DESC, prefix ASC, word ASC) for any prefix of the word, so ids are
    ``band_offset + rank_within_band`` where a band is (occurrences,
    2-char prefix). Per-band ranks are an ordinary partitioned window
    (parallel — critically, the huge hapax tail splits by prefix instead
    of landing on one task), and band offsets are a running sum over the
    band-count table, whose size is bounded by distinct-frequency-values ×
    prefixes, not vocab size.
    """
    from pyspark.sql import Window

    doc_key = (
        F.col(id_col) if id_col is not None else F.monotonically_increasing_id()
    )
    tok = df.select(
        doc_key.alias("_doc"),
        F.explode(words(F.col(text_col))).alias("word"),
    ).filter(F.col("word") != "")
    vocab = (
        tok.groupBy("word")
        .agg(
            F.count_distinct("_doc").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_occurrences") >= min_count)
        .withColumn("_band", F.substring("word", 1, 2))
        # persisted subtree dedup: the aggregated vocab feeds BOTH the
        # band-count offsets and the final join, and Catalyst does not
        # dedupe the self-referencing subplan — without this the full
        # corpus explode + groupBy would execute twice. tracked_persist,
        # NOT localCheckpoint(eager=False): under AQE even a "lazy"
        # checkpoint materializes the upstream query stages at plan-BUILD
        # time (toRdd), running the whole explode+groupBy before the
        # caller's action.
        .transform(tracked_persist)
    )
    band_counts = vocab.groupBy("n_occurrences", "_band").agg(
        F.count(F.lit(1)).alias("_n")
    )
    offset_win = (
        Window.orderBy(F.col("n_occurrences").desc(), F.col("_band").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offsets = band_counts.select(
        "n_occurrences",
        "_band",
        (F.sum("_n").over(offset_win) - F.col("_n")).alias("_offset"),
    )
    rank_win = Window.partitionBy("n_occurrences", "_band").orderBy(F.col("word").asc())
    vocab = (
        vocab.join(F.broadcast(offsets), on=["n_occurrences", "_band"])
        .withColumn(
            "vocab_id",
            (F.col("_offset") + F.row_number().over(rank_win) - 1).cast("long"),
        )
    )
    if max_size is not None:
        vocab = vocab.filter(F.col("vocab_id") < max_size)
    return vocab.select("word", "n_docs", "n_occurrences", "vocab_id")


def repetition_metrics(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021 §A1.1): per document,
    the fraction of mass held by the most frequent unigram and bigram plus
    the distinct-word fraction, and a ``repetitive`` gate (top unigram >20%
    or top bigram >18% of the doc). Boilerplate, keyword-stuffed, and
    looping-generation documents are exactly the ones these thresholds cut.

    Scale: two shuffles, both keyed by (doc, gram) — uniform keys (a doc's
    grams spread over the hash space), partial aggregation combines
    map-side, and the per-doc rollup is a second small aggregate. No
    windows, no sort.
    """
    base = df.select(F.col(id_col), words(text_col).alias("_w"))
    uni = base.select(F.col(id_col), F.explode("_w").alias("word")).filter(
        F.col("word") != ""
    )
    uni_stats = (
        uni.groupBy(id_col, "word")
        .agg(F.count(F.lit(1)).alias("_c"))
        .groupBy(id_col)
        .agg(
            F.max("_c").alias("_top_uni"),
            F.count(F.lit(1)).alias("_n_distinct"),
            F.sum("_c").alias("_n_words"),
        )
    )
    # bigrams over the UNfiltered word array (positions matter), built by the
    # same shingle helper the dedup/contamination family uses (one gram
    # format to keep in sync with the oracle SQL); docs with <2 words
    # contribute none — overriding the helper's whole-text fallback — and
    # surface as NULL top_bigram_frac
    from scala_etl_test_spark.operators.dedup import shingles_from_words

    bigrams = base.select(
        F.col(id_col),
        F.explode(
            F.when(F.size("_w") >= 2, shingles_from_words(F.col("_w"), 2)).otherwise(
                F.array().cast("array<string>")
            )
        ).alias("bigram"),
    )
    bi_stats = (
        bigrams.groupBy(id_col, "bigram")
        .agg(F.count(F.lit(1)).alias("_c"))
        .groupBy(id_col)
        .agg(F.max("_c").alias("_top_bi"), F.sum("_c").alias("_n_bigrams"))
    )
    top_uni_frac = F.round(F.col("_top_uni") / F.col("_n_words"), 6)
    top_bi_frac = F.round(F.col("_top_bi") / F.col("_n_bigrams"), 6)
    return (
        uni_stats.join(bi_stats, on=id_col, how="left")
        .select(
            F.col(id_col),
            F.col("_n_words").cast("long").alias("n_words"),
            F.round(F.col("_n_distinct") / F.col("_n_words"), 6).alias("distinct_word_frac"),
            top_uni_frac.alias("top_unigram_frac"),
            top_bi_frac.alias("top_bigram_frac"),
            (
                (top_uni_frac > 0.2) | (F.coalesce(top_bi_frac, F.lit(0.0)) > 0.18)
            ).alias("repetitive"),
        )
    )


def tokenize_long(
    docs: DataFrame,
    vocab: DataFrame,
    text_col: str,
    id_col: str,
    unk_id: int = -1,
) -> DataFrame:
    """Apply a built vocabulary (:func:`build_vocab`) to documents:
    (doc, position, word, token_id) rows, OOV words mapped to ``unk_id`` —
    the text → token-id step that feeds sequence packing and training.

    Long form on purpose: position-indexed rows are the shuffle-friendly
    representation (re-assembling per-doc arrays is one groupBy away when a
    writer needs them, see pack_sequences for the budget step).

    Scale: posexplode (narrow) + one equi-join on the word. A tokenizer
    vocab is ≤ a few million rows ⇒ broadcast (Catalyst chooses it
    automatically under the threshold; hint if the statistics are stale) —
    the corpus side never shuffles."""
    w = docs.select(
        F.col(id_col), F.posexplode(words(F.col(text_col))).alias("pos", "word")
    ).filter(F.col("word") != "")
    return w.join(vocab.select("word", "vocab_id"), on="word", how="left").select(
        F.col(id_col),
        F.col("pos").cast("long").alias("pos"),
        "word",
        F.coalesce("vocab_id", F.lit(unk_id)).cast("long").alias("token_id"),
    )


def unigram_lm_scores(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Perplexity-proxy quality score from a corpus unigram language model —
    the cheap stand-in for a KenLM pass (CCNet's quality signal): documents
    whose words are corpus-typical score low, rare-word soup scores high.

    Two aggregations over one tokenized lineage: (1) corpus word
    frequencies (the "model"), (2) per-document mean of −log2 p(word) under
    it, where p(word) = count(word) / total_words. OOV cannot occur (the
    model is fit on the same corpus; every scored word has count ≥ 1).

    Scale: the frequency table is vocab-sized (≪ corpus) → Catalyst
    broadcasts the join; the per-doc mean is one groupBy on id. Fitting on
    a held-out sample instead (to score *against* a reference corpus) is
    the same plan with a different frequency input.

    Returns (id, n_words, avg_neg_log2_p) — avg rounded to 6 (double
    summation order differs across engines; see the determinism note on
    events_hourly_anomaly).
    """
    tok = df.select(
        F.col(id_col), F.explode(words(text_col)).alias("word")
    ).filter(F.col("word") != "")
    # persist: the frequency build and the scoring join both consume the
    # scan→normalize→split→explode subtree (same caller-owns-the-action
    # policy as the minhash shingle table and the span seed table)
    tok = tok.transform(tracked_persist)
    freq = tok.groupBy("word").agg(F.count(F.lit(1)).alias("c"))
    total = freq.agg(F.sum("c").alias("total"))
    model = freq.crossJoin(F.broadcast(total)).select(
        "word", (-F.log2(F.col("c") / F.col("total"))).alias("neg_log2_p")
    )
    # no forced broadcast of the model: the unigram table grows with the
    # corpus (Heaps' law) and a hint would collect it to the driver at
    # exactly the scale this module targets — let AQE pick broadcast while
    # it fits and shuffle-hash once it doesn't
    return (
        tok.join(model, on="word")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.round(F.avg("neg_log2_p"), 6).alias("avg_neg_log2_p"),
        )
    )


def document_fingerprints(
    df: DataFrame, text_col: str, id_col: str, shingle_n: int = 5
) -> DataFrame:
    """Content fingerprints: md5 of the normalized text (exact identity) and
    the minimum shingle hash (a 1-hash MinHash — winnowing's cheapest form,
    stable under small edits)."""
    return df.select(
        F.col(id_col),
        F.md5(normalize_text(text_col)).alias("fingerprint"),
        F.array_min(F.transform(word_shingles(text_col, shingle_n), F.md5)).alias(
            "min_shingle_hash"
        ),
    )


def winnow_fingerprints(
    df: DataFrame, text_col: str, id_col: str, k: int = 5, w: int = 4
) -> DataFrame:
    """Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003 — the MOSS
    scheme): from each sliding window of ``w`` consecutive k-gram hashes,
    select the minimum (rightmost occurrence on ties). Winnowing guarantees
    any shared substring of ≥ w+k−1 words yields at least one shared
    fingerprint, while keeping the fingerprint density ~2/(w+1) — the
    position-robust middle ground between the whole-document hash and the
    full k-gram set of :func:`document_fingerprints` /
    ``spans.duplicate_spans``.

    Documents with fewer than ``k`` words emit nothing; documents with
    fewer than ``w`` k-grams use one window over all their grams (so any
    document with ≥ k words yields at least one fingerprint). Gram hashes
    are the dedup family's 60-bit ``content_hash64`` longs (md5-prefix by
    default and DuckDB-reproducible; xxhash64 under the production flag) —
    8-byte shuffle keys either way.

    Returns (id, pos, fp): distinct selected (gram position, gram hash)
    pairs per document.

    Scale shape: row-local per document (words → gram hashes → window
    minima inside one projection, whole-stage codegen, zero Python), but
    the per-row fanout is heavy (one md5 per gram, w-wide minima per
    position) — so the input is spread across cores first
    (``partitioning.spread``): a few small parquet files would otherwise glue
    into one scan partition and serialize the whole fanout (measured 10×
    at 10× data on a compacted corpus; ~2.9× with the spread). After
    that: one scan, one cheap doc-row shuffle, no other exchange; output
    is ~2/(w+1) of the gram count, and downstream joins on ``fp`` are
    uniform 8-byte keys.
    """
    from scala_etl_test_spark.operators.dedup import content_hash64
    from scala_etl_test_spark.operators.partitioning import spread

    wds = F.filter(words(text_col), lambda x: x != "")
    base = spread(df, id_col).select(F.col(id_col), wds.alias("_w")).filter(
        F.size("_w") >= k
    )
    gram = F.transform(
        F.sequence(F.lit(0), F.size("_w") - k),
        lambda i: content_hash64(F.concat_ws(" ", F.slice("_w", i + 1, k))),
    )
    g = base.select(F.col(id_col), gram.alias("_g"))
    win_len = F.least(F.lit(w), F.size("_g"))

    def _pick(j):
        sl = F.slice("_g", j + 1, win_len)
        m = F.array_min(sl)
        pos = (j + win_len - F.array_position(F.reverse(sl), m)).cast("long")
        return F.struct(pos.alias("pos"), m.alias("fp"))

    sel = F.array_distinct(F.transform(F.sequence(F.lit(0), F.size("_g") - win_len), _pick))
    return (
        g.select(F.col(id_col), F.explode(sel).alias("_s"))
        .select(F.col(id_col), F.col("_s.pos").alias("pos"), F.col("_s.fp").alias("fp"))
    )


def winnow_overlap_pairs(
    fps: DataFrame, id_col: str, min_shared: int = 2, max_bucket: int = 1000
) -> DataFrame:
    """Document pairs sharing ≥ ``min_shared`` winnowing fingerprints —
    the MOSS match step over :func:`winnow_fingerprints` output.

    Same candidate-generation contract as the LSH band join
    (``dedup.lsh_candidate_pairs``): one groupBy establishes per-fingerprint
    bucket sizes, buckets larger than ``max_bucket`` are dropped (a
    fingerprint shared by 10⁶ documents is boilerplate, and would emit B²/2
    pairs), and the surviving buckets self-join on the 8-byte fingerprint
    key. Returns (id_a, id_b, n_shared) with id_a < id_b.
    """
    from pyspark.sql import Window

    distinct_fp = fps.select(F.col(id_col), "fp").distinct()
    capped = distinct_fp.withColumn(
        "_bucket", F.count(F.lit(1)).over(Window.partitionBy("fp"))
    ).filter(F.col("_bucket") <= max_bucket)
    a = capped.select(F.col(id_col).alias("id_a"), "fp")
    b = capped.select(F.col(id_col).alias("id_b"), "fp")
    return (
        a.join(b, on="fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def bigram_lm_scores(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Perplexity proxy under a corpus-fit add-1-smoothed bigram LM — the
    context-aware upgrade of :func:`unigram_lm_scores`: word-salad documents
    whose individual words are common but whose *transitions* are not score
    high, which the unigram model cannot see.

    P(w2|w1) = (c(w1,w2) + 1) / (c(w1·) + V), with V the corpus unigram
    vocabulary size; the score is the per-document mean of −log2 P over its
    adjacent word pairs. Documents with fewer than two words have no
    bigrams and yield no row.

    Scale shape: bigrams are materialized row-locally from the word array
    (no self-join, no window), one persisted explode feeds both the model
    counts and the scoring join; V is a single-row aggregate (the only
    forced broadcast — the bigram/unigram count tables grow with the
    corpus, so their join strategy is left to AQE). One corpus-sized
    groupBy on the document id finishes the score.

    Cache lifecycle: the bigram explode stays persisted for the returned
    frame's lifetime — the CALLER owns the cache (unpersist via
    ``spark.catalog.clearCache()`` or keep a handle), same contract as
    :func:`dedup.minhash_near_duplicates`'s shared shingle table.

    Returns (id, n_bigrams, avg_neg_log2_p), average rounded to 6 (double
    summation order differs across engines)."""
    w = F.filter(words(text_col), lambda x: x != "")
    docs_w = df.select(F.col(id_col), w.alias("w"))
    pairs = (
        docs_w.filter(F.size("w") >= 2)
        .select(
            F.col(id_col),
            F.explode(
                F.expr("transform(sequence(0, size(w) - 2), i -> struct(w[i] AS w1, w[i + 1] AS w2))")
            ).alias("b"),
        )
        .select(F.col(id_col), F.col("b.w1"), F.col("b.w2"))
        .transform(tracked_persist)
    )
    cb = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    cx = pairs.groupBy("w1").agg(F.count(F.lit(1)).alias("cx"))
    vocab = docs_w.select(F.explode("w").alias("word")).agg(
        F.countDistinct("word").alias("v")
    )
    neg = -F.log2((F.col("cb") + F.lit(1.0)) / (F.col("cx") + F.col("v")))
    # cb/cx grow near-linearly with the corpus (distinct bigram types) —
    # forcing their broadcast would OOM the driver at scale; only the
    # 1-row vocab total is a legitimate broadcast hint
    return (
        pairs.join(cb, ["w1", "w2"])
        .join(cx, "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.round(F.avg(neg), 6).alias("avg_neg_log2_p"),
        )
    )


def pmi_collocations(
    df: DataFrame,
    text_col: str,
    min_count: int = 5,
    top_n: int = 20,
    round_digits: int = 6,
) -> DataFrame:
    """Corpus-level collocation mining: top bigrams by pointwise mutual
    information — the phrase-detection pass (word2vec-style phrase
    vocabularies, tokenizer merge seeding) a corpus pipeline runs before
    training. PMI = ln(p(ab) / (p(a)·p(b))) with p from corpus-wide
    unigram/bigram counts; ``min_count`` suppresses the unstable
    low-frequency tail, ties break on the bigram text.

    Scale shape: one scan feeding two map-side-combined counts (unigrams,
    adjacent bigrams — both uniform word keys), two joins back on the
    word, totals broadcast as 1-row frames. PMI is rounded: the count
    ratios are exact, but ln() of a ratio of doubles is compared across
    engines at the last ULP.

    Returns (w1, w2, n_pair, pmi) ordered by (pmi desc, w1, w2)."""
    from scala_etl_test_spark.operators.dedup import words as _words

    w = df.select(_words(F.col(text_col)).alias("_w")).select(
        F.filter("_w", lambda x: x != "").alias("_w")
    )
    uni = (
        w.select(F.explode("_w").alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n_word"))
    )
    # guard: sequence(0, -1) is the DESCENDING [0, -1] in Spark, so a
    # sub-2-word doc must short-circuit to an empty array, not a bogus
    # (first-word, NULL) bigram that would inflate the totals
    bigrams = w.select(
        F.explode(
            F.expr(
                "IF(size(_w) < 2, "
                "cast(array() as array<struct<w1:string,w2:string>>), "
                "transform(sequence(0, size(_w) - 2), "
                "i -> struct(_w[i] AS w1, _w[i + 1] AS w2)))"
            )
        ).alias("_b")
    ).select("_b.w1", "_b.w2")
    bi = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_pair"))
    u_total = uni.agg(F.sum("n_word").alias("_u"))
    b_total = bi.agg(F.sum("n_pair").alias("_b"))
    j = (
        bi.filter(F.col("n_pair") >= min_count)
        .join(uni.select(F.col("word").alias("w1"), F.col("n_word").alias("n_w1")), on="w1")
        .join(uni.select(F.col("word").alias("w2"), F.col("n_word").alias("n_w2")), on="w2")
        .join(F.broadcast(u_total))
        .join(F.broadcast(b_total))
    )
    pmi = F.log(
        (F.col("n_pair") / F.col("_b"))
        / ((F.col("n_w1") / F.col("_u")) * (F.col("n_w2") / F.col("_u")))
    )
    return (
        j.select(
            "w1",
            "w2",
            "n_pair",
            F.round(pmi, round_digits).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(top_n)
    )


def negative_sampling_table(
    df: DataFrame,
    text_col: str,
    table_size: int = 1_000_000,
    scale: int = 1_000_000,
) -> DataFrame:
    """word2vec-style negative-sampling table: each word owns a slot range
    of the ``table_size``-entry table proportional to ``count^0.75``
    (Mikolov et al. 2013's smoothing exponent) — sampling a uniform slot
    then looking up its owner draws negatives from the smoothed unigram
    distribution.

    Determinism contract: ``count^0.75`` is computed as
    ``sqrt(sqrt(count³))`` — cube exact in a double for counts < 2.1e5,
    and ``sqrt`` is IEEE correctly-rounded everywhere, unlike ``pow``
    whose last ULP is engine-specific. The weight is then fixed-point
    quantized and the cumulative sums are pure int64 — no float
    ACCUMULATION anywhere (DuckDB computes window sums with a segment
    tree, so a float cumsum would not even match its own left-to-right
    order). Slot boundaries are then ``floor((cum/total)·T)`` on doubles:
    a single identical expression over exact integer inputs, so both
    engines see the same value (``cum·T`` stays out of int64 overflow
    range this way). The cumsum window runs over the vocabulary (bounded
    ≪ corpus; shard by hash prefix at extreme vocab sizes).

    Returns (word, n_word, slot_start, slot_end) — half-open [start, end)
    ranges partitioning [0, table_size); ordering is (count desc, word).
    """
    from pyspark.sql import Window

    from scala_etl_test_spark.operators.dedup import words as _words

    counts = (
        df.select(F.explode(_words(F.col(text_col))).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n_word"))
    )
    # cube in DOUBLE: int64 n³ silently wraps past n ≈ 2.1e6 (a common-word
    # count at corpus scale); double cubing merely rounds above 2.1e5,
    # which the fixed-point quantization already absorbs
    c = F.col("n_word").cast("double")
    weight_q = F.round(F.sqrt(F.sqrt(c * c * c)) * scale, 0).cast("long")
    w = Window.orderBy(F.col("n_word").desc(), F.col("word")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = counts.withColumn("_wq", weight_q).withColumn(
        "_cum", F.sum("_wq").over(w)
    )
    total = cum.agg(F.max("_cum").alias("_total"))
    j = cum.join(F.broadcast(total))
    tot_d = F.col("_total").cast("double")
    start = F.floor(
        (F.col("_cum") - F.col("_wq")).cast("double") / tot_d * table_size
    ).cast("long")
    end = F.floor(F.col("_cum").cast("double") / tot_d * table_size).cast("long")
    return j.select(
        "word",
        "n_word",
        start.alias("slot_start"),
        end.alias("slot_end"),
    )


def quality_filter_sweep(
    df: DataFrame,
    text_col: str,
    thresholds: tuple[float, ...] = (0.0, 0.25, 0.5, 0.75, 1.0),
) -> DataFrame:
    """Filter-calibration sweep: for each candidate quality threshold, how
    many documents (and how much character mass) a ``quality_score >= t``
    gate would RETAIN, as absolute counts and corpus shares. This is the
    table a curation run consults to pick the threshold that hits a token
    budget — compute it once, not one full filter pass per candidate.

    Scale shape: the only corpus-sized work is ONE partial-aggregated
    groupBy on the (few-valued) score — the sweep itself runs on that
    handful of bucket rows joined against the literal threshold list, so
    adding thresholds costs nothing. Shares divide by the corpus totals
    (same bucket rows re-aggregated; broadcast 1-row join).
    """
    spark = df.sparkSession
    scored = df.select(
        quality_score(text_col).alias("_score"),
        F.length(text_col).cast("long").alias("_nc"),
    )
    # persist: the bucket table is a handful of rows but costs a corpus
    # scan to build, and BOTH consumers (threshold join, totals) need it —
    # without the persist each lineage re-scans the corpus
    buckets = scored.groupBy("_score").agg(
        F.count(F.lit(1)).alias("_nd"), F.sum("_nc").alias("_bc")
    ).transform(tracked_persist)
    th = spark.createDataFrame(
        [(float(t),) for t in thresholds], "threshold double"
    )
    totals = buckets.agg(
        F.sum("_nd").alias("_td"), F.sum("_bc").alias("_tc")
    )
    retained = (
        th.join(buckets, on=F.col("_score") >= F.col("threshold"), how="left")
        .groupBy("threshold")
        .agg(
            F.coalesce(F.sum("_nd"), F.lit(0)).cast("long").alias("n_docs"),
            F.coalesce(F.sum("_bc"), F.lit(0)).cast("long").alias("n_chars_retained"),
        )
    )
    share = lambda num, tot: F.round(  # noqa: E731
        F.when(F.col(tot) > 0, F.col(num).cast("double") / F.col(tot).cast("double")).otherwise(F.lit(0.0)),
        6,
    )
    return retained.join(F.broadcast(totals)).select(
        "threshold",
        "n_docs",
        "n_chars_retained",
        share("n_docs", "_td").alias("doc_share"),
        share("n_chars_retained", "_tc").alias("char_share"),
    )


def oov_rate(
    df: DataFrame,
    text_col: str,
    group_col: str,
    ref_filter: Column,
) -> DataFrame:
    """Out-of-vocabulary rate per group against a reference vocabulary
    built from the ``ref_filter`` subset of the SAME corpus — the coverage
    check run before trusting a tokenizer/LM trained on yesterday's data
    with today's feed: what fraction of token occurrences (and of distinct
    types) has the reference never seen?

    Returns (group, n_tokens, n_oov_tokens, oov_token_rate, n_types,
    n_oov_types, oov_type_rate); rates rounded to 6.

    Scale shape: corpus-sized work is ONE (group, word) groupBy with
    map-side combine — after it, everything is vocabulary-bounded: the
    reference vocab is a distinct over the (filtered) aggregate, and the
    membership probe joins two vocab-scale tables on the word (no
    corpus-scale shuffle, no broadcast assumption about vocab size).
    """
    from scala_etl_test_spark.operators.dedup import words as _words

    toks = df.select(
        F.col(group_col).alias("_grp"),
        ref_filter.alias("_is_ref"),
        F.explode(_words(F.col(text_col))).alias("word"),
    ).filter(F.col("word") != "")
    # ONE corpus pass: per-(group, word) occurrence counts with a ref flag
    gw = toks.groupBy("_grp", "word").agg(
        F.count(F.lit(1)).alias("_n"),
        F.max(F.col("_is_ref").cast("int")).alias("_any_ref_row"),
    )
    # the reference vocabulary, derived from the SAME aggregate (a word is
    # in-vocab iff ANY ref row in ANY group contains it)
    vocab = (
        gw.filter(F.col("_any_ref_row") == 1).select("word").distinct()
        .withColumn("_in_vocab", F.lit(1))
    )
    probed = gw.join(vocab, on="word", how="left")
    oov = F.when(F.col("_in_vocab").isNull(), 1).otherwise(0)
    agg = probed.groupBy("_grp").agg(
        F.sum("_n").cast("long").alias("n_tokens"),
        F.sum(F.col("_n") * oov).cast("long").alias("n_oov_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(oov).cast("long").alias("n_oov_types"),
    )
    rate = lambda num, den: F.round(  # noqa: E731
        F.col(num).cast("double") / F.col(den).cast("double"), 6
    )
    return agg.select(
        F.col("_grp").alias(group_col),
        "n_tokens",
        "n_oov_tokens",
        rate("n_oov_tokens", "n_tokens").alias("oov_token_rate"),
        "n_types",
        "n_oov_types",
        rate("n_oov_types", "n_types").alias("oov_type_rate"),
    )
