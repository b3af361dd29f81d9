"""Oracle-checked queries for the beyond-reference training-data operators
(dedup, similarity search, text analysis) over the ``documents`` and
``embeddings`` tables.

Shared normalization contract (Spark ↔ DuckDB):
``norm = trim(regexp_replace(lower(text), '[^a-z0-9]+', ' '))``,
``words = split(norm, ' ')``, shingles are n-word joins, hashes are md5-hex.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from scala_etl_test_spark.caching import tracked_persist

from scala_etl_test_spark.operators import dedup as D
from scala_etl_test_spark.operators import similarity as S
from scala_etl_test_spark.operators import text as X
from scala_etl_test_spark.operators.partitioning import pin_by_key, spread


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from scala_etl_test_spark.sources.parquet_source import read_table

    return read_table(spark, sf_dir, name)


def _n_rows(sf_dir: str, name: str) -> int:
    """Corpus row count for plan-time sizing (IVF k, simhash pieces,
    blocking-key width) from parquet footer metadata — NO Spark job runs
    (sources/parquet_source.py:footer_row_count). Exactly COUNT(*), so the
    DuckDB oracles that size themselves with ``COUNT(*) OVER ()`` land on
    the identical value."""
    from scala_etl_test_spark.sources.parquet_source import footer_row_count

    return footer_row_count(sf_dir, name)


_NORM_SQL = "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"
_WORDS_SQL = f"string_split({_NORM_SQL}, ' ')"
_PACK_BUDGET = 256  # tokens per packed sequence (pack_sequences / corpus_prepare)


def _shingles_sql(n: int) -> str:
    """NULL text ⇒ NO shingles (r12 edge-corpus sweep): a NULL document
    has no content to fingerprint — unlike the empty string, whose ''
    whole-doc shingle legitimately pairs all empty-normalized docs. The
    engine twin is the text-isnotnull filter in
    operators/dedup.py:shingle_table; without this branch the NULL
    propagated into md5(NULL) and DuckDB's NULL-skipping concat turned
    the hex seed into the unparseable literal '0x'."""
    parts = " || ' ' || ".join(f"w[i+{j + 1}]" for j in range(n))
    return (
        f"CASE WHEN d.text IS NULL THEN CAST([] AS VARCHAR[]) "
        f"WHEN len(w) >= {n} "
        f"THEN list_transform(range(0, len(w) - {n} + 1), i -> {parts}) "
        f"ELSE [{_NORM_SQL.replace('text', 'd.text')}] END"
    )


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return D.exact_dedup(docs, "text", "doc_id")


SQL_DEDUP_EXACT = f"""
WITH fp AS (
  SELECT doc_id, md5({_NORM_SQL}) AS fingerprint FROM documents
)
SELECT doc_id, fingerprint,
       MIN(doc_id) OVER (PARTITION BY fingerprint) AS keep_id,
       doc_id <> MIN(doc_id) OVER (PARTITION BY fingerprint) AS is_duplicate
FROM fp
"""


# --------------------------------------------------------------------------
# MinHash + LSH near-duplicates
# --------------------------------------------------------------------------

_NUM_HASHES, _BANDS, _ROWS, _SHINGLE_N, _MINHASH_T = 16, 4, 4, 3, 0.2


def q_dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return D.minhash_near_duplicates(
        docs,
        "text",
        "doc_id",
        num_hashes=_NUM_HASHES,
        bands=_BANDS,
        rows=_ROWS,
        shingle_n=_SHINGLE_N,
        threshold=_MINHASH_T,
    )


def _minhash_sql(docs_rel: str = "documents") -> str:
    from scala_etl_test_spark.operators.dedup import MINHASH_PRIME, minhash_params

    mins = ",\n         ".join(
        f"MIN(({a} * h31 + {b}) % {MINHASH_PRIME}) AS s{i}"
        for i, (a, b) in enumerate(minhash_params(_NUM_HASHES))
    )
    band_rows = []
    for b in range(_BANDS):
        cols = " || '|' || ".join(f"CAST(s{b * _ROWS + r} AS VARCHAR)" for r in range(_ROWS))
        band_rows.append(f"SELECT doc_id, {b} AS band_idx, md5({cols}) AS band_hash FROM sigs")
    bands_union = "\n  UNION ALL\n  ".join(band_rows)
    return f"""
WITH shingled0 AS (
  SELECT DISTINCT d.doc_id, unnest(sh) AS shingle
  FROM (SELECT doc_id, text, {_WORDS_SQL} AS w FROM {docs_rel}) AS d(doc_id, text, w),
       LATERAL (SELECT {_shingles_sql(_SHINGLE_N)} AS sh) AS s
), shingled AS (
  SELECT doc_id, shingle,
         CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT) % {MINHASH_PRIME} AS h31
  FROM shingled0
), sigs AS (
  SELECT doc_id,
         {mins}
  FROM shingled GROUP BY doc_id
), bands AS (
  {bands_union}
), buckets AS (
  SELECT * FROM (
    SELECT *, COUNT(*) OVER (PARTITION BY band_idx, band_hash) AS bucket_size FROM bands
  ) WHERE bucket_size <= 1000
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM buckets a JOIN buckets b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
), sizes AS (
  SELECT doc_id, COUNT(*) AS set_size FROM shingled GROUP BY doc_id
), common AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS n_common
  FROM cand c
  JOIN shingled sa ON sa.doc_id = c.id_a
  JOIN shingled sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
  GROUP BY c.id_a, c.id_b
)
SELECT co.id_a, co.id_b,
       CAST(co.n_common AS DOUBLE) / (za.set_size + zb.set_size - co.n_common) AS jaccard
FROM common co
JOIN sizes za ON za.doc_id = co.id_a
JOIN sizes zb ON zb.doc_id = co.id_b
WHERE CAST(co.n_common AS DOUBLE) / (za.set_size + zb.set_size - co.n_common) >= {_MINHASH_T}
"""


SQL_DEDUP_MINHASH_PAIRS = _minhash_sql()


# --------------------------------------------------------------------------
# SimHash fingerprints + pairs
# --------------------------------------------------------------------------

def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return D.simhash(docs, "text", "doc_id")


def _simhash_sql() -> str:
    bit_sums = ",\n         ".join(
        f"SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(D.SIMHASH_BITS)
    )
    fp = " + ".join(
        f"CASE WHEN b{j} > 0 THEN CAST({2 ** j} AS BIGINT) ELSE 0 END"
        for j in range(D.SIMHASH_BITS)
    )
    return f"""
WITH toks AS (
  SELECT DISTINCT doc_id, unnest({_WORDS_SQL}) AS tok FROM documents
), hashed AS (
  SELECT doc_id, CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h FROM toks
), votes AS (
  SELECT doc_id,
         {bit_sums}
  FROM hashed GROUP BY doc_id
)
SELECT doc_id, {fp} AS simhash FROM votes
"""


SQL_DEDUP_SIMHASH = _simhash_sql()


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uses the BANDED (multi-piece pigeonhole) scale path; the oracle is
    the brute-force all-pairs SQL, so the banding's 100%-recall guarantee
    is verified, not assumed. ``pieces`` is sized to the corpus row count
    (a parquet metadata-only count, no text decode) — at h=4 a single
    12-bit chunk key is a FIXED 4096-value space whose candidate volume
    grows quadratically with the corpus (measured 9.6× wall at 10× data;
    ~linear with sized pieces)."""
    docs = _t(spark, sf_dir, "documents")
    pieces = D.simhash_pieces_for(_n_rows(sf_dir, "documents"), 4)
    return D.simhash_pairs_banded(
        D.simhash(docs, "text", "doc_id"), "doc_id", max_hamming=4, pieces=pieces
    )


SQL_DEDUP_SIMHASH_PAIRS = f"""
WITH fp AS ({_simhash_sql()})
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 4
"""


# --------------------------------------------------------------------------
# n-gram Jaccard with blocking
# --------------------------------------------------------------------------

_JACCARD_T = 0.15


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return D.ngram_jaccard_pairs(
        docs,
        "text",
        "doc_id",
        block_cols=["lang"],
        shingle_n=2,
        threshold=_JACCARD_T,
        length_col="n_chars",
        length_band=30,
    )


SQL_DEDUP_NGRAM_JACCARD = f"""
WITH shingled AS (
  SELECT DISTINCT d.doc_id, unnest(sh) AS shingle
  FROM (SELECT doc_id, text, {_WORDS_SQL} AS w FROM documents) AS d(doc_id, text, w),
       LATERAL (SELECT {_shingles_sql(2)} AS sh) AS s
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM documents a JOIN documents b
    ON a.lang = b.lang AND a.doc_id < b.doc_id AND abs(a.n_chars - b.n_chars) <= 30
), sizes AS (
  SELECT doc_id, COUNT(*) AS set_size FROM shingled GROUP BY doc_id
), common AS (
  SELECT p.id_a, p.id_b, COUNT(*) AS n_common
  FROM pairs p
  JOIN shingled sa ON sa.doc_id = p.id_a
  JOIN shingled sb ON sb.doc_id = p.id_b AND sb.shingle = sa.shingle
  GROUP BY p.id_a, p.id_b
)
SELECT co.id_a, co.id_b,
       CAST(co.n_common AS DOUBLE) / (za.set_size + zb.set_size - co.n_common) AS jaccard
FROM common co
JOIN sizes za ON za.doc_id = co.id_a
JOIN sizes zb ON zb.doc_id = co.id_b
WHERE CAST(co.n_common AS DOUBLE) / (za.set_size + zb.set_size - co.n_common) >= {_JACCARD_T}
"""


def q_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word2vec negative-sampling table
    (operators/text.py:negative_sampling_table): count^0.75 via
    sqrt(sqrt(count³)) (correctly-rounded, unlike pow), fixed-point
    weights, int64 cumsum, slot ranges proportional on the million-entry
    table."""
    return X.negative_sampling_table(_t(spark, sf_dir, "documents"), "text")


SQL_NEGATIVE_SAMPLING = f"""
WITH uc AS (
  SELECT word, COUNT(*) AS n_word
  FROM (SELECT unnest({_WORDS_SQL}) AS word FROM documents)
  WHERE word <> '' GROUP BY word
),
wq AS (
  SELECT word, n_word,
         CAST(round(sqrt(sqrt(
              CAST(n_word AS DOUBLE) * CAST(n_word AS DOUBLE) * CAST(n_word AS DOUBLE)))
              * 1000000) AS BIGINT) AS _wq
  FROM uc
),
cum AS (
  SELECT word, n_word, _wq,
         SUM(_wq) OVER (ORDER BY n_word DESC, word
                        ROWS UNBOUNDED PRECEDING) AS _cum
  FROM wq
),
tot AS (SELECT MAX(_cum) AS _total FROM cum)
SELECT word, CAST(n_word AS BIGINT) AS n_word,
       CAST(floor(CAST(_cum - _wq AS DOUBLE) / CAST(_total AS DOUBLE) * 1000000)
            AS BIGINT) AS slot_start,
       CAST(floor(CAST(_cum AS DOUBLE) / CAST(_total AS DOUBLE) * 1000000)
            AS BIGINT) AS slot_end
FROM cum, tot
"""


def q_ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evaluation-as-artifact: recall of every ANN variant against the
    brute-force cosine top-k at that variant's own k, as ONE gated query —
    each variant here is deterministic (stride/md5 structures), so the
    recall numbers are themselves oracle-checkable facts, not flaky
    measurements. Returns (method, k, n_hits) sorted by method."""
    # the cell-probed PQ variants are excluded: they re-derive codebook +
    # encode + assignment (~3× this query's cost) and their recall is
    # bounded by pq_adc ∩ the probe restriction already reported here
    variants = [
        ("ivf", 20, q_ann_ivf_topk),
        ("lsh", 10, q_ann_lsh_topk),
        ("multiprobe", 10, q_ann_multiprobe_topk),
        ("pq_adc", 10, q_ann_pq_topk),
    ]
    emb = _t(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    qv = [float(v) for v in query]
    parts = []
    for name, k, fn in variants:
        brute = S.cosine_topk(emb, qv, k=k).select("vec_id")
        got = fn(spark, sf_dir).select("vec_id")
        parts.append(
            brute.join(got, on="vec_id").agg(
                F.lit(name).alias("method"),
                F.lit(k).cast("int").alias("k"),
                F.count(F.lit(1)).alias("n_hits"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.orderBy("method")


def _recall_row_sql(name: str, k: int, variant_sql: str) -> str:
    brute = f"""
SELECT e.vec_id FROM embeddings e,
     (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
ORDER BY round({_COS_SQL.format(a='e.embedding', b='q.qv')}, 6) DESC, e.vec_id
LIMIT {k}
"""
    return (
        f"SELECT '{name}' AS method, CAST({k} AS INT) AS k, "
        f"CAST(COUNT(*) AS BIGINT) AS n_hits "
        f"FROM ({brute}) b JOIN ({variant_sql}) v USING (vec_id)"
    )


def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 bigram collocations by PMI with min_count=5
    (operators/text.py:pmi_collocations) — the phrase-detection pass that
    seeds phrase vocabularies / tokenizer merges."""
    return X.pmi_collocations(_t(spark, sf_dir, "documents"), "text")


SQL_PMI_COLLOCATIONS = f"""
WITH wl AS (
  SELECT list_filter({_WORDS_SQL}, x -> x <> '') AS w FROM documents
),
uc AS (
  SELECT word, COUNT(*) AS n_word
  FROM (SELECT unnest(w) AS word FROM wl) GROUP BY word
),
bg AS (
  SELECT unnest(CASE WHEN len(w) >= 2
                     THEN list_transform(range(1, len(w)),
                                         i -> {{'w1': w[i], 'w2': w[i + 1]}})
                     ELSE CAST([] AS STRUCT(w1 VARCHAR, w2 VARCHAR)[]) END) AS b
  FROM wl
),
bc AS (SELECT b.w1 AS w1, b.w2 AS w2, COUNT(*) AS n_pair FROM bg GROUP BY 1, 2),
ut AS (SELECT SUM(n_word) AS u FROM uc),
bt AS (SELECT SUM(n_pair) AS bsum FROM bc)
SELECT w1, w2, CAST(n_pair AS BIGINT) AS n_pair,
       round(ln((n_pair / bsum) / ((a.n_word / u) * (b2.n_word / u))), 6) AS pmi
FROM bc JOIN uc a ON bc.w1 = a.word JOIN uc b2 ON bc.w2 = b2.word, ut, bt
WHERE n_pair >= 5
ORDER BY pmi DESC, w1, w2
LIMIT 20
"""


def q_dedup_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard self-join via prefix filtering
    (operators/dedup.py:prefix_jaccard_join): rare-first global shingle
    order, |S|−⌈t·|S|⌉+1 prefix index, prefix-to-prefix candidates, exact
    verification — oracle is the unblocked brute-force all-pairs Jaccard,
    so the driver gate checks the no-false-negative guarantee itself."""
    docs = _t(spark, sf_dir, "documents")
    return D.prefix_jaccard_join(docs, "text", "doc_id", threshold=0.5, shingle_n=3)


SQL_DEDUP_PREFIX_JACCARD = f"""
WITH shingled AS (
  SELECT DISTINCT d.doc_id, unnest(sh) AS shingle
  FROM (SELECT doc_id, text, {_WORDS_SQL} AS w FROM documents) AS d(doc_id, text, w),
       LATERAL (SELECT {_shingles_sql(3)} AS sh) AS s
), sizes AS (
  SELECT doc_id, COUNT(*) AS set_size FROM shingled GROUP BY doc_id
), common AS (
  SELECT sa.doc_id AS id_a, sb.doc_id AS id_b, COUNT(*) AS n_common
  FROM shingled sa
  JOIN shingled sb ON sb.shingle = sa.shingle AND sa.doc_id < sb.doc_id
  GROUP BY 1, 2
)
SELECT co.id_a, co.id_b,
       CAST(co.n_common AS DOUBLE) / (za.set_size + zb.set_size - co.n_common) AS jaccard
FROM common co
JOIN sizes za ON za.doc_id = co.id_a
JOIN sizes zb ON zb.doc_id = co.id_b
WHERE CAST(co.n_common AS DOUBLE) / (za.set_size + zb.set_size - co.n_common) >= 0.5
"""


def q_dedup_snm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood (SNM) near-dup pairs
    (operators/dedup.py:sorted_neighborhood_pairs): normalized-prefix sort
    key, 5-row neighborhood, exact Jaccard ≥ 0.5 verification — the
    prefix-sensitive fourth blocking family. Oracle replays the identical
    procedure (SNM's recall bound is part of its contract, so the oracle
    is the same window, not brute force)."""
    docs = _t(spark, sf_dir, "documents")
    return D.sorted_neighborhood_pairs(
        docs, "text", "doc_id", window=5, key_chars=16, threshold=0.5, shingle_n=3
    )


SQL_DEDUP_SNM = f"""
WITH ranked AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY substr({_NORM_SQL}, 1, 16), doc_id) AS r
  FROM documents
),
cands AS (
  SELECT DISTINCT LEAST(a.doc_id, b.doc_id) AS id_a,
                  GREATEST(a.doc_id, b.doc_id) AS id_b
  FROM ranked a JOIN ranked b ON b.r > a.r AND b.r <= a.r + 5
),
shingled AS (
  SELECT DISTINCT d.doc_id, unnest(sh) AS shingle
  FROM (SELECT doc_id, text, {_WORDS_SQL} AS w FROM documents) AS d(doc_id, text, w),
       LATERAL (SELECT {_shingles_sql(3)} AS sh) AS s
),
sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM shingled GROUP BY doc_id),
common AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS n_common
  FROM cands c
  JOIN shingled sa ON sa.doc_id = c.id_a
  JOIN shingled sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
  GROUP BY 1, 2
)
SELECT co.id_a, co.id_b,
       CAST(co.n_common AS DOUBLE) / (za.set_size + zb.set_size - co.n_common) AS jaccard
FROM common co
JOIN sizes za ON za.doc_id = co.id_a
JOIN sizes zb ON zb.doc_id = co.id_b
WHERE CAST(co.n_common AS DOUBLE) / (za.set_size + zb.set_size - co.n_common) >= 0.5
"""


# --------------------------------------------------------------------------
# embedding near-dup + ANN top-k
# --------------------------------------------------------------------------

_COS_DEDUP_T = 0.35

_COS_SQL = """
CAST(list_sum(list_transform(range(1, len({a}) + 1),
       i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))) AS DOUBLE)
/ (sqrt(list_sum(list_transform(range(1, len({a}) + 1),
       i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE))))
 * sqrt(list_sum(list_transform(range(1, len({b}) + 1),
       i -> CAST({b}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))))
"""


def _scaled_centroids(emb: DataFrame, n_rows: int) -> DataFrame:
    """Corpus-scaled IVF seeding for the quadratic-per-cell wrappers
    (semantic dedup, greedy sweep, hard negatives, label spread):
    k = max(16, ⌊√n⌋), the textbook IVF cell count that balances the n·k
    assignment cost against the Σc² ≈ n²/k intra-cell pair cost at n^1.5.
    A fixed k (the pre-round-6 wrappers used 16) makes the per-cell
    self-joins grow n²/16 — the 10× stress replica measured exactly that
    (semantic_dedup wall ratio 10.75 at 10× rows) before this change.

    ``n_rows`` comes from parquet footer metadata (``_n_rows`` — no Spark
    job at plan-build time); at warehouse scale it is the catalog row-count
    statistic. ⌊√n⌋ is computed as floor of the IEEE-double sqrt so the
    DuckDB oracle (_CENT_SCALED_SQL) lands on the identical k for any
    realistic n.
    """
    import math

    k = max(16, int(math.floor(math.sqrt(n_rows))))
    return S.stride_centroids(emb, k)


# Oracle twin of _scaled_centroids: first ⌊√n⌋ (min 16) vectors by id.
_CENT_SCALED_SQL = """
  SELECT vec_id AS centroid_id, embedding AS cvec FROM (
    SELECT vec_id, embedding,
           ROW_NUMBER() OVER (ORDER BY vec_id) AS _rn,
           COUNT(*) OVER () AS _n
    FROM embeddings)
  WHERE _rn <= GREATEST(16, CAST(floor(sqrt(CAST(_n AS DOUBLE))) AS BIGINT))
"""


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT within-label cosine near-dup pairs — the per-label brute
    verification baseline of the embedding-dedup family (blocks grow with
    the corpus under a fixed label set, so cost is Σ n_label²/2; the scale
    paths are embedding_near_dup_lsh and the cell-blocked semantic_dedup,
    the same baseline-vs-scale split as ann_cosine_topk vs ann_ivf_topk)."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.embedding_near_dup_pairs(
        emb, vec_col="embedding", id_col="vec_id", block_col="label", threshold=_COS_DEDUP_T
    )


SQL_EMBEDDING_NEAR_DUP = f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round({_COS_SQL.format(a='a.embedding', b='b.embedding')}, 6) AS cosine
FROM embeddings a JOIN embeddings b
  ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round({_COS_SQL.format(a='a.embedding', b='b.embedding')}, 6) >= {_COS_DEDUP_T}
"""


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    return S.cosine_topk(emb, [float(v) for v in query], k=20)


SQL_ANN_COSINE_TOPK = f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id,
       round({_COS_SQL.format(a='e.embedding', b='q.qv')}, 6) AS cosine
FROM embeddings e, q
ORDER BY cosine DESC, e.vec_id
LIMIT 20
"""


_LSH_NBITS = 8


def _lsh_sig_sql(v: str, nbits: int = _LSH_NBITS) -> str:
    """DuckDB expression reproducing operators.similarity.lsh_signature."""

    def hyper(bit: int, idx: str) -> str:
        return (
            f"CASE WHEN CAST(concat('0x', substr(md5('{bit}' || '|' || CAST({idx} AS VARCHAR)), 1, 8)) AS BIGINT) % 2 = 0 "
            f"THEN 1.0 ELSE -1.0 END"
        )

    def proj(bit: int) -> str:
        return (
            f"list_sum(list_transform(range(1, len({v}) + 1), "
            f"i -> CAST({v}[i] AS DOUBLE) * ({hyper(bit, 'i - 1')})))"
        )

    return " + ".join(
        f"CASE WHEN {proj(bit)} >= 0 THEN {2 ** bit} ELSE 0 END" for bit in range(nbits)
    )


def q_embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-blocking near-dup variant: candidate pairs share an LSH sign
    signature (no external label needed — the index IS the blocking key).
    Signature is md5-derived, so the oracle rebuilds the whole index in SQL."""
    from scala_etl_test_spark.operators.similarity import lsh_signature

    emb = _t(spark, sf_dir, "embeddings")
    sig = emb.withColumn("_block", lsh_signature("embedding", _LSH_NBITS))
    return S.embedding_near_dup_pairs(
        sig, vec_col="embedding", id_col="vec_id", block_col="_block", threshold=_COS_DEDUP_T
    )


def _embedding_near_dup_lsh_sql() -> str:
    return f"""
WITH sigs AS (
  SELECT vec_id, embedding, {_lsh_sig_sql('embedding')} AS s FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round({_COS_SQL.format(a='a.embedding', b='b.embedding')}, 6) AS cosine
FROM sigs a JOIN sigs b ON a.s = b.s AND a.vec_id < b.vec_id
WHERE round({_COS_SQL.format(a='a.embedding', b='b.embedding')}, 6) >= {_COS_DEDUP_T}
"""


SQL_EMBEDDING_NEAR_DUP_LSH = _embedding_near_dup_lsh_sql()


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucket ANN: score only vectors sharing the
    query's sign signature. The hyperplanes are md5-derived, so the entire
    index is reproducible in DuckDB — a full cross-engine oracle for an ANN
    structure."""
    emb = _t(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    return S.lsh_bucket_topk(emb, [float(v) for v in query], k=10, nbits=_LSH_NBITS)


def _lsh_sql(probes: int = 0, k: int = 10) -> str:
    def hyper(bit: int, idx: str) -> str:
        return (
            f"CASE WHEN CAST(concat('0x', substr(md5('{bit}' || '|' || CAST({idx} AS VARCHAR)), 1, 8)) AS BIGINT) % 2 = 0 "
            f"THEN 1.0 ELSE -1.0 END"
        )

    def proj(bit: int, v: str) -> str:
        return (
            f"list_sum(list_transform(range(1, len({v}) + 1), "
            f"i -> CAST({v}[i] AS DOUBLE) * ({hyper(bit, 'i - 1')})))"
        )

    def sig(v: str) -> str:
        return " + ".join(
            f"CASE WHEN {proj(bit, v)} >= 0 THEN {2 ** bit} ELSE 0 END"
            for bit in range(_LSH_NBITS)
        )

    in_list = ", ".join(
        ["qsig.s"] + [f"xor(qsig.s, {1 << b})" for b in range(probes)]
    )
    return f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
     qsig AS (SELECT {sig('qv')} AS s FROM q),
     sigs AS (SELECT vec_id, embedding, {sig('embedding')} AS s FROM embeddings)
SELECT e.vec_id,
       round({_COS_SQL.format(a='e.embedding', b='q.qv')}, 6) AS cosine
FROM sigs e, q, qsig
WHERE e.s IN ({in_list})
ORDER BY cosine DESC, e.vec_id
LIMIT {k}
"""


SQL_ANN_LSH_TOPK = _lsh_sql()


def q_ann_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN (operators/similarity.py:multiprobe_lsh_topk):
    the query bucket plus all Hamming-distance-1 buckets — the standard
    recall recovery for sign-LSH, still a tiny IN-list scan restriction,
    and still fully DuckDB-reproducible."""
    emb = _t(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    return S.multiprobe_lsh_topk(
        emb, [float(v) for v in query], k=10, nbits=_LSH_NBITS, probes=_LSH_NBITS
    )


SQL_ANN_MULTIPROBE_TOPK = _lsh_sql(probes=_LSH_NBITS)


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe path, fully oracle-checked: stride-seeded centroids,
    argmax-cosine assignment (ties → smallest centroid id), nprobe=4 probe,
    brute-force top-k within probed cells. Every step is deterministic, so
    the DuckDB oracle replays assignment + probe + ranking exactly; recall
    vs brute force is additionally pinned in tests/test_similarity.py."""
    emb = _t(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    centroids = S.stride_centroids(emb, 16)
    assigned = S.ivf_assign(emb, centroids)
    return S.ivf_topk(assigned, centroids, [float(v) for v in query], k=20, nprobe=4)


SQL_ANN_IVF_TOPK = f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
cent AS (
  SELECT vec_id AS centroid_id, embedding AS cvec
  FROM embeddings ORDER BY vec_id LIMIT 16
),
assign AS (
  SELECT vec_id, embedding, cluster_id FROM (
    SELECT e.vec_id, e.embedding, c.centroid_id AS cluster_id,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_COS_SQL.format(a='e.embedding', b='c.cvec')} DESC,
                      c.centroid_id ASC) AS rn
    FROM embeddings e CROSS JOIN cent c
  ) WHERE rn = 1
),
probe AS (
  SELECT centroid_id AS cluster_id FROM cent, q
  ORDER BY {_COS_SQL.format(a='cvec', b='q.qv')} DESC, centroid_id ASC
  LIMIT 4
)
SELECT a.vec_id, round({_COS_SQL.format(a='a.embedding', b='q.qv')}, 6) AS cosine
FROM assign a, probe p, q
WHERE a.cluster_id = p.cluster_id
ORDER BY cosine DESC, a.vec_id
LIMIT 20
"""


def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid accumulators in exact fixed-point long form —
    the deterministic reduction for class centroids (IVF seeding, per-class
    blocking): quantize-then-sum is associative, so the result is identical
    for any partitioning/combine order and any engine
    (operators/similarity.py:centroid_sums)."""
    return S.centroid_sums(_t(spark, sf_dir, "embeddings"), "embedding", "label")


SQL_EMBEDDING_CENTROIDS = """
WITH expanded AS (
  SELECT label,
         generate_subscripts(embedding, 1) - 1 AS dim,
         unnest(embedding) AS v
  FROM embeddings
)
SELECT label,
       CAST(dim AS BIGINT) AS dim,
       CAST(SUM(CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) AS sum_q,
       CAST(COUNT(*) AS BIGINT) AS n_vecs
FROM expanded GROUP BY label, dim
"""


def q_model_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched model scoring (operators/scoring.py) with the
    deterministic hash pseudo-model — the mapInPandas path itself is
    oracle-checked, since the fake score is md5-reproducible in SQL."""
    from scala_etl_test_spark.operators.scoring import score_documents

    return score_documents(_t(spark, sf_dir, "documents"), "text", "doc_id")


SQL_MODEL_SCORES = f"""
SELECT doc_id,
       -- NULL text scores NULL (the engine's NULL-in → NULL-out contract);
       -- without the guard DuckDB's NULL-skipping concat turns the hex
       -- seed into the unparseable literal '0x' (r12 edge-corpus sweep)
       CASE WHEN text IS NULL THEN NULL
            ELSE CAST(CAST(concat('0x', substr(md5({_NORM_SQL}), 1, 8)) AS BIGINT) % 1000000
                 AS DOUBLE) / 1000000 END AS model_score
FROM documents
"""


# --------------------------------------------------------------------------
# text analysis
# --------------------------------------------------------------------------

def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", "lang", X.lang_id("text").alias("predicted_lang"))


def _lang_id_sql() -> str:
    langs = list(X.LANG_MARKERS)
    score = {
        lang: f"len(list_filter(w, x -> x IN ({', '.join(repr(m) for m in ms)})))"
        for lang, ms in X.LANG_MARKERS.items()
    }
    whens = []
    for i, lang in enumerate(langs):
        conds = [f"{score[lang]} > 0"]
        for j, other in enumerate(langs):
            if j == i:
                continue
            op = ">" if j < i else ">="
            conds.append(f"{score[lang]} {op} {score[other]}")
        whens.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    chain = "\n            ".join(whens)
    return f"""
SELECT doc_id, lang,
       CASE {chain}
            ELSE 'und' END AS predicted_lang
FROM (SELECT doc_id, lang, {_WORDS_SQL} AS w FROM documents)
"""


SQL_LANG_ID = _lang_id_sql()


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return X.text_stats(docs, "text", "doc_id")


_ALL_MARKERS = sorted({m for ms in X.LANG_MARKERS.values() for m in ms})

SQL_TEXT_QUALITY = f"""
WITH base AS (
  SELECT doc_id, text, {_WORDS_SQL} AS w,
         length(text) AS n_chars,
         len({_WORDS_SQL}) AS n_words,
         len(list_filter({_WORDS_SQL}, x -> x IN ({", ".join(repr(m) for m in _ALL_MARKERS)}))) AS n_stop,
         length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS n_punct,
         length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit
  FROM documents
)
SELECT doc_id,
       CAST(n_chars AS BIGINT) AS n_chars,
       CAST(n_words AS BIGINT) AS n_words,
       round(CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / n_words, 6) AS avg_word_len,
       round(CAST(n_punct AS DOUBLE) / n_chars, 6) AS punct_ratio,
       round(CAST(n_stop AS DOUBLE) / n_words, 6) AS stop_ratio,
       round(CAST(n_digit AS DOUBLE) / n_chars, 6) AS digit_ratio,
       round((CASE WHEN n_words >= 5 AND n_words <= 10000 THEN 0.5 ELSE 0.0 END)
             + (CASE WHEN CAST(n_punct AS DOUBLE) / n_chars < 0.1 THEN 0.25 ELSE 0.0 END)
             + (CASE WHEN n_stop > 0 THEN 0.25 ELSE 0.0 END), 6) AS quality_score
FROM base
"""


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return X.token_counts(docs, "text", "doc_id")


SQL_TOKEN_COUNT = f"""
SELECT doc_id,
       CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '{X.TOKEN_REGEX}')) AS BIGINT) AS re_tokens,
       CAST(length(text) AS BIGINT) AS chars
FROM documents
"""


def q_docs_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 characteristic terms — the TF-IDF pattern with an
    integer-only ranking: (term frequency DESC, document frequency ASC,
    word ASC). The float ``tf·ln(N/df)`` score orders identically for fixed
    tf (rarer ⇒ higher idf) but ``ln`` differs across engines by ULPs, so
    the oracle-checked ranking stays in exact integers; ``tfidf`` consumers
    can recompute the float score from the returned (tf, df) pair.

    Scale: one shuffle to (doc, word) counts, one vocab-sized aggregate for
    df joined back on the word key, one window top-k (WindowGroupLimit keeps
    per-partition heaps, no full sort of the exploded corpus).
    """
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " "))
    words = docs.select(
        "doc_id", F.explode(F.split(norm, " ")).alias("word")
    ).filter(F.col("word") != "")
    tf = words.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    win = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("word").asc()
    )
    return (
        tf.join(df_, on="word")
        .withColumn("_rn", F.row_number().over(win))
        .filter(F.col("_rn") <= 3)
        .select("doc_id", "word", "tf", "df", F.col("_rn").cast("int").alias("rank"))
    )


SQL_DOCS_TOP_TERMS = f"""
WITH words AS (
  SELECT doc_id, unnest({_WORDS_SQL}) AS word FROM documents
), tf AS (
  SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf
  FROM words WHERE word <> '' GROUP BY doc_id, word
), df AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY word
)
SELECT doc_id, word, tf, df, CAST(rn AS INTEGER) AS rank
FROM (
  SELECT tf.doc_id, tf.word, tf.tf, df.df,
         row_number() OVER (PARTITION BY tf.doc_id
                            ORDER BY tf.tf DESC, df.df ASC, tf.word ASC) AS rn
  FROM tf JOIN df USING (word)
) WHERE rn <= 3
"""


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subsumption detection: lang+length-blocked pairs where ≥60% of one
    side's 2-shingles appear in the other (asymmetric containment — catches
    quoted/embedded documents that Jaccard under-scores). Candidates come
    from the length-bucket EQUI-join (an inequality band over a fixed-
    cardinality lang key generates Σ c² rows per lang before filtering —
    the r6 stress sweep's 71× wall ratio) and verification is the
    row-local array intersection."""
    docs = _t(spark, sf_dir, "documents")
    blocked = D.length_banded_pairs(docs, "doc_id", ["lang"], "n_chars", 60)
    # persisted shingle table — consumed by both pair sides of the
    # verification (same policy as minhash_near_duplicates)
    shingles = D.shingle_table(docs, "text", "doc_id", shingle_n=2).transform(tracked_persist)
    pairs = D.containment_for_pairs(
        blocked, docs, "text", "doc_id", shingle_n=2, shingles=shingles, row_local=True
    )
    return pairs.filter(
        (F.col("containment_a") >= 0.6) | (F.col("containment_b") >= 0.6)
    )


SQL_DEDUP_CONTAINMENT = f"""
WITH shingled AS (
  SELECT DISTINCT d.doc_id, unnest(sh) AS shingle
  FROM (SELECT doc_id, text, {_WORDS_SQL} AS w FROM documents) AS d(doc_id, text, w),
       LATERAL (SELECT {_shingles_sql(2)} AS sh) AS s
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM documents a JOIN documents b
    ON a.lang = b.lang AND a.doc_id < b.doc_id AND abs(a.n_chars - b.n_chars) <= 60
), sizes AS (
  SELECT doc_id, COUNT(*) AS set_size FROM shingled GROUP BY doc_id
), common AS (
  SELECT p.id_a, p.id_b, COUNT(*) AS n_common
  FROM pairs p
  JOIN shingled sa ON sa.doc_id = p.id_a
  JOIN shingled sb ON sb.doc_id = p.id_b AND sb.shingle = sa.shingle
  GROUP BY p.id_a, p.id_b
)
SELECT co.id_a, co.id_b,
       CAST(co.n_common AS DOUBLE) / za.set_size AS containment_a,
       CAST(co.n_common AS DOUBLE) / zb.set_size AS containment_b
FROM common co
JOIN sizes za ON za.doc_id = co.id_a
JOIN sizes zb ON zb.doc_id = co.id_b
WHERE CAST(co.n_common AS DOUBLE) / za.set_size >= 0.6
   OR CAST(co.n_common AS DOUBLE) / zb.set_size >= 0.6
"""


def q_vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus vocabulary: top-500 words by (occurrences DESC,
    word ASC) with contiguous ids — the tokenizer-training starting table."""
    from scala_etl_test_spark.operators.text import build_vocab

    docs = _t(spark, sf_dir, "documents")
    return build_vocab(docs, "text", min_count=2, max_size=500, id_col="doc_id")


SQL_VOCAB_BUILD = f"""
WITH tok AS (
  SELECT doc_id, unnest({_WORDS_SQL}) AS word FROM documents
), vocab AS (
  SELECT word,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
         CAST(COUNT(*) AS BIGINT) AS n_occurrences
  FROM tok WHERE word <> ''
  GROUP BY word
  HAVING COUNT(*) >= 2
)
SELECT word, n_docs, n_occurrences,
       CAST(row_number() OVER (ORDER BY n_occurrences DESC, word ASC) - 1 AS BIGINT)
         AS vocab_id
FROM vocab
QUALIFY vocab_id < 500
"""


def q_tokenize_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary application: every document tokenized to (pos, word,
    token_id) rows against the corpus vocab (min_count=2, top-500), OOV →
    -1 (operators/text.py:tokenize_long)."""
    from scala_etl_test_spark.operators.text import build_vocab, tokenize_long

    docs = _t(spark, sf_dir, "documents")
    vocab = build_vocab(docs, "text", min_count=2, max_size=500, id_col="doc_id")
    return tokenize_long(docs, vocab, "text", "doc_id")


SQL_TOKENIZE_DOCS = f"""
WITH pos_tok AS (
  SELECT doc_id, generate_subscripts(w, 1) - 1 AS pos, unnest(w) AS word
  FROM (SELECT doc_id, {_WORDS_SQL} AS w FROM documents)
)
SELECT p.doc_id,
       CAST(p.pos AS BIGINT) AS pos,
       p.word,
       CAST(COALESCE(v.vocab_id, -1) AS BIGINT) AS token_id
FROM pos_tok p LEFT JOIN ({SQL_VOCAB_BUILD}) v ON p.word = v.word
WHERE p.word <> ''
"""


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return X.document_fingerprints(docs, "text", "doc_id", shingle_n=5)


SQL_DOC_FINGERPRINT = f"""
SELECT d.doc_id,
       md5({_NORM_SQL.replace('text', 'd.text')}) AS fingerprint,
       list_min(list_transform(s.sh, x -> md5(x))) AS min_shingle_hash
FROM (SELECT doc_id, text, {_WORDS_SQL} AS w FROM documents) AS d(doc_id, text, w),
     LATERAL (SELECT {_shingles_sql(5)} AS sh) AS s
"""


_WINNOW_K, _WINNOW_W = 5, 4


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing/MOSS fingerprints (operators/text.py:winnow_fingerprints):
    rightmost-minimum k-gram hash per w-window, distinct (pos, fp) per doc.
    Row-local — zero shuffles."""
    docs = _t(spark, sf_dir, "documents")
    return X.winnow_fingerprints(docs, "text", "doc_id", k=_WINNOW_K, w=_WINNOW_W)


def q_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS match step (operators/text.py:winnow_overlap_pairs): doc pairs
    sharing ≥2 winnowing fingerprints, with the LSH-style hot-bucket cap."""
    docs = _t(spark, sf_dir, "documents")
    fps = X.winnow_fingerprints(docs, "text", "doc_id", k=_WINNOW_K, w=_WINNOW_W)
    return X.winnow_overlap_pairs(fps, "doc_id", min_shared=2)


# selected winnowing fingerprints as a reusable CTE chain: k-gram 60-bit
# hashes (md5-prefix ints, the dedup-family convention) → per-window
# rightmost minimum → distinct (doc, pos, fp)
_WINNOW_PICK_SQL = f"""
d AS (
  SELECT doc_id, list_filter({_WORDS_SQL}, x -> x <> '') AS w FROM documents
),
g AS (
  SELECT doc_id,
         list_transform(range(1, len(w) - {_WINNOW_K} + 2),
           i -> CAST(concat('0x', substr(md5(array_to_string(w[i : i + {_WINNOW_K - 1}], ' ')), 1, 15)) AS BIGINT)) AS gh
  FROM d WHERE len(w) >= {_WINNOW_K}
),
win AS (SELECT doc_id, gh, least({_WINNOW_W}, len(gh)) AS L FROM g),
j AS (SELECT doc_id, gh, L, unnest(range(0, len(gh) - L + 1)) AS j0 FROM win),
pick AS (
  SELECT DISTINCT doc_id,
         CAST(j0 + L - list_position(list_reverse(gh[j0 + 1 : j0 + L]),
                                     list_min(gh[j0 + 1 : j0 + L])) AS BIGINT) AS pos,
         list_min(gh[j0 + 1 : j0 + L]) AS fp
  FROM j
)"""


SQL_WINNOW_FINGERPRINTS = f"""
WITH {_WINNOW_PICK_SQL}
SELECT doc_id, pos, fp FROM pick
"""


SQL_WINNOW_OVERLAP = f"""
WITH {_WINNOW_PICK_SQL},
fpd AS (SELECT DISTINCT doc_id, fp FROM pick),
capped AS (
  SELECT doc_id, fp FROM (
    SELECT doc_id, fp, COUNT(*) OVER (PARTITION BY fp) AS b FROM fpd
  ) WHERE b <= 1000
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS n_shared
FROM capped a JOIN capped b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING COUNT(*) >= 2
"""


# --------------------------------------------------------------------------
# duplicate clusters (connected components) + corpus-clean pipeline
# --------------------------------------------------------------------------


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the MinHash near-dup pairs — the iterative
    label-propagation algorithm, oracle-checked against a DuckDB recursive
    CTE transitive closure."""
    from scala_etl_test_spark.operators.cluster import connected_components

    pairs = q_dedup_minhash_pairs(spark, sf_dir)
    return connected_components(pairs)


def _cc_ctes() -> str:
    """Shared recursive-CTE prefix: minhash pairs → symmetric edges →
    transitive closure → min-reachable component per node."""
    return f"""
pairs0 AS (
  SELECT id_a, id_b FROM ({SQL_DEDUP_MINHASH_PAIRS})
), sym AS (
  SELECT id_a AS u, id_b AS v FROM pairs0
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs0
), reach AS (
  SELECT u, v FROM sym
  UNION
  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
), comp AS (
  SELECT u AS node, MIN(v) AS component FROM reach GROUP BY u
)"""


SQL_DEDUP_CLUSTERS = f"""
WITH RECURSIVE {_cc_ctes()}
SELECT node, component FROM comp
"""


def _erasure_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The doc_id erasure closure of the shared ``% 97`` opt-out request
    (opt-outs ∪ every member of their minhash near-dup clusters) — the
    helper ``forget_documents`` / ``forget_from_ivf`` / ``erasure_audit``
    all build their request from.

    Computed per CALL, from the parquet inputs, every time. A previous
    revision memoized the materialized closure per (process, sf_dir) to
    cut gate cost — that is a cross-run result cache keyed on the data
    directory, which makes every timed run after the first measure an
    anti-join against precomputed ids instead of the query. Reverted:
    each invocation pays for its own closure (the CC rounds inside
    ``connected_components`` still ``localCheckpoint`` within the call,
    which is per-run materialization, not cross-run caching)."""
    from scala_etl_test_spark.operators.cluster import forget_closure_ids

    docs = _t(spark, sf_dir, "documents")
    optout = docs.filter(F.col("doc_id") % 97 == 0).select("doc_id")
    pairs = q_dedup_minhash_pairs(spark, sf_dir)
    return forget_closure_ids(optout, pairs, "doc_id")


def q_forget_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten with content closure
    (operators/cluster.py:forget_documents): a deterministic opt-out list
    (doc_id % 97 == 0 — request-sized) is erased TOGETHER with every
    member of each opted-out document's near-dup cluster, because a
    retained duplicate retains the content. Returns the surviving corpus
    ids — the corpus anti-joined against the shared materialized closure
    (:func:`_erasure_closure`; identical output to
    ``forget_documents(docs, optout, pairs)``, which IS this anti-join
    after computing the same closure); oracle recomputes the closure with
    the shared recursive-CTE component prefix."""
    docs = _t(spark, sf_dir, "documents")
    forget_ids = _erasure_closure(spark, sf_dir)
    return docs.join(forget_ids, on="doc_id", how="left_anti").select(
        "doc_id", "source"
    )


SQL_FORGET_DOCUMENTS = f"""
WITH RECURSIVE {_cc_ctes()},
optout AS (SELECT doc_id FROM documents WHERE doc_id % 97 = 0),
doomed AS (
  SELECT DISTINCT component FROM comp
  WHERE node IN (SELECT doc_id FROM optout)
), forget AS (
  SELECT doc_id FROM optout
  UNION
  SELECT node AS doc_id FROM comp
  WHERE component IN (SELECT component FROM doomed)
)
SELECT d.doc_id, d.source FROM documents d
WHERE d.doc_id NOT IN (SELECT doc_id FROM forget)
"""


def q_forget_from_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Erasure reaching the ANN artifact
    (operators/similarity.py:erase_from_assigned /
    operators/cluster.py:forget_closure_ids): the SAME opt-out request as
    ``forget_documents`` (doc_id % 97 == 0), closed over document near-dup
    clusters on the CONTENT side, then applied to the VECTOR side — the
    IVF-assigned embedding corpus (vec_id ↔ doc_id) — because a retained
    embedding of erased content still retains the content. Returns the
    surviving (vec_id, cluster_id) index; the persisted-layout twin
    (cell-local partition rewrite, only touched ``cluster_id=`` dirs) is
    pinned in tests/test_similarity.py::TestForgetFromIvf."""
    emb = _t(spark, sf_dir, "embeddings")
    cent = S.stride_centroids(emb, 16)
    assigned = S.ivf_assign(emb, cent)
    doomed = _erasure_closure(spark, sf_dir)
    return S.erase_from_assigned(assigned, doomed).select("vec_id", "cluster_id")


SQL_FORGET_FROM_IVF = f"""
WITH RECURSIVE {_cc_ctes()},
optout AS (SELECT doc_id FROM documents WHERE doc_id % 97 = 0),
doomed AS (
  SELECT DISTINCT component FROM comp
  WHERE node IN (SELECT doc_id FROM optout)
), forget AS (
  SELECT doc_id FROM optout
  UNION
  SELECT node AS doc_id FROM comp
  WHERE component IN (SELECT component FROM doomed)
),
cent AS (
  SELECT vec_id AS centroid_id, embedding AS cvec
  FROM embeddings ORDER BY vec_id LIMIT 16
),
assign AS (
  SELECT vec_id, cluster_id FROM (
    SELECT e.vec_id, c.centroid_id AS cluster_id,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_COS_SQL.format(a='e.embedding', b='c.cvec')} DESC,
                      c.centroid_id ASC) AS rn
    FROM embeddings e CROSS JOIN cent c
  ) WHERE rn = 1
)
SELECT a.vec_id, a.cluster_id FROM assign a
WHERE a.vec_id NOT IN (SELECT doc_id FROM forget)
"""


def q_erasure_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED erasure path, end to end, under the oracle gate
    (VERDICT r11 blemish 1: ``erasure_audit_status`` was pytest-covered
    but no registered query exercised it, so its code changes aged
    without a fresh driver row): write the IVF-assigned corpus to disk
    ``partitionBy(cluster_id)``, run the SAME closure-erasure request as
    ``forget_from_ivf`` through the cell-local partition-rewrite path
    (operators/similarity.py:forget_from_ivf — staged `_erasure_staging`
    swap, `_ERASURE_AUDIT/request=0` intent persisted BEFORE any byte
    moves), then return :func:`erasure_audit_status`'s post-hoc
    classification of that request. After a completed (uncrashed) run
    every touched cell must read ``applied`` with
    ``rows_actual == rows_after_expected`` — which is precisely what the
    DuckDB oracle replays from the assignment + closure CTEs alone, so a
    swap that silently dropped or resurrected rows value-hash-fails the
    gate, not just a pytest.

    Build-time jobs are the erasure itself (allowlisted in
    tests/test_planbuild_jobs.py — the audit artifact cannot exist
    before the byte-moving request runs); the returned frame is the lazy
    audit-vs-live-counts join. The corpus lives in a fresh tmp dir per
    call (the returned plan reads it, so it is left on disk), sized by
    the embeddings table — cells touched: the request's closure only.
    """
    import tempfile

    emb = _t(spark, sf_dir, "embeddings")
    cent = S.stride_centroids(emb, 16)
    assigned = S.ivf_assign(emb, cent)
    doomed = _erasure_closure(spark, sf_dir)
    corpus_dir = tempfile.mkdtemp(prefix="spark_graft_erasure_audit_")
    assigned.write.mode("overwrite").partitionBy("cluster_id").parquet(corpus_dir)
    S.forget_from_ivf(
        spark, corpus_dir, doomed.select(F.col("doc_id").alias("vec_id"))
    )
    return S.erasure_audit_status(spark, corpus_dir, request_id=0)


SQL_ERASURE_AUDIT = f"""
WITH RECURSIVE {_cc_ctes()},
optout AS (SELECT doc_id FROM documents WHERE doc_id % 97 = 0),
doomed AS (
  SELECT DISTINCT component FROM comp
  WHERE node IN (SELECT doc_id FROM optout)
), forget AS (
  SELECT doc_id FROM optout
  UNION
  SELECT node AS doc_id FROM comp
  WHERE component IN (SELECT component FROM doomed)
),
cent AS (
  SELECT vec_id AS centroid_id, embedding AS cvec
  FROM embeddings ORDER BY vec_id LIMIT 16
),
assign AS (
  SELECT vec_id, cluster_id FROM (
    SELECT e.vec_id, c.centroid_id AS cluster_id,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_COS_SQL.format(a='e.embedding', b='c.cvec')} DESC,
                      c.centroid_id ASC) AS rn
    FROM embeddings e CROSS JOIN cent c
  ) WHERE rn = 1
),
touched AS (
  SELECT cluster_id,
         CAST(COUNT(*) AS BIGINT) AS rows_before,
         CAST(SUM(CASE WHEN vec_id IN (SELECT doc_id FROM forget)
                       THEN 1 ELSE 0 END) AS BIGINT) AS rows_erased
  FROM assign
  GROUP BY cluster_id
  HAVING SUM(CASE WHEN vec_id IN (SELECT doc_id FROM forget)
             THEN 1 ELSE 0 END) > 0
)
SELECT cluster_id, rows_before, rows_erased,
       rows_before - rows_erased AS rows_after_expected,
       rows_before - rows_erased AS rows_actual,
       'applied' AS status
FROM touched
"""


def q_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship training-data pipeline: near-dup cluster → drop non-
    representatives → language ID + quality scoring + token counting →
    quality gate. One composed plan: dedup decisions and text metrics all
    derive from a single documents scan lineage."""
    from scala_etl_test_spark.operators.cluster import dedup_keep_representative

    # spread BEFORE the representative filter: the anti-join broadcasts and
    # therefore preserves its probe side's partitioning, so without the
    # spread the lang/quality/token regex projection runs inside the
    # single-split documents scan stage — profiled as a 0.7 s one-task
    # stage at sf0.1 (the metrics are the compute-dense part of this plan)
    docs = spread(_t(spark, sf_dir, "documents"), "doc_id")
    pairs = q_dedup_minhash_pairs(spark, sf_dir)
    kept = dedup_keep_representative(docs, pairs, "doc_id")
    # all three metrics are row-local Column expressions → ONE projection
    # over one scan (no self-joins); Catalyst CSEs the shared tokenization
    return kept.select(
        "doc_id",
        X.lang_id("text").alias("predicted_lang"),
        X.quality_score("text").alias("quality_score"),
        X.re_token_count("text").alias("re_tokens"),
    ).filter(F.col("quality_score") >= 0.5)


SQL_CORPUS_CLEAN = f"""
WITH RECURSIVE {_cc_ctes()},
losers AS (SELECT node FROM comp WHERE node <> component),
lang AS (SELECT * FROM ({{lang_sql}})),
tq AS (SELECT * FROM ({{quality_sql}})),
tok AS (SELECT * FROM ({{token_sql}}))
SELECT d.doc_id, lang.predicted_lang, tq.quality_score, tok.re_tokens
FROM documents d
JOIN lang ON lang.doc_id = d.doc_id
JOIN tq ON tq.doc_id = d.doc_id
JOIN tok ON tok.doc_id = d.doc_id
WHERE d.doc_id NOT IN (SELECT node FROM losers)
  AND tq.quality_score >= 0.5
"""


def q_corpus_prepare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end prepare: near-dup cluster → keep representatives →
    quality gate → pack the survivors into token-budget sequences per
    source shard, reported as per-pack fill stats. The whole
    dedup→curate→assemble path as ONE declarative plan, oracle-checked —
    what actually ships batches to a trainer."""
    from scala_etl_test_spark.operators.cluster import dedup_keep_representative
    from scala_etl_test_spark.operators.packing import pack_sequences, pack_stats

    docs = _t(spark, sf_dir, "documents")
    pairs = q_dedup_minhash_pairs(spark, sf_dir)
    kept = dedup_keep_representative(docs, pairs, "doc_id")
    clean = kept.select(
        "doc_id",
        "source",
        X.quality_score("text").alias("quality_score"),
        X.re_token_count("text").alias("re_tokens"),
    ).filter(F.col("quality_score") >= 0.5)
    packed = pack_sequences(clean, "re_tokens", "doc_id", "source", budget=_PACK_BUDGET)
    return pack_stats(packed, "source", budget=_PACK_BUDGET)


SQL_CORPUS_PREPARE = f"""
WITH RECURSIVE {_cc_ctes()},
losers AS (SELECT node FROM comp WHERE node <> component),
tq AS (SELECT * FROM ({{quality_sql}})),
tok AS (SELECT * FROM ({{token_sql}})),
clean AS (
  SELECT d.doc_id, d.source, tok.re_tokens
  FROM documents d
  JOIN tq ON tq.doc_id = d.doc_id
  JOIN tok ON tok.doc_id = d.doc_id
  WHERE d.doc_id NOT IN (SELECT node FROM losers)
    AND tq.quality_score >= 0.5
), packed AS (
  SELECT source, re_tokens,
         (SUM(re_tokens) OVER (PARTITION BY source ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING) - re_tokens)
           // {_PACK_BUDGET} AS pack_id
  FROM clean
)
SELECT source, CAST(pack_id AS BIGINT) AS pack_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(re_tokens) AS BIGINT) AS pack_tokens,
       round(CAST(SUM(re_tokens) AS DOUBLE) / {_PACK_BUDGET}, 6) AS fill_ratio
FROM packed GROUP BY source, pack_id
"""


# --------------------------------------------------------------------------
# table profiling (operators/profile.py)
# --------------------------------------------------------------------------

_PROFILE_COLS = ["doc_id", "lang", "source", "n_chars"]


def q_profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass per-column profile (nulls, exact distinct, min/max)."""
    from scala_etl_test_spark.operators.profile import profile_table

    return profile_table(_t(spark, sf_dir, "documents"), _PROFILE_COLS)


def _profile_sql() -> str:
    parts = [
        f"""SELECT '{c}' AS column_name,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(CASE WHEN {c} IS NULL THEN 1 END) AS BIGINT) AS n_nulls,
       CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
       CAST(MIN({c}) AS VARCHAR) AS min_value,
       CAST(MAX({c}) AS VARCHAR) AS max_value
FROM documents"""
        for c in _PROFILE_COLS
    ]
    return "\nUNION ALL\n".join(parts)


SQL_PROFILE_DOCUMENTS = _profile_sql()


# --------------------------------------------------------------------------
# deterministic dataset split (operators/sampling.py)
# --------------------------------------------------------------------------

_SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10-per-language sample (hash-ordered, engine-portable)."""
    from scala_etl_test_spark.operators.sampling import stratified_sample_fixed

    docs = _t(spark, sf_dir, "documents")
    return stratified_sample_fixed(docs, "lang", "doc_id", k=10).select(
        "doc_id", "lang", "source"
    )


SQL_STRATIFIED_SAMPLE = """
SELECT doc_id, lang, source
FROM (
  SELECT doc_id, lang, source,
         row_number() OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents
) WHERE rn <= 10
"""


def q_corpus_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Square-root temperature mixing weights over the ``source`` column."""
    from scala_etl_test_spark.operators.sampling import mixture_weights

    docs = _t(spark, sf_dir, "documents")
    return mixture_weights(docs, "source")


SQL_CORPUS_MIXTURE = """
WITH g AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY source
), t AS (
  SELECT SUM(sqrt(n_docs)) AS denom FROM g
)
SELECT g.source, g.n_docs, round(sqrt(g.n_docs) / t.denom, 9) AS weight
FROM g, t
"""


def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible train/val/test assignment by portable content hash —
    identical in Spark and DuckDB, stable under data growth."""
    from scala_etl_test_spark.operators.sampling import assign_split

    docs = _t(spark, sf_dir, "documents")
    return assign_split(docs, "doc_id", _SPLIT_WEIGHTS).select("doc_id", "split")


SQL_DATASET_SPLIT = """
SELECT doc_id,
       CASE WHEN b < 8000 THEN 'train'
            WHEN b < 9000 THEN 'val'
            ELSE 'test' END AS split
FROM (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10000 AS b
  FROM documents
)
"""


def q_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-contamination audit of the train/val/test assignment
    (operators/contamination.py:split_leakage_audit): near-dup pairs whose
    members straddle a split boundary leak test content into training. Two
    strategies are audited side by side — ``by_doc`` (hash the row id, the
    naive split every pipeline starts with) versus ``by_cluster``
    (operators/sampling.py:leakage_safe_split — hash the connected-component
    representative), which is leak-free BY CONSTRUCTION and therefore
    contributes zero rows. The oracle recomputes both splits and the
    transitive closure with the shared recursive-CTE prefix, so the
    zero-leak claim is checked, not asserted."""
    from scala_etl_test_spark.operators.cluster import connected_components
    from scala_etl_test_spark.operators.contamination import split_leakage_audit
    from scala_etl_test_spark.operators.sampling import assign_split, leakage_safe_split

    docs = _t(spark, sf_dir, "documents")
    pairs = q_dedup_minhash_pairs(spark, sf_dir).transform(tracked_persist)
    naive = assign_split(docs, "doc_id", _SPLIT_WEIGHTS)
    comp = connected_components(pairs)
    safe = leakage_safe_split(docs, pairs, "doc_id", _SPLIT_WEIGHTS, components=comp)
    by_doc = split_leakage_audit(naive, pairs).withColumn("strategy", F.lit("by_doc"))
    by_cluster = split_leakage_audit(safe, pairs).withColumn(
        "strategy", F.lit("by_cluster")
    )
    return (
        by_doc.unionByName(by_cluster)
        .select("strategy", "split_a", "split_b", "n_pairs", "n_docs_a", "n_docs_b")
        .orderBy("strategy", "split_a", "split_b")
    )


_SPLIT_BUCKET_SQL = (
    "CAST(concat('0x', substr(md5(CAST({key} AS VARCHAR)), 1, 15)) AS BIGINT) % 10000"
)
_SPLIT_CASE_SQL = (
    "CASE WHEN b < 8000 THEN 'train' WHEN b < 9000 THEN 'val' ELSE 'test' END"
)


def _split_leakage_sql() -> str:
    return f"""
WITH RECURSIVE {_cc_ctes()},
naive AS (
  SELECT doc_id, {_SPLIT_CASE_SQL} AS split
  FROM (SELECT doc_id, {_SPLIT_BUCKET_SQL.format(key="doc_id")} AS b FROM documents)
), safe AS (
  SELECT doc_id, {_SPLIT_CASE_SQL} AS split
  FROM (
    SELECT d.doc_id,
           {_SPLIT_BUCKET_SQL.format(key="coalesce(c.component, d.doc_id)")} AS b
    FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
  )
), leaks AS (
  SELECT 'by_doc' AS strategy, s1.split AS sp_a, s2.split AS sp_b, p.id_a, p.id_b
  FROM pairs0 p
  JOIN naive s1 ON s1.doc_id = p.id_a
  JOIN naive s2 ON s2.doc_id = p.id_b
  WHERE s1.split <> s2.split
  UNION ALL
  SELECT 'by_cluster', s1.split, s2.split, p.id_a, p.id_b
  FROM pairs0 p
  JOIN safe s1 ON s1.doc_id = p.id_a
  JOIN safe s2 ON s2.doc_id = p.id_b
  WHERE s1.split <> s2.split
)
SELECT strategy,
       LEAST(sp_a, sp_b) AS split_a,
       GREATEST(sp_a, sp_b) AS split_b,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(COUNT(DISTINCT CASE WHEN sp_a < sp_b THEN id_a ELSE id_b END) AS BIGINT) AS n_docs_a,
       CAST(COUNT(DISTINCT CASE WHEN sp_a < sp_b THEN id_b ELSE id_a END) AS BIGINT) AS n_docs_b
FROM leaks
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""


_RECALL_STRATUM_MOD, _RECALL_STRATUM_KEEP = 10, 6  # 60% of doc ids


def q_lsh_recall_audit(
    spark: SparkSession,
    sf_dir: str,
    stratum_keep: int = _RECALL_STRATUM_KEEP,
    stratum_mod: int = _RECALL_STRATUM_MOD,
) -> DataFrame:
    """Index-honesty report for the text-dedup side
    (operators/dedup.py:pair_recall_report): measured recall of the
    MinHash-LSH finder (16 hashes, 4×4 banding — s-curve midpoint ≈ 0.71)
    against the LOSSLESS prefix-filter ground truth at the same verify
    threshold and shingle space, per 0.2-wide Jaccard band. The ANN twin is
    ``ann_recall_report``; this is its exact-set-similarity counterpart —
    the number a corpus owner reads before trusting LSH at a threshold.

    The audit runs on a content-hash STRATUM of the corpus (60% of doc
    ids): exact all-pairs ground truth over a full corpus is exactly what
    LSH exists to avoid, so the production shape is a stratum audit. A
    pair enters the stratum iff BOTH members hash in — probability p² for
    every pair regardless of its similarity — so per-band recall on the
    stratum is an unbiased estimate of corpus recall, and the stratum is
    reproducible (md5, no RNG). Both the finder and the ground truth see
    the same stratum; a pair's LSH band signatures don't depend on what
    else is in the corpus (only the bucket cap does), so stratum recall
    faithfully reflects the banding s-curve being audited.

    ``stratum_keep / stratum_mod`` is the audit knob (default 6/10 = 60%
    for the registry's sf-scale corpora). Cost model: the ground-truth
    side is QUADRATIC IN THE STRATUM by design — candidate pairs scale
    with stratum² × the corpus's shingle-collision density, while the
    finder side stays near-linear — so a production run at p=0.01 (1%)
    costs ~1e-4 of the full-corpus truth while the p² pair-sampling
    argument above keeps the estimate unbiased at any p (wider confidence
    intervals are the only price; n_true per band in the report is the
    sample size to read them from). The report row records the stratum so
    a run at any p is self-describing."""
    from scala_etl_test_spark.operators.sampling import hash_bucket

    docs = _t(spark, sf_dir, "documents").filter(
        hash_bucket(F.col("doc_id"), stratum_mod) < stratum_keep
    )
    # one persisted (id, sh_h) table feeds BOTH sides — the ground truth and
    # the finder audit the same shingle space, and the corpus-sized explode
    # runs once, not twice
    sh = D.shingle_table(docs, "text", "doc_id", _SHINGLE_N).transform(tracked_persist)
    truth = D.prefix_jaccard_join(
        docs, "text", "doc_id", threshold=_MINHASH_T, shingle_n=_SHINGLE_N, shingles=sh
    )
    found = D.minhash_near_duplicates(
        docs,
        "text",
        "doc_id",
        num_hashes=_NUM_HASHES,
        bands=_BANDS,
        rows=_ROWS,
        shingle_n=_SHINGLE_N,
        threshold=_MINHASH_T,
        shingles=sh,
    )
    return (
        D.pair_recall_report(truth, found)
        .withColumn(
            "stratum", F.round(F.lit(stratum_keep / stratum_mod), 6).cast("double")
        )
        .orderBy("band")
    )


def _lsh_recall_sql() -> str:
    stratum = (
        "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) "
        f"% {_RECALL_STRATUM_MOD} < {_RECALL_STRATUM_KEEP}"
    )
    return f"""
WITH sdocs AS (
  SELECT * FROM documents WHERE {stratum}
), truth AS (
  WITH shingled AS (
    SELECT DISTINCT d.doc_id, unnest(sh) AS shingle
    FROM (SELECT doc_id, text, {_WORDS_SQL} AS w FROM sdocs) AS d(doc_id, text, w),
         LATERAL (SELECT {_shingles_sql(_SHINGLE_N)} AS sh) AS s
  ), sizes AS (
    SELECT doc_id, COUNT(*) AS set_size FROM shingled GROUP BY doc_id
  ), common AS (
    SELECT sa.doc_id AS id_a, sb.doc_id AS id_b, COUNT(*) AS n_common
    FROM shingled sa
    JOIN shingled sb ON sb.shingle = sa.shingle AND sa.doc_id < sb.doc_id
    GROUP BY 1, 2
  )
  SELECT co.id_a, co.id_b,
         CAST(co.n_common AS DOUBLE) / (za.set_size + zb.set_size - co.n_common) AS jaccard
  FROM common co
  JOIN sizes za ON za.doc_id = co.id_a
  JOIN sizes zb ON zb.doc_id = co.id_b
  WHERE CAST(co.n_common AS DOUBLE) / (za.set_size + zb.set_size - co.n_common) >= {_MINHASH_T}
), found AS (
  SELECT id_a, id_b FROM ({_minhash_sql("sdocs")})
), banded AS (
  SELECT CAST(LEAST(FLOOR(t.jaccard * 5.0), 4) AS INTEGER) AS band,
         CASE WHEN f.id_a IS NOT NULL THEN 1 ELSE 0 END AS hit
  FROM truth t LEFT JOIN found f ON f.id_a = t.id_a AND f.id_b = t.id_b
)
SELECT band,
       CAST(COUNT(*) AS BIGINT) AS n_true,
       CAST(SUM(hit) AS BIGINT) AS n_found,
       round(CAST(SUM(hit) AS DOUBLE) / COUNT(*), 6) AS recall,
       CAST(round({_RECALL_STRATUM_KEEP / _RECALL_STRATUM_MOD}, 6) AS DOUBLE) AS stratum
FROM banded GROUP BY band ORDER BY band
"""


_N_SHARDS = 16


def q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Export-shard manifest (operators/sampling.py:shard_by_hash):
    content-addressed ``md5(doc_id) mod 16`` shard assignment — row-local,
    reproducible, growth-stable — with per-shard doc count, char mass,
    distinct sources, and corpus share. The manifest a corpus release ships
    next to its ``partitionBy(shard_id)`` layout so consumers can verify
    balance without scanning payloads."""
    from scala_etl_test_spark.operators.sampling import shard_by_hash

    docs = _t(spark, sf_dir, "documents")
    g = (
        shard_by_hash(docs, "doc_id", _N_SHARDS)
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("n_chars_total"),
            F.countDistinct("source").alias("n_sources"),
        )
    )
    t = g.agg(F.sum("n_docs").alias("_total"))
    return (
        g.join(F.broadcast(t))
        .select(
            "shard_id",
            "n_docs",
            "n_chars_total",
            "n_sources",
            F.round(F.col("n_docs").cast("double") / F.col("_total"), 9).alias("share"),
        )
        .orderBy("shard_id")
    )


SQL_SHARD_MANIFEST = f"""
WITH sh AS (
  SELECT CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % {_N_SHARDS} AS shard_id,
         n_chars, source
  FROM documents
), g AS (
  SELECT shard_id,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS n_chars_total,
         CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
  FROM sh GROUP BY shard_id
), t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total FROM g)
SELECT shard_id, n_docs, n_chars_total, n_sources,
       round(CAST(n_docs AS DOUBLE) / total, 9) AS share
FROM g, t ORDER BY shard_id
"""


_DIFF_MOD = 20  # release-simulation buckets: 0 removed, 1 added, 2 edited


def q_release_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Release-to-release corpus diff summary
    (operators/integrity.py:snapshot_diff): every doc_id classified
    added / removed / changed / unchanged via row-local content digests +
    ONE thin full-outer join, then the ≤4-row release-note aggregate —
    the governance artifact consumers read before re-ingesting a new
    corpus version, and the per-id complement to table_checksum's single
    yes/no.

    The 'previous release' is derived deterministically from the live
    documents table (the testdata ships one snapshot): md5 bucket 0 docs
    exist only in the old release (⇒ removed), bucket 1 only in the new
    (⇒ added), bucket 2 had upper-cased text in the old release (⇒
    changed — unless the text has no letters, in which case it is
    genuinely unchanged; both engines replay the same rule). The Spark
    side classifies by digest, the oracle by direct content comparison —
    agreeing answers cross-check the digest construction itself.
    """
    from scala_etl_test_spark.operators.integrity import (
        snapshot_diff,
        snapshot_diff_summary,
    )
    from scala_etl_test_spark.operators.sampling import hash_bucket

    docs = _t(spark, sf_dir, "documents")
    b = hash_bucket(F.col("doc_id"), _DIFF_MOD)
    old = docs.filter(b != 1).select(
        "doc_id",
        F.when(b == 2, F.upper("text")).otherwise(F.col("text")).alias("text"),
        "source",
    )
    new = docs.filter(b != 0).select("doc_id", "text", "source")
    return snapshot_diff_summary(
        snapshot_diff(old, new, "doc_id", ["text", "source"])
    ).orderBy("status")


_DIFF_BUCKET_SQL = (
    "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) "
    f"% {_DIFF_MOD}"
)

SQL_RELEASE_DIFF = f"""
WITH b AS (
  SELECT doc_id, text, source, {_DIFF_BUCKET_SQL} AS bucket FROM documents
), old AS (
  SELECT doc_id, CASE WHEN bucket = 2 THEN upper(text) ELSE text END AS text, source
  FROM b WHERE bucket <> 1
), new AS (
  SELECT doc_id, text, source FROM b WHERE bucket <> 0
), diff AS (
  SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
         CASE WHEN o.doc_id IS NULL THEN 'added'
              WHEN n.doc_id IS NULL THEN 'removed'
              -- null-safe compare (ADVICE r10): the Spark path digests
              -- NULLs via NULL_SENTINEL, so NULL == NULL is 'unchanged';
              -- plain equality would call it 'changed' on any NULL side
              WHEN o.text IS NOT DISTINCT FROM n.text
                   AND o.source IS NOT DISTINCT FROM n.source THEN 'unchanged'
              ELSE 'changed' END AS status
  FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
)
SELECT status, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM diff GROUP BY status ORDER BY status
"""


def q_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distributed covariance of the embedding column
    (operators/similarity.py:embedding_covariance): all-integer fixed-point
    sums (quantize-then-sum, DECIMAL pair products) with ONE double
    division at the end — bit-identical across runs, partitionings, and
    engines, which is what makes a whitening/PCA/OPQ preprocessing step
    auditable. Pair products are built row-locally (no self-join); the
    oracle replays the identical integer arithmetic."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.embedding_covariance(emb).orderBy("dim_i", "dim_j")


SQL_EMBEDDING_COVARIANCE = """
WITH q AS (
  SELECT list_transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS qv
  FROM embeddings
), pair AS (
  SELECT i AS dim_i, j AS dim_j,
         SUM(qv[i + 1] * qv[j + 1]) AS s_ij,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM q,
       LATERAL (SELECT unnest(range(0, len(qv))) AS i) AS a,
       LATERAL (SELECT unnest(range(i, len(qv))) AS j) AS b
  GROUP BY 1, 2
), firsts AS (
  SELECT i AS dim, SUM(qv[i + 1]) AS s
  FROM q, LATERAL (SELECT unnest(range(0, len(qv))) AS i) AS a
  GROUP BY 1
)
SELECT p.dim_i, p.dim_j,
       round(CAST(p.n * p.s_ij - fa.s * fb.s AS DOUBLE)
             / (CAST(p.n AS DOUBLE) * CAST(p.n AS DOUBLE) * 1000000000000.0), 9) AS cov
FROM pair p
JOIN firsts fa ON fa.dim = p.dim_i
JOIN firsts fb ON fb.dim = p.dim_j
ORDER BY 1, 2
"""


def variance_ranked_dims(emb: DataFrame, d: int, vec_col: str = "embedding") -> list[int]:
    """Dimensions ranked by corpus variance, descending — the shared
    driver-side model behind the PQ rotation
    (:func:`variance_rr_permutation`) and the truncation eval
    (:func:`q_ann_truncation_recall`).

    Deterministic and engine-exact: ranked on ``n·Σq² − (Σq)²`` where
    ``q = round(x·10⁶)`` int64 (associative integer sums, the pq.SCALE
    idiom), the products widened to DOUBLE only for the final comparison —
    Spark and the DuckDB oracle land on the identical ranking, ties on the
    smaller dim. The moment SUMs accumulate in ``decimal(38,0)`` (ADVICE
    r11: q² ~ 10¹² per element, so an int64 SUM silently wraps around
    ~10⁷ rows in non-ANSI Spark while DuckDB promotes SUM(BIGINT) to
    HUGEINT — the engines would diverge at exactly the corpus sizes this
    targets; decimal keeps Spark exact to 38 digits, and BOTH engines
    make one correctly-rounded cast to DOUBLE at comparison time). The
    collect is d rows of driver-side model parameters (like the PQ
    codebook), not a data collect; the stats aggregation is one
    O(d)-per-row explode + hash agg on d keys."""
    from scala_etl_test_spark.operators.pq import SCALE

    stats = (
        emb.select(
            F.posexplode(
                F.transform(
                    F.col(vec_col).cast("array<double>"),
                    lambda x: F.round(x * SCALE, 0).cast("long"),
                )
            ).alias("dim", "q")
        )
        .groupBy("dim")
        .agg(
            F.sum(F.col("q").cast("decimal(38,0)")).alias("s"),
            F.sum((F.col("q") * F.col("q")).cast("decimal(38,0)")).alias("ss"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    if len(stats) != d:
        raise ValueError(f"expected {d} dims, saw {len(stats)}")
    ranked = sorted(
        stats,
        key=lambda r: (-(float(r["n"]) * float(r["ss"]) - float(r["s"]) * float(r["s"])), r["dim"]),
    )
    return [row["dim"] for row in ranked]


def variance_rr_permutation(
    emb: DataFrame, d: int, m: int, vec_col: str = "embedding"
) -> list[int]:
    """Variance round-robin dimension permutation — the energy-balancing
    step of parametric OPQ (Ge et al. 2013 §4 allocates PCA components to
    subspaces balancing variance products; this applies the same
    allocation rule directly to the input dimensions, skipping the basis
    change): rank dimensions by variance descending
    (:func:`variance_ranked_dims`) and deal them round-robin across the
    ``m`` PQ subspaces, so each subquantizer sees an equal share of the
    corpus energy instead of whatever the raw contiguous split happens to
    contain.

    Returns ``order`` with ``order[new_pos] = old_dim``."""
    if d % m != 0:
        # ADVICE r11: a non-multiple split silently built a corrupt
        # permutation (position collisions drop dimensions) — fail the
        # same way train_pq_codebook does
        raise ValueError(f"dim {d} not divisible by m={m} subspaces")
    ranked = variance_ranked_dims(emb, d, vec_col)
    dsub = d // m
    order = [0] * d
    for r, dim in enumerate(ranked):
        order[(r % m) * dsub + r // m] = dim
    return order


def q_pq_rotation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evaluation-as-artifact (VERDICT r9 item 4): does an orthogonal
    rotation of the corpus improve PQ recall at an EQUAL code budget?
    Train the same (m=4, k=16) PQ codebook on the raw corpus and on the
    rotated corpus, ADC-rank the same query in each space, and report
    hits against the ONE exact ground truth (brute cosine top-10 on the
    raw corpus — an orthogonal transform preserves cosine, so both
    variants chase identical true neighbors).

    The rotation (VERDICT r10 item 1(a): the round-9 eigh-based PCA
    rotation was the registry's only entry without a DuckDB oracle; a
    driver-side eigendecomposition is not SQL-replayable) is the
    **variance round-robin permutation** of :func:`variance_rr_permutation`
    — parametric OPQ's variance-balancing allocation applied as a pure
    dimension permutation. A permutation matrix is exactly orthogonal, is
    seeded from the already-oracle-checked covariance statistics (the
    diagonal), and replays in SQL as a rank-over-variance + list reindex,
    so this query carries a full value-hash oracle. The eigh-based PCA
    A/B remains available as the ``--pq-rotation-eval`` corpus-CLI
    artifact (cli.py), same shape, driver-side components.

    The delta is MEASURED, not assumed — balancing per-subspace energy
    can help or hurt unrotated-split PQ depending on the spectrum (Ge et
    al. 2013); a corpus owner reads this artifact before enabling the
    rotation, exactly like ann_recall_report before trusting an index.

    Two serve paths per space, at identical budgets (r10 carry-forward
    (c)): ``adc`` — full-scan ADC over the codes (pure coding loss) —
    and ``ivfpq`` — the probed IVF-PQ layout at nprobe=2 of 4
    stride-seeded cells, centroids trained IN each space (routing loss
    compounds coding loss; low-nprobe recall is where a rotation helps
    or hurts most, the billion-vector serving shape of Jégou's IVFADC).

    Rows: (variant ∈ {raw, rotated}, path ∈ {adc, ivfpq}, k, n_hits,
    recall).
    """
    from scala_etl_test_spark.operators.pq import (
        ivf_pq_topk,
        pq_adc_topk,
        pq_encode,
        train_pq_codebook,
    )

    from scala_etl_test_spark.operators.pq import _quantize_py

    k, n_cells, nprobe = 10, 4, 2
    # persisted: the query runs several actions over the same small table
    # (seed fetch, variance stats, brute truth, two ADC scans, two probed
    # scans) — without it each re-reads and re-decodes the parquet
    emb = _t(spark, sf_dir, "embeddings").transform(tracked_persist)
    # ONE driver-side model fetch serves the query vector AND both
    # codebooks (gate-head cost: the rows-only form ran a query fetch plus
    # one codebook collect per space — three jobs where one suffices).
    # train_pq_codebook's arithmetic is replicated exactly: quantized
    # slices of the first _PQ_K rows by id; the rotated codebook is the
    # permuted slices of the SAME rows — a permutation reindex commutes
    # with the elementwise quantization, so this is bit-identical to
    # collecting the rotated frame.
    seed_rows = emb.orderBy("vec_id").limit(_PQ_K).select("vec_id", "embedding").collect()
    seeds = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in seed_rows}
    if not seeds:
        raise ValueError("embeddings table is empty — nothing to evaluate")
    # query = the MIN vec_id's vector (ADVICE r11: the old vec_id==0
    # fallback raised TypeError when no such row existed, and the oracle
    # hardcoded 0 so the advertised ad-hoc-ids case could never gate).
    # seeds holds the first _PQ_K rows by vec_id, so min(seeds) IS the
    # corpus-wide minimum; the oracle keys off ORDER BY vec_id LIMIT 1.
    query_raw = seeds[min(seeds)]
    d = len(query_raw)
    order = variance_rr_permutation(emb, d, _PQ_M)
    v = F.col("embedding").cast("array<double>")
    # row-local reindex — a permutation "matmul" is d getItems, no shuffle
    rotated = emb.select("vec_id", F.array(*[v[i] for i in order]).alias("embedding"))
    query_rot = [query_raw[i] for i in order]

    dsub = d // _PQ_M
    def _codebook(vecs: list[list[float]]) -> list[list[list[int]]]:
        return [
            [[_quantize_py(x) for x in vec[s * dsub : (s + 1) * dsub]] for vec in vecs]
            for s in range(_PQ_M)
        ]

    ordered = [seeds[i] for i in sorted(seeds)]
    codebooks = (
        _codebook(ordered),
        _codebook([[vec[i] for i in order] for vec in ordered]),
    )
    return _pq_rotation_ab(
        emb, query_raw, rotated, query_rot, k, n_cells, nprobe, codebooks=codebooks
    )


def _pq_rotation_ab(
    emb: DataFrame,
    query_raw: list[float],
    rotated: DataFrame,
    query_rot: list[float],
    k: int,
    n_cells: int,
    nprobe: int,
    codebooks: tuple | None = None,
) -> DataFrame:
    """Shared rotation-A/B harness: equal-budget PQ (ADC full scan) and
    IVF-PQ (probed) recall of the raw vs rotated space against the single
    raw-space brute-cosine truth. Used by the registered
    :func:`q_pq_rotation_recall` (permutation rotation, full oracle;
    passes driver-precomputed ``codebooks`` to skip the per-space collect)
    and the CLI's eigh-based PCA rotation artifact
    (:func:`pca_rotation_recall_report`, which trains from the rotated
    frame because a float projection must come from the same Spark
    expressions the corpus encode sees).

    One ``pq_encode`` per space serves BOTH paths (the ADC scan reads the
    same codes the probed path routes) — the encode embeds the whole
    codebook as literal expressions, so halving the encode count halves
    the heaviest part of plan analysis at the head of the driver gate."""
    from scala_etl_test_spark.operators.pq import (
        ivf_pq_topk,
        pq_adc_topk,
        pq_encode,
        train_pq_codebook,
    )

    truth = S.cosine_topk(emb, query_raw, k=k).select("vec_id")

    def _recall_row(variant: str, path: str, got) -> DataFrame:
        return truth.join(got.select("vec_id"), on="vec_id").agg(
            F.lit(variant).alias("variant"),
            F.lit(path).alias("path"),
            F.lit(k).cast("int").alias("k"),
            F.count(F.lit(1)).alias("n_hits"),
            F.round(F.count(F.lit(1)) / F.lit(float(k)), 6).alias("recall"),
        )

    parts = []
    for i, (name, corpus, qv) in enumerate(
        (("raw", emb, query_raw), ("rotated", rotated, query_rot))
    ):
        cb = (
            codebooks[i]
            if codebooks is not None
            else train_pq_codebook(corpus, m=_PQ_M, k=_PQ_K)
        )
        cents = S.stride_centroids(corpus, n_cells)
        enc = pq_encode(S.ivf_assign(corpus, cents), cb, keep_cols=["cluster_id"])
        parts.append(
            _recall_row(name, "adc", pq_adc_topk(enc.select("vec_id", "codes"), cb, qv, k=k))
        )
        parts.append(
            _recall_row(name, "ivfpq", ivf_pq_topk(enc, cents, cb, qv, k=k, nprobe=nprobe))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.orderBy("variant", "path")


def pca_rotation_recall_report(spark: SparkSession, data_dir: str) -> DataFrame:
    """The eigh-based PCA rotation A/B, as a corpus-CLI evaluation artifact
    (``--pq-rotation-eval``; VERDICT r10 item 1 — a driver-side
    eigendecomposition is not SQL-replayable, so this variant lives outside
    the oracle-gated registry, like ``--ann-index``). Same shape and
    budgets as the registered q_pq_rotation_recall; the rotation is the
    full-rank PCA basis (sign-pinned eigenvectors of the exact distributed
    covariance), whose top-k preservation is pinned in
    tests/test_similarity.py."""
    k, n_cells, nprobe = 10, 4, 2
    emb = _t(spark, data_dir, "embeddings").transform(tracked_persist)
    # MIN-vec_id probe, same ADVICE r11 fix as the registered twin: a
    # hardcoded vec_id==0 .first() raises TypeError on ad-hoc corpora
    qrow = emb.orderBy("vec_id").select("embedding").first()
    if qrow is None:
        raise ValueError("embeddings table is empty — nothing to evaluate")
    query_raw = [float(v) for v in qrow["embedding"]]
    d = len(query_raw)
    comps = S.pca_components_from_cov(S.embedding_covariance(emb), d=d, k=d)
    rotated = S.project_to_components(emb, comps).select(
        "vec_id", F.col("projected").alias("embedding")
    )
    query_rot = [sum(a * b for a, b in zip(query_raw, c)) for c in comps]
    return _pq_rotation_ab(emb, query_raw, rotated, query_rot, k, n_cells, nprobe)


# --------------------------------------------------------------------------
# multimodal plumbing (binary payload columns)
# --------------------------------------------------------------------------
#
# The testdata ships no binary table, so the media table is derived
# deterministically from ``documents``: payload = UTF-8 bytes of the text,
# modality from the source column, frame count from the text length. The
# point is the *plumbing* — binary columns, metadata, native payload stats,
# frame-index explosion, Arrow-batched feature extraction — which is exactly
# what a real image/audio table exercises (operators/multimodal.py).


def _media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    from scala_etl_test_spark.operators import multimodal as M

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("source") == "web", "image")
        .when(F.col("source") == "books", "audio")
        .otherwise("video")
        .alias("modality"),
        F.encode("text", "UTF-8").alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
        F.lit(None).cast("int").alias("meta_width"),
        F.lit(None).cast("int").alias("meta_height"),
        (F.lit(1) + F.col("n_chars") % 8).cast("int").alias("meta_n_frames"),
    )


_MODALITY_SQL = (
    "CASE WHEN source = 'web' THEN 'image' "
    "WHEN source = 'books' THEN 'audio' ELSE 'video' END"
)


def q_multimodal_payload_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Payload stats + the TOTAL decode classification in one Arrow pass
    (operators/multimodal.py:payload_stats_with_decode_status) — the
    decode path that never raises on the corpus and surfaces skipped rows
    in-band as ``decode_status`` (VERDICT r11 item 4). On this fixture
    corpus (UTF-8 text payloads, no PIL in the gate container) the
    classification is SQL-replayable: non-image modalities are
    ``no_codec``; an image payload that happens to start with the BMP
    signature ('BM' text) is signature-bearing-but-invalid → ``corrupt``
    (UTF-8 text cannot satisfy BITMAPINFOHEADER's planes==1 NUL byte, and
    the PNG signature byte 0x89 cannot start valid UTF-8 at all); every
    other image payload is ``no_codec``. The statuses are
    environment-stable (try_decode_media docstring), so the oracle holds
    with or without PIL installed."""
    from scala_etl_test_spark.operators.multimodal import payload_stats_with_decode_status

    media = _media_table(spark, sf_dir)
    return payload_stats_with_decode_status(media).select(
        "media_id", "modality", "byte_len", "payload_md5", "decode_status"
    )


SQL_MULTIMODAL_PAYLOAD_STATS = f"""
SELECT doc_id AS media_id,
       {_MODALITY_SQL} AS modality,
       CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
       md5(text) AS payload_md5,
       CASE WHEN {_MODALITY_SQL} != 'image' THEN 'no_codec'
            WHEN substr(text, 1, 2) = 'BM' THEN 'corrupt'
            ELSE 'no_codec' END AS decode_status
FROM documents
"""


def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from scala_etl_test_spark.operators.multimodal import sample_frame_indices

    media = _media_table(spark, sf_dir)
    return sample_frame_indices(media, every=2).select("media_id", "meta_n_frames", "frame_index")


SQL_MULTIMODAL_FRAME_SAMPLE = """
SELECT doc_id AS media_id,
       CAST(1 + n_chars % 8 AS INTEGER) AS meta_n_frames,
       CAST(unnest(range(0, CAST(1 + n_chars % 8 AS INTEGER), 2)) AS INTEGER) AS frame_index
FROM documents
"""


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched feature extraction (mapInPandas byte-histogram), one row
    per media item with the 16-bin histogram rendered as integer counts.

    The raw operator output carries ``features: array<double>`` (normalized
    counts); the driver's canonicalizer sorts result columns with pandas,
    which cannot order list-typed cells (round-2 gate error: "unhashable
    type: 'list'"), so the REGISTERED form projects scalars only.  Each
    count is recovered exactly as round(share * byte_len) — the share was
    computed as count/byte_len in float64, whose error is far below 0.5 —
    and comma-joined in bin order, making the Python-UDF output itself
    fully hash-checkable (the exploded twin ``multimodal_features_long``
    stays as the per-bin float check)."""
    from scala_etl_test_spark.operators.multimodal import extract_features

    media = _media_table(spark, sf_dir)
    feats = extract_features(media)
    counts = F.transform(
        "features",
        lambda x: F.round(x * F.col("byte_len")).cast("long").cast("string"),
    )
    return feats.select(
        "media_id",
        "modality",
        "byte_len",
        "payload_md5",
        F.concat_ws(",", counts).alias("hist_counts"),
    )


SQL_MULTIMODAL_FEATURES = f"""
WITH h AS (
  SELECT doc_id, {_MODALITY_SQL} AS modality,
         hex(encode(text)) AS hx,
         octet_length(encode(text)) AS n,
         md5(text) AS payload_md5
  FROM documents
), bins AS (SELECT unnest(range(0, 16)) AS bin), c AS (
  SELECT h.doc_id, h.modality, h.n, h.payload_md5, b.bin,
         -- count of payload bytes whose high nibble = bin (hex digit at the
         -- odd position of each byte pair); NULL payload reaches the UDF as
         -- b'' so the empty branch yields 0, not NULL
         CASE WHEN COALESCE(h.n, 0) = 0 THEN 0 ELSE
           len(list_filter(range(1, h.n + 1),
               i -> substr(h.hx, 2 * i - 1, 1)
                    = substr('0123456789ABCDEF', CAST(b.bin AS INT) + 1, 1)))
         END AS cnt
  FROM h CROSS JOIN bins b
)
SELECT doc_id AS media_id,
       ANY_VALUE(modality) AS modality,
       CAST(COALESCE(ANY_VALUE(n), 0) AS BIGINT) AS byte_len,
       ANY_VALUE(payload_md5) AS payload_md5,
       string_agg(CAST(cnt AS VARCHAR), ',' ORDER BY bin) AS hist_counts
FROM c
GROUP BY doc_id
"""


def q_multimodal_features_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mapInPandas byte-histogram, exploded to (media_id, bin, value)
    rows — this makes the Python-UDF output itself oracle-checkable: the
    payload is UTF-8 text, so each 16-bin histogram count equals the number
    of bytes with that high nibble, which DuckDB reproduces by counting hex
    digits at odd positions of ``hex(encode(text))``."""
    from scala_etl_test_spark.operators.multimodal import extract_features

    media = _media_table(spark, sf_dir)
    return extract_features(media).select(
        "media_id",
        "modality",
        F.posexplode("features").alias("bin", "value"),
    ).select(
        "media_id",
        "modality",
        F.col("bin").cast("long").alias("bin"),
        F.round("value", 6).alias("value"),
    )


SQL_MULTIMODAL_FEATURES_LONG = f"""
WITH h AS (
  SELECT doc_id, {_MODALITY_SQL} AS modality,
         hex(encode(text)) AS hx,
         octet_length(encode(text)) AS n
  FROM documents
), bins AS (SELECT unnest(range(0, 16)) AS bin)
SELECT h.doc_id AS media_id, h.modality, CAST(b.bin AS BIGINT) AS bin,
       -- COALESCE: a NULL payload reaches the UDF as b'' (0.0 features),
       -- so NULL octet_length must take the zero branch, not yield NULL
       CASE WHEN COALESCE(h.n, 0) = 0 THEN 0.0 ELSE
         round(CAST(len(list_filter(range(1, h.n + 1),
                    i -> substr(h.hx, 2 * i - 1, 1)
                         = substr('0123456789ABCDEF', CAST(b.bin AS INT) + 1, 1)))
               AS DOUBLE) / h.n, 6)
       END AS value
FROM h CROSS JOIN bins b
"""


# corpus_clean/prepare oracles reference the text-metric SQL defined above;
# resolve the placeholders via replace (the token regex contains
# format-hostile braces)
SQL_CORPUS_CLEAN = (
    SQL_CORPUS_CLEAN.replace("{lang_sql}", SQL_LANG_ID)
    .replace("{quality_sql}", SQL_TEXT_QUALITY)
    .replace("{token_sql}", SQL_TOKEN_COUNT)
)
SQL_CORPUS_PREPARE = SQL_CORPUS_PREPARE.replace("{quality_sql}", SQL_TEXT_QUALITY).replace(
    "{token_sql}", SQL_TOKEN_COUNT
)


# --------------------------------------------------------------------------
# registry
# --------------------------------------------------------------------------

# --------------------------------------------------------------------------
# repetition quality (Gopher-style filters)
# --------------------------------------------------------------------------

def q_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-unigram/bigram mass + distinct-word fraction with the
    Gopher repetition gate (operators/text.py:repetition_metrics)."""
    return X.repetition_metrics(_t(spark, sf_dir, "documents"), "text", "doc_id")


SQL_REPETITION_METRICS = f"""
WITH base AS (
  SELECT doc_id, {_WORDS_SQL} AS w FROM documents
), uni AS (
  SELECT doc_id, unnest(w) AS word FROM base
), uc AS (
  SELECT doc_id, word, COUNT(*) AS c FROM uni WHERE word <> '' GROUP BY doc_id, word
), us AS (
  SELECT doc_id, MAX(c) AS top_uni, COUNT(*) AS n_distinct, SUM(c) AS n_words
  FROM uc GROUP BY doc_id
), bg AS (
  SELECT doc_id,
         unnest(CASE WHEN len(w) >= 2
                     THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
                     ELSE CAST([] AS VARCHAR[]) END) AS bigram
  FROM base
), bc AS (
  SELECT doc_id, bigram, COUNT(*) AS c FROM bg GROUP BY doc_id, bigram
), bs AS (
  SELECT doc_id, MAX(c) AS top_bi, SUM(c) AS n_bigrams FROM bc GROUP BY doc_id
)
SELECT us.doc_id,
       CAST(us.n_words AS BIGINT) AS n_words,
       round(CAST(us.n_distinct AS DOUBLE) / us.n_words, 6) AS distinct_word_frac,
       round(CAST(us.top_uni AS DOUBLE) / us.n_words, 6) AS top_unigram_frac,
       round(CAST(bs.top_bi AS DOUBLE) / bs.n_bigrams, 6) AS top_bigram_frac,
       (round(CAST(us.top_uni AS DOUBLE) / us.n_words, 6) > 0.2
        OR COALESCE(round(CAST(bs.top_bi AS DOUBLE) / bs.n_bigrams, 6), 0.0) > 0.18)
         AS repetitive
FROM us LEFT JOIN bs ON us.doc_id = bs.doc_id
"""


# --------------------------------------------------------------------------
# PII scan + redaction audit
# --------------------------------------------------------------------------

def q_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source PII profile over documents with deterministically injected
    identifiers (the synthetic corpus contains none, so the query seeds
    emails/phones/IPs keyed on doc_id — both engines inject identically),
    plus a redaction audit: ``leak_after_redact`` re-runs detection on the
    redacted text and must be 0 (operators/pii.py)."""
    from scala_etl_test_spark.operators import pii as P

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    injected = (
        F.when(
            did % 10 == 0,
            F.concat(F.col("text"), F.lit(" contact user"), did.cast("string"), F.lit("@example.com now")),
        )
        .when(
            did % 10 == 3,
            F.concat(F.col("text"), F.lit(" call 555-123-4567 soon")),
        )
        .when(
            did % 10 == 6,
            F.concat(
                F.col("text"),
                F.lit(" from 10.0."),
                (did % 250).cast("string"),
                F.lit(".1 and user"),
                did.cast("string"),
                F.lit("@test.org"),
            ),
        )
        .otherwise(F.col("text"))
    )
    seeded = docs.select("doc_id", "source", injected.alias("text"))
    profiled = P.detect_pii(seeded, "text", "doc_id", passthrough=["source"])
    leak = None
    for kind in P.PII_PATTERNS:
        c = P.pii_count("redacted", kind)
        leak = c if leak is None else leak + c
    return profiled.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("has_pii").cast("long")).alias("docs_with_pii"),
        F.sum("n_email").alias("n_emails"),
        F.sum("n_phone").alias("n_phones"),
        F.sum("n_ipv4").alias("n_ipv4"),
        F.sum(leak).alias("leak_after_redact"),
    )


def _sql_pii() -> str:
    from scala_etl_test_spark.operators.pii import PII_PATTERNS

    em, ph, ip = PII_PATTERNS["email"], PII_PATTERNS["phone"], PII_PATTERNS["ipv4"]
    redact = (
        f"regexp_replace(regexp_replace(regexp_replace(t, '{em}', '<EMAIL>', 'g'),"
        f" '{ph}', '<PHONE>', 'g'), '{ip}', '<IPV4>', 'g')"
    )
    return f"""
WITH seeded AS (
  SELECT doc_id, source,
         CASE
           WHEN doc_id % 10 = 0 THEN text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
           WHEN doc_id % 10 = 3 THEN text || ' call 555-123-4567 soon'
           WHEN doc_id % 10 = 6 THEN text || ' from 10.0.' || CAST(doc_id % 250 AS VARCHAR) || '.1 and user' || CAST(doc_id AS VARCHAR) || '@test.org'
           ELSE text
         END AS t
  FROM documents
), profiled AS (
  SELECT source,
         len(regexp_extract_all(t, '{em}')) AS n_email,
         len(regexp_extract_all(t, '{ph}')) AS n_phone,
         len(regexp_extract_all(t, '{ip}')) AS n_ipv4,
         len(regexp_extract_all({redact}, '{em}'))
           + len(regexp_extract_all({redact}, '{ph}'))
           + len(regexp_extract_all({redact}, '{ip}')) AS leak
  FROM seeded
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN n_email + n_phone + n_ipv4 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii,
       CAST(SUM(n_email) AS BIGINT) AS n_emails,
       CAST(SUM(n_phone) AS BIGINT) AS n_phones,
       CAST(SUM(n_ipv4) AS BIGINT) AS n_ipv4,
       CAST(SUM(leak) AS BIGINT) AS leak_after_redact
FROM profiled GROUP BY source
"""


SQL_PII_SCAN = _sql_pii()


# --------------------------------------------------------------------------
# benchmark decontamination
# --------------------------------------------------------------------------

def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-gram overlap of the corpus against a held-out benchmark slice
    (doc_id % 97 == 0 stands in for the eval set — deterministic in both
    engines). Returns every contaminated corpus doc with distinct shared
    n-grams and implicated benchmark docs (operators/contamination.py)."""
    from scala_etl_test_spark.operators.contamination import ngram_contamination

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return ngram_contamination(corpus, bench, "text", "doc_id", n=5)


SQL_DECONTAMINATE = f"""
WITH shingled AS (
  SELECT DISTINCT d.doc_id, unnest(sh) AS shingle
  FROM (SELECT doc_id, text, {_WORDS_SQL} AS w FROM documents) AS d(doc_id, text, w),
       LATERAL (SELECT {_shingles_sql(5)} AS sh) AS s
), bench AS (
  SELECT doc_id AS bench_id, shingle FROM shingled WHERE doc_id % 97 = 0
), corpus AS (
  SELECT doc_id, shingle FROM shingled WHERE doc_id % 97 <> 0
)
SELECT c.doc_id,
       CAST(COUNT(DISTINCT c.shingle) AS BIGINT) AS n_shared_ngrams,
       CAST(COUNT(DISTINCT b.bench_id) AS BIGINT) AS n_benchmark_docs
FROM corpus c JOIN bench b ON c.shingle = b.shingle
GROUP BY c.doc_id
HAVING COUNT(DISTINCT c.shingle) >= 1
"""


_BLOOM_M = 1 << 14
_BLOOM_K = 3


def q_decontaminate_bloom_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter contamination screen audited against the exact n-gram
    join (operators/contamination.py:bloom_decontaminate): one summary row
    with both methods' flagged-doc counts, the measured false-positive
    count, and the no-false-negative guarantee as a checked column — the
    sketch's one-sided error surfaced in-band, the same
    evaluation-as-artifact pattern as ann_recall_report."""
    from scala_etl_test_spark.operators.contamination import (
        bloom_decontaminate,
        ngram_contamination,
    )

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    exact = ngram_contamination(corpus, bench, "text", "doc_id", n=5).select(
        F.col("doc_id"), F.lit(True).alias("_e")
    )
    bloom = bloom_decontaminate(
        corpus, bench, "text", "doc_id", n=5, m_bits=_BLOOM_M, k=_BLOOM_K
    ).select(F.col("doc_id"), F.lit(True).alias("_b"))
    j = exact.join(bloom, on="doc_id", how="full_outer")
    # coalesce every aggregate: on a clean corpus j is EMPTY and sum()
    # over zero rows is NULL — the release-gate verdict must read
    # (0, 0, 0, true) in exactly the all-clear case, not NULLs
    zero = F.lit(0).cast("long")
    return j.agg(
        F.coalesce(F.sum(F.when(F.col("_e"), 1).otherwise(0)).cast("long"), zero).alias(
            "n_flagged_exact"
        ),
        F.coalesce(F.sum(F.when(F.col("_b"), 1).otherwise(0)).cast("long"), zero).alias(
            "n_flagged_bloom"
        ),
        F.coalesce(
            F.sum(F.when(F.col("_b") & F.col("_e").isNull(), 1).otherwise(0)).cast("long"),
            zero,
        ).alias("n_false_pos"),
        (
            F.coalesce(
                F.sum(F.when(F.col("_e") & F.col("_b").isNull(), 1).otherwise(0)).cast("long"),
                zero,
            )
            == 0
        ).alias("no_false_negatives"),
    )


def _bloom_pos_sql(col: str, seed: int, m: int) -> str:
    return (
        f"CAST(concat('0x', substr(md5('{seed}' || '|' || {col}), 1, 15)) AS BIGINT) % {m}"
    )


SQL_DECONTAMINATE_BLOOM_AUDIT = f"""
WITH shingled AS (
  SELECT DISTINCT d.doc_id, unnest(sh) AS shingle
  FROM (SELECT doc_id, text, {_WORDS_SQL} AS w FROM documents) AS d(doc_id, text, w),
       LATERAL (SELECT {_shingles_sql(5)} AS sh) AS s
),
bench AS (SELECT DISTINCT shingle FROM shingled WHERE doc_id % 97 = 0),
corpus AS (SELECT doc_id, shingle FROM shingled WHERE doc_id % 97 <> 0),
bits AS (
  SELECT DISTINCT bit FROM (
    SELECT unnest([{", ".join(_bloom_pos_sql("shingle", s, _BLOOM_M) for s in range(_BLOOM_K))}]) AS bit
    FROM bench
  )
),
probes AS (
  SELECT doc_id, shingle, seed, bit FROM (
    SELECT doc_id, shingle,
           unnest([{", ".join(str(s) for s in range(_BLOOM_K))}]) AS seed,
           unnest([{", ".join(_bloom_pos_sql("shingle", s, _BLOOM_M) for s in range(_BLOOM_K))}]) AS bit
    FROM corpus
  )
),
bloom_hits AS (
  SELECT doc_id, shingle
  FROM probes JOIN bits USING (bit)
  GROUP BY doc_id, shingle
  HAVING COUNT(DISTINCT seed) = {_BLOOM_K}
),
bloom_docs AS (SELECT doc_id, COUNT(*) AS n FROM bloom_hits GROUP BY doc_id HAVING COUNT(*) >= 1),
exact_docs AS (
  SELECT c.doc_id
  FROM corpus c JOIN (SELECT shingle FROM shingled WHERE doc_id % 97 = 0) b
    ON c.shingle = b.shingle
  GROUP BY c.doc_id
  HAVING COUNT(DISTINCT c.shingle) >= 1
),
j AS (
  SELECT e.doc_id AS e_id, bd.doc_id AS b_id
  FROM exact_docs e FULL OUTER JOIN bloom_docs bd ON e.doc_id = bd.doc_id
)
SELECT CAST(COALESCE(SUM(CASE WHEN e_id IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_flagged_exact,
       CAST(COALESCE(SUM(CASE WHEN b_id IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_flagged_bloom,
       CAST(COALESCE(SUM(CASE WHEN b_id IS NOT NULL AND e_id IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_false_pos,
       COALESCE(SUM(CASE WHEN e_id IS NOT NULL AND b_id IS NULL THEN 1 ELSE 0 END), 0) = 0 AS no_false_negatives
FROM j
"""


# --------------------------------------------------------------------------
# sequence packing
# --------------------------------------------------------------------------

def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy concat-and-chunk packing of documents into 256-token packs per
    source shard, reported as per-pack fill statistics
    (operators/packing.py)."""
    from scala_etl_test_spark.operators.packing import pack_sequences, pack_stats

    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        "source",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("ws_tokens"),
    )
    packed = pack_sequences(tok, "ws_tokens", "doc_id", "source", budget=_PACK_BUDGET)
    return pack_stats(packed, "source", budget=_PACK_BUDGET)


SQL_PACK_SEQUENCES = f"""
WITH tok AS (
  SELECT doc_id, source,
         CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens
  FROM documents
), packed AS (
  SELECT source, n_tokens,
         (SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) - n_tokens) // {_PACK_BUDGET}
           AS pack_id
  FROM tok
)
SELECT source, CAST(pack_id AS BIGINT) AS pack_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
       round(CAST(SUM(n_tokens) AS DOUBLE) / {_PACK_BUDGET}, 6) AS fill_ratio
FROM packed GROUP BY source, pack_id
"""


# --------------------------------------------------------------------------
# substring-level dedup (operators/spans.py): ExactSubstr spans, per-doc
# duplicated fraction, CCNet-style shared-chunk removal
# --------------------------------------------------------------------------

_SPAN_K = 8  # seed width (words) for duplicate-span detection
_CHUNK_W = 8  # fixed-width segmenter for chunk_dedup (no newlines in corpus)


def q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal verbatim-duplicated word spans (k-gram seeds merged by
    gaps-and-islands; operators/spans.py:duplicate_spans)."""
    from scala_etl_test_spark.operators.spans import duplicate_spans

    return duplicate_spans(_t(spark, sf_dir, "documents"), "text", "doc_id", k=_SPAN_K)


def q_duplicate_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-fraction rollup of duplicate_spans — the
    trim/drop gate signal."""
    from scala_etl_test_spark.operators.spans import duplicate_span_stats

    return duplicate_span_stats(_t(spark, sf_dir, "documents"), "text", "doc_id", k=_SPAN_K)


def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-segment (boilerplate) removal with in-order reassembly
    (operators/spans.py:chunk_dedup)."""
    from scala_etl_test_spark.operators.spans import chunk_dedup

    return chunk_dedup(
        _t(spark, sf_dir, "documents"), "text", "doc_id", chunk_words=_CHUNK_W, min_docs=2
    )


_SPAN_SEEDS_SQL = f"""
  SELECT doc_id, pos,
         md5(array_to_string(list_slice(w, pos + 1, pos + {_SPAN_K}), ' ')) AS gram_h
  FROM (
    SELECT doc_id, w, unnest(range(0, len(w) - {_SPAN_K} + 1)) AS pos
    FROM (SELECT doc_id, {_WORDS_SQL} AS w FROM documents)
    WHERE len(w) >= {_SPAN_K}
  )
"""

SQL_DUPLICATE_SPANS = f"""
WITH seeds AS ({_SPAN_SEEDS_SQL}),
dup AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY gram_h) AS n FROM seeds
  ) WHERE n >= 2
),
isl AS (
  SELECT doc_id, pos,
         pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM dup
)
SELECT doc_id,
       CAST(MIN(pos) AS BIGINT) AS span_start,
       CAST(MAX(pos) + {_SPAN_K} - 1 AS BIGINT) AS span_end,
       CAST(MAX(pos) - MIN(pos) + {_SPAN_K} AS BIGINT) AS span_len
FROM isl GROUP BY doc_id, grp
"""

SQL_DUPLICATE_SPAN_STATS = f"""
WITH spans AS ({SQL_DUPLICATE_SPANS}),
-- dup_words = UNION of span coverage (spans from islands closer than k
-- overlap): each span contributes only words past every earlier span's
-- furthest end (running-max window), mirroring the engine exactly
cov AS (
  SELECT doc_id,
         GREATEST(span_end - GREATEST(span_start - 1,
             COALESCE(MAX(span_end) OVER (
                 PARTITION BY doc_id ORDER BY span_start
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)), 0)
           AS covered
  FROM spans
),
per_doc AS (
  SELECT doc_id, COUNT(*) AS n_spans, SUM(covered) AS dup_words
  FROM cov GROUP BY doc_id
),
base AS (
  SELECT doc_id,
         CAST(len(list_filter({_WORDS_SQL}, x -> x <> '')) AS BIGINT) AS n_words
  FROM documents
)
SELECT b.doc_id, b.n_words,
       CAST(COALESCE(p.n_spans, 0) AS BIGINT) AS n_spans,
       CAST(COALESCE(p.dup_words, 0) AS BIGINT) AS dup_words,
       round(CASE WHEN b.n_words > 0
                  THEN CAST(COALESCE(p.dup_words, 0) AS DOUBLE) / b.n_words
                  ELSE 0.0 END, 6) AS dup_frac
FROM base b LEFT JOIN per_doc p USING (doc_id)
"""

SQL_CHUNK_DEDUP = f"""
WITH wt AS (
  SELECT doc_id, {_WORDS_SQL} AS w FROM documents
),
ex AS (
  SELECT doc_id, cidx,
         array_to_string(list_slice(w, cidx * {_CHUNK_W} + 1, (cidx + 1) * {_CHUNK_W}), ' ') AS chunk
  FROM (
    SELECT doc_id, w,
           unnest(range(0, CAST(ceil(len(w) / {_CHUNK_W}.0) AS INT))) AS cidx
    FROM wt WHERE len(list_filter(w, x -> x <> '')) > 0
  )
),
boiler AS (
  SELECT md5(chunk) AS h FROM ex GROUP BY md5(chunk)
  HAVING COUNT(DISTINCT doc_id) >= 2
),
kept AS (SELECT * FROM ex WHERE md5(chunk) NOT IN (SELECT h FROM boiler)),
re AS (
  SELECT doc_id, string_agg(chunk, ' ' ORDER BY cidx) AS clean_text,
         COUNT(*) AS n_kept
  FROM kept GROUP BY doc_id
),
base AS (
  SELECT doc_id,
         CAST(ceil(len(list_filter(w, x -> x <> '')) / {_CHUNK_W}.0) AS BIGINT) AS n_chunks
  FROM wt WHERE len(list_filter(w, x -> x <> '')) > 0
)
SELECT b.doc_id, COALESCE(re.clean_text, '') AS clean_text,
       b.n_chunks, CAST(COALESCE(re.n_kept, 0) AS BIGINT) AS n_kept
FROM base b LEFT JOIN re USING (doc_id)
"""


def q_unigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy scoring under a corpus-fit unigram LM
    (operators/text.py:unigram_lm_scores)."""
    return X.unigram_lm_scores(_t(spark, sf_dir, "documents"), "text", "doc_id")


SQL_UNIGRAM_LM_SCORE = f"""
WITH tok AS (
  SELECT doc_id, unnest({_WORDS_SQL}) AS word FROM documents
),
t2 AS (SELECT * FROM tok WHERE word <> ''),
freq AS (SELECT word, COUNT(*) AS c FROM t2 GROUP BY word),
tot AS (SELECT SUM(c) AS total FROM freq)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       round(AVG(-log2(CAST(c AS DOUBLE) / total)), 6) AS avg_neg_log2_p
FROM t2 JOIN freq USING (word) CROSS JOIN tot
GROUP BY doc_id
"""


_BM25_TERMS = ["spark", "join", "vector"]
_BM25_K = 15


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval over documents for a fixed query-term bag
    (operators/retrieval.py:bm25_topk) — the sparse first-stage retriever
    complementing the dense ann_* family. Zero-shuffle per-doc stage
    (array tf, no explode), one single-row corpus aggregate, top-k via
    TakeOrderedAndProject."""
    from scala_etl_test_spark.operators.retrieval import bm25_topk

    return bm25_topk(_t(spark, sf_dir, "documents"), _BM25_TERMS, k=_BM25_K)


def _bm25_term_sql(i: int, t: str) -> str:
    return f"CAST(len(list_filter(w, x -> x = '{t}')) AS BIGINT) AS tf_{i}"


_BM25_SCORE_SQL = " + ".join(
    f"ln(1.0 + (n_docs - df_tf_{i} + 0.5) / (df_tf_{i} + 0.5))"
    f" * (CAST(tf_{i} AS DOUBLE) * 2.2"
    f" / (CAST(tf_{i} AS DOUBLE) + 1.2 * (0.25 + 0.75 * dl / avgdl)))"
    for i in range(len(_BM25_TERMS))
)

SQL_BM25_TOPK = f"""
WITH d AS (
  SELECT doc_id,
         CAST(len(list_filter(w, x -> x <> '')) AS BIGINT) AS dl,
         {", ".join(_bm25_term_sql(i, t) for i, t in enumerate(_BM25_TERMS))}
  FROM (SELECT doc_id, {_WORDS_SQL} AS w FROM documents)
),
s AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl,
         {", ".join(f"CAST(SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_tf_{i}" for i in range(len(_BM25_TERMS)))}
  FROM d
),
scored AS (
  SELECT doc_id, round({_BM25_SCORE_SQL}, 6) AS bm25
  FROM d CROSS JOIN s
)
SELECT doc_id, bm25,
       CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS INTEGER) AS rank
FROM scored WHERE bm25 > 0
ORDER BY bm25 DESC, doc_id ASC
LIMIT {_BM25_K}
"""


_RRF_K = 60  # the standard RRF smoothing constant (Cormack et al. 2009)


def q_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval by Reciprocal Rank Fusion: the sparse BM25 top-15
    and the dense cosine top-20 (vec ids align with doc ids in the
    synthetic corpus) fused as Σ 1/(60 + rank) over the lists a doc
    appears in — the standard first-stage pattern of a RAG pipeline,
    robust to the two scorers' incomparable scales because only RANKS
    enter the fusion. Deterministic end to end: both input rankings are
    oracle-checked queries and the fusion is a two-term double sum."""
    sparse = q_bm25_topk(spark, sf_dir).select(
        "doc_id", F.col("rank").cast("int").alias("r_sparse")
    )
    from pyspark.sql import Window

    dense_raw = q_ann_cosine_topk(spark, sf_dir)
    dense = dense_raw.select(
        F.col("vec_id").alias("doc_id"),
        F.row_number()
        .over(Window.orderBy(F.col("cosine").desc(), F.col("vec_id")))
        .cast("int")
        .alias("r_dense"),
    )
    fused = sparse.join(dense, on="doc_id", how="full_outer")
    rrf = F.round(
        F.coalesce(1.0 / (_RRF_K + F.col("r_sparse")), F.lit(0.0))
        + F.coalesce(1.0 / (_RRF_K + F.col("r_dense")), F.lit(0.0)),
        6,
    )
    return (
        fused.select("doc_id", "r_sparse", "r_dense", rrf.alias("rrf"))
        .orderBy(F.col("rrf").desc(), "doc_id")
        .limit(10)
    )


SQL_HYBRID_RETRIEVAL = f"""
WITH sparse AS (
  SELECT doc_id, CAST(rank AS INT) AS r_sparse FROM ({SQL_BM25_TOPK})
),
dense AS (
  SELECT vec_id AS doc_id,
         CAST(row_number() OVER (ORDER BY cosine DESC, vec_id) AS INT) AS r_dense
  FROM ({SQL_ANN_COSINE_TOPK})
)
SELECT COALESCE(s.doc_id, d.doc_id) AS doc_id,
       s.r_sparse, d.r_dense,
       round(COALESCE(1.0 / ({_RRF_K} + s.r_sparse), 0.0)
             + COALESCE(1.0 / ({_RRF_K} + d.r_dense), 0.0), 6) AS rrf
FROM sparse s FULL OUTER JOIN dense d ON s.doc_id = d.doc_id
ORDER BY rrf DESC, doc_id
LIMIT 10
"""


_PR_ITERS = 3
_PR_DAMPING = 0.85


def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (operators/graph.py:pagerank) over the bipartite
    customer↔supplier trade graph (an edge per distinct cust/supp pair that
    traded, both directions) — link-graph authority as a curation quality
    prior. 3 power iterations; edges partitioned by src once, each
    iteration shuffles only the node-sized rank table."""
    from scala_etl_test_spark.operators.graph import pagerank

    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    # Integer node encoding (2·custkey for customers, 2·suppkey+1 for
    # suppliers) end-to-end: the edge table is ~1 row per lineitem, and
    # every per-iteration shuffle/sort keys on the node id — longs hash and
    # compare several times faster than 'c123'-style strings. Decode to the
    # display form only on the final node-sized result.
    pairs = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .distinct()
    )
    # both directions via a row-local explode — a union of two selects over
    # `pairs` would re-run the orders⋈lineitem join and the distinct twice.
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("c").alias("src"), F.col("s").alias("dst")),
                F.struct(F.col("s").alias("src"), F.col("c").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    out = pagerank(edges, num_iters=_PR_ITERS, damping=_PR_DAMPING)
    decoded = F.when(
        F.col("node") % 2 == 0, F.concat(F.lit("c"), (F.col("node") / 2).cast("long").cast("string"))
    ).otherwise(F.concat(F.lit("s"), ((F.col("node") - 1) / 2).cast("long").cast("string")))
    return out.select(decoded.alias("node"), F.col("rank").alias("pr"))


def _pr_unrolled_sql(iters: int, damping: float) -> str:
    ctes = [
        "r0 AS (SELECT node, 1.0 / nn.n AS r FROM nodes CROSS JOIN nn)",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"c{i} AS (SELECT e.dst AS node, SUM(r{i - 1}.r / dg.d) AS contrib\n"
            f"       FROM edges e JOIN r{i - 1} ON e.src = r{i - 1}.node"
            f" JOIN dg ON e.src = dg.src GROUP BY e.dst)"
        )
        ctes.append(
            f"r{i} AS (SELECT nodes.node,"
            f" (1.0 - {damping}) / nn.n + {damping} * COALESCE(c{i}.contrib, 0.0) AS r\n"
            f"       FROM nodes CROSS JOIN nn LEFT JOIN c{i} ON nodes.node = c{i}.node)"
        )
    return ",\n".join(ctes) + (
        f"\nSELECT CASE WHEN node % 2 = 0 THEN 'c' || CAST(node // 2 AS VARCHAR)"
        f"\n            ELSE 's' || CAST((node - 1) // 2 AS VARCHAR) END AS node,"
        f"\n       round(r, 6) AS pr FROM r{iters}"
    )


SQL_GRAPH_PAGERANK = f"""
WITH pairs AS (
  SELECT DISTINCT o.o_custkey * 2 AS c, l.l_suppkey * 2 + 1 AS s
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
edges AS (SELECT c AS src, s AS dst FROM pairs UNION ALL SELECT s, c FROM pairs),
dg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM dg),
nodes AS (SELECT src AS node FROM dg),
{_pr_unrolled_sql(_PR_ITERS, _PR_DAMPING)}
"""


def q_contrastive_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-cell-blocked contrastive hard-negative mining
    (operators/similarity.py:hard_negatives): per anchor, the most-similar
    different-label vector within its cell. Pair generation is bounded by
    cell sizes (Σ c_i²), never corpus n²."""
    emb = _t(spark, sf_dir, "embeddings")
    centroids = _scaled_centroids(emb, _n_rows(sf_dir, "embeddings"))
    # pinned: the cross-label pairwise stage needs cluster-wide width;
    # persisted: the mining self-join consumes the assignment on both sides.
    assigned = pin_by_key(S.ivf_assign(emb, centroids), "cluster_id").transform(tracked_persist)
    return S.hard_negatives(assigned)


SQL_CONTRASTIVE_NEGATIVES = f"""
WITH cent AS (
{_CENT_SCALED_SQL}),
assign AS (
  SELECT vec_id, embedding, label, cluster_id FROM (
    SELECT e.vec_id, e.embedding, e.label, c.centroid_id AS cluster_id,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_COS_SQL.format(a='e.embedding', b='c.cvec')} DESC,
                      c.centroid_id ASC) AS rn
    FROM embeddings e CROSS JOIN cent c
  ) WHERE rn = 1
),
pairs AS (
  SELECT a.vec_id AS anchor_id, b.vec_id AS neg_id,
         round({_COS_SQL.format(a='a.embedding', b='b.embedding')}, 6) AS cosine
  FROM assign a JOIN assign b
    ON a.cluster_id = b.cluster_id AND a.label <> b.label
)
SELECT anchor_id, neg_id, cosine FROM (
  SELECT anchor_id, neg_id, cosine,
         row_number() OVER (PARTITION BY anchor_id
                            ORDER BY cosine DESC, neg_id ASC) AS rn
  FROM pairs
) WHERE rn = 1
"""


_WSAMPLE_SCALE = 0.8


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted deterministic downsampling
    (operators/sampling.py:weighted_sample): keep probability =
    0.8 × quality score, decided by the content-addressed md5 unit — same
    surviving set on any partitioning, cluster size, or engine. Row-local:
    zero shuffles."""
    from scala_etl_test_spark.operators.sampling import weighted_sample

    docs = _t(spark, sf_dir, "documents").withColumn(
        "quality_score", X.quality_score("text")
    )
    out = weighted_sample(docs, "quality_score", "doc_id", scale=_WSAMPLE_SCALE)
    return out.select("doc_id", "quality_score")


SQL_WEIGHTED_SAMPLE = f"""
WITH scored AS (
  SELECT doc_id,
         round((CASE WHEN n_words >= 5 AND n_words <= 10000 THEN 0.5 ELSE 0.0 END)
               + (CASE WHEN round(CAST(n_punct AS DOUBLE) / n_chars, 6) < 0.1 THEN 0.25 ELSE 0.0 END)
               + (CASE WHEN n_stop > 0 THEN 0.25 ELSE 0.0 END), 6) AS quality_score
  FROM (
    SELECT doc_id,
           length(text) AS n_chars,
           len({_WORDS_SQL}) AS n_words,
           len(list_filter({_WORDS_SQL}, x -> x IN ({", ".join(repr(m) for m in _ALL_MARKERS)}))) AS n_stop,
           length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS n_punct
    FROM documents
  )
)
SELECT doc_id, quality_score
FROM (
  SELECT doc_id, quality_score,
         (CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000)
           / 1000000.0 AS u
  FROM scored
)
WHERE u < least(greatest(quality_score * {_WSAMPLE_SCALE}, 0.0), 1.0)
"""


_DSIR_BUCKETS = 1024


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR hashed n-gram importance weights
    (operators/sampling.py:dsir_importance_weights): every document scored
    by log Π p_target/p_source over its hashed unigram+bigram buckets —
    target domain = the ``lang='en'`` slice, source = the full corpus.
    Bucket tables are 1024-row broadcasts; one corpus-sized shuffle (the
    per-doc sum)."""
    from scala_etl_test_spark.operators.sampling import dsir_importance_weights

    docs = _t(spark, sf_dir, "documents")
    target = docs.filter(F.col("lang") == "en")
    return dsir_importance_weights(
        docs, target, "text", "doc_id", n_buckets=_DSIR_BUCKETS
    )


SQL_DSIR_WEIGHTS = f"""
WITH wf AS (
  SELECT doc_id, lang, list_filter({_WORDS_SQL}, x -> x <> '') AS w FROM documents
),
feats AS (
  SELECT doc_id, lang,
         CAST(concat('0x', substr(md5(g), 1, 15)) AS BIGINT) % {_DSIR_BUCKETS} AS bucket
  FROM (
    SELECT doc_id, lang, unnest(w) AS g FROM wf
    UNION ALL
    SELECT doc_id, lang, unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1])) AS g
    FROM wf WHERE len(w) >= 2
  )
),
sc AS (SELECT bucket, COUNT(*) AS c_s FROM feats GROUP BY bucket),
tc AS (SELECT bucket, COUNT(*) AS c_t FROM feats WHERE lang = 'en' GROUP BY bucket),
ts AS (SELECT CAST(COUNT(*) AS DOUBLE) AS t_s FROM feats),
tt AS (SELECT CAST(COUNT(*) AS DOUBLE) AS t_t FROM feats WHERE lang = 'en'),
ratio AS (
  SELECT sc.bucket,
         ln((COALESCE(tc.c_t, 0) + 1) / (tt.t_t + {_DSIR_BUCKETS}))
         - ln((sc.c_s + 1) / (ts.t_s + {_DSIR_BUCKETS})) AS lr
  FROM sc LEFT JOIN tc ON sc.bucket = tc.bucket CROSS JOIN ts CROSS JOIN tt
)
SELECT f.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_feats,
       round(SUM(r.lr), 6) AS log_weight
FROM feats f JOIN ratio r ON f.bucket = r.bucket
GROUP BY f.doc_id
"""


_Z_BITS = 10


def q_events_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over (user_id, quantized value)
    (operators/layout.py): the multi-dimensional sort key that gives
    per-file min/max pruning on BOTH dimensions when the table is laid out
    with zorder_layout. Pure unrolled shift/mask arithmetic — exact across
    engines, no floats anywhere."""
    from scala_etl_test_spark.operators.layout import z_value

    ev = _t(spark, sf_dir, "events")
    vq = F.least(F.greatest(F.floor("value"), F.lit(0)), F.lit(2**_Z_BITS - 1))
    return ev.select(
        "event_id",
        z_value([F.col("user_id"), vq], bits=_Z_BITS).alias("zkey"),
    )


def _z_sql(exprs: list[str], bits: int) -> str:
    d = len(exprs)
    parts = [
        f"((({e} >> {i}) & 1) << {i * d + j})"
        for i in range(bits)
        for j, e in enumerate(exprs)
    ]
    return " | ".join(parts)


SQL_EVENTS_ZORDER = f"""
SELECT event_id,
       {_z_sql(['user_id', 'vq'], _Z_BITS)} AS zkey
FROM (
  SELECT event_id, user_id,
         CAST(least(greatest(floor(value), 0), {2**_Z_BITS - 1}) AS BIGINT) AS vq
  FROM events
)
"""


_BPE_MERGES = 8


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge training (operators/bpe.py:bpe_merges) on the corpus word
    types: one corpus shuffle to (word, count), then 8 vocabulary-sized
    merge iterations. Oracle = the same loop unrolled as chained CTEs with
    windowed greedy occurrence selection."""
    from scala_etl_test_spark.operators.bpe import bpe_merges

    docs = _t(spark, sf_dir, "documents")
    wc = (
        docs.select(F.explode(X.words(F.col("text"))).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return bpe_merges(wc, _BPE_MERGES)


def _bpe_step_sql(i: int) -> str:
    prev = f"s{i - 1}"
    return f"""p{i} AS (
  SELECT s.syms[u.i] AS lhs, s.syms[u.i + 1] AS rhs, SUM(s.n) AS c
  FROM {prev} s, unnest(range(1, len(s.syms))) AS u(i)
  GROUP BY 1, 2
),
t{i} AS MATERIALIZED (SELECT lhs, rhs, c FROM p{i} ORDER BY c DESC, lhs, rhs LIMIT 1),
m{i} AS (
  SELECT wid, i,
         CASE WHEN (i - MIN(i) OVER (PARTITION BY wid, run_id)) % 2 = 0 THEN 1 ELSE 0 END AS keep
  FROM (
    SELECT wid, i, SUM(brk) OVER (PARTITION BY wid ORDER BY i) AS run_id
    FROM (
      SELECT s.wid, u.i,
             CASE WHEN lag(u.i) OVER (PARTITION BY s.wid ORDER BY u.i) = u.i - 1 THEN 0 ELSE 1 END AS brk
      FROM {prev} s CROSS JOIN t{i} t, unnest(range(1, len(s.syms))) AS u(i)
      WHERE s.syms[i] = t.lhs AND s.syms[i + 1] = t.rhs
    )
  )
),
k{i} AS (SELECT wid, list(i ORDER BY i) AS kept FROM m{i} WHERE keep = 1 GROUP BY wid),
s{i} AS MATERIALIZED (
  SELECT s.wid,
         list_transform(
           list_filter(range(1, len(s.syms) + 1),
                       i -> NOT list_contains(coalesce(k.kept, []), i - 1)),
           i -> CASE WHEN list_contains(coalesce(k.kept, []), i)
                     THEN s.syms[i] || s.syms[i + 1] ELSE s.syms[i] END) AS syms,
         s.n
  FROM {prev} s CROSS JOIN t{i} t LEFT JOIN k{i} k ON s.wid = k.wid
)"""


SQL_BPE_MERGES = (
    f"""
WITH w0 AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS n
  FROM (SELECT unnest({_WORDS_SQL}) AS word FROM documents)
  WHERE word <> '' GROUP BY word
),
s0 AS MATERIALIZED (
  SELECT word AS wid,
         list_transform(range(1, length(word) + 1), i -> substr(word, i, 1)) AS syms,
         n
  FROM w0
),
"""
    + ",\n".join(_bpe_step_sql(i) for i in range(1, _BPE_MERGES + 1))
    + "\n"
    + "\nUNION ALL\n".join(
        f"SELECT {i} AS step, lhs, rhs, lhs || rhs AS merged, CAST(c AS BIGINT) AS pair_count FROM t{i}"
        for i in range(1, _BPE_MERGES + 1)
    )
)


_TOKEN_BUDGET = 1_000_000


def q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder apportionment of a 1M-token training budget across
    sources by token mass (operators/sampling.py:token_budget_allocation) —
    all-int64, allocations sum exactly to the budget."""
    from scala_etl_test_spark.operators.sampling import token_budget_allocation

    docs = _t(spark, sf_dir, "documents")
    return token_budget_allocation(docs, "source", "n_chars", _TOKEN_BUDGET)


SQL_TOKEN_BUDGET = f"""
WITH g AS (
  SELECT source, CAST(SUM(n_chars) AS BIGINT) AS group_tokens
  FROM documents GROUP BY source
),
t AS (SELECT SUM(group_tokens) AS total FROM g),
b AS (
  -- HUGEINT product: BIGINT tokens×budget wraps at corpus scale
  SELECT source, group_tokens,
         (CAST(group_tokens AS HUGEINT) * {_TOKEN_BUDGET}) // total AS base,
         (CAST(group_tokens AS HUGEINT) * {_TOKEN_BUDGET}) % total AS rem
  FROM g, t
),
r AS (
  SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rn,
         (SELECT {_TOKEN_BUDGET} - SUM(base) FROM b) AS leftover
  FROM b
)
SELECT source, group_tokens,
       CAST(base + (CASE WHEN rn <= leftover THEN 1 ELSE 0 END) AS BIGINT) AS alloc_tokens
FROM r
"""


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize the corpus with the trained merge list
    (operators/bpe.py:bpe_encode): train 8 merges, collect them as the
    tokenizer model artifact, then encode distinct word types row-locally
    and join back to word positions — (doc_id, pos, tok_idx, token)."""
    from scala_etl_test_spark.operators.bpe import (
        bpe_encode,
        bpe_merges,
        collect_merges,
    )

    docs = _t(spark, sf_dir, "documents")
    wc = (
        docs.select(F.explode(X.words(F.col("text"))).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # train on the full corpus; encode a 1/5 slice to bound gate-compare time
    return bpe_encode(
        docs.filter(F.col("doc_id") % 5 == 0),
        collect_merges(bpe_merges(wc, _BPE_MERGES)),
        "text",
        "doc_id",
    )


# encode = the training CTE chain's FINAL symbol table (s{k}) joined back
# to per-document word positions: same merges, same greedy rewrite, so the
# per-word subword sequences match the engine's literal-fold encode.
SQL_BPE_ENCODE = (
    f"""
WITH w0 AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS n
  FROM (SELECT unnest({_WORDS_SQL}) AS word FROM documents)
  WHERE word <> '' GROUP BY word
),
s0 AS MATERIALIZED (
  SELECT word AS wid,
         list_transform(range(1, length(word) + 1), i -> substr(word, i, 1)) AS syms,
         n
  FROM w0
),
"""
    + ",\n".join(_bpe_step_sql(i) for i in range(1, _BPE_MERGES + 1))
    + f"""
, pos_tok AS (
  SELECT doc_id, generate_subscripts(w, 1) - 1 AS pos, unnest(w) AS word
  FROM (SELECT doc_id, {_WORDS_SQL} AS w FROM documents WHERE doc_id % 5 = 0)
)
SELECT p.doc_id, CAST(p.pos AS BIGINT) AS pos,
       CAST(u.i - 1 AS BIGINT) AS tok_idx, s.syms[u.i] AS token
FROM pos_tok p
JOIN s{_BPE_MERGES} s ON p.word = s.wid,
     unnest(range(1, len(s.syms) + 1)) AS u(i)
WHERE p.word <> ''
"""
)


_OUTLIER_T = 0.0


def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid-distance outlier screen
    (operators/similarity.py:embedding_outliers): exact fixed-point
    centroids, broadcast join back, row-local cosine — mislabeled-row /
    noise detection with a fully reproducible score."""
    return S.embedding_outliers(
        _t(spark, sf_dir, "embeddings"), threshold=_OUTLIER_T
    )


SQL_EMBEDDING_OUTLIERS = f"""
WITH expanded AS (
  SELECT label,
         generate_subscripts(embedding, 1) - 1 AS dim,
         unnest(embedding) AS v
  FROM embeddings
),
sums AS (
  SELECT label, dim,
         SUM(CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS sum_q,
         COUNT(*) AS n_vecs
  FROM expanded GROUP BY label, dim
),
cent AS (
  SELECT label,
         list(CAST(sum_q AS DOUBLE) / (1000000 * n_vecs) ORDER BY dim) AS centroid
  FROM sums GROUP BY label
)
SELECT e.vec_id, e.label,
       round({_COS_SQL.format(a='e.embedding', b='c.centroid')}, 6) AS centroid_cosine,
       round({_COS_SQL.format(a='e.embedding', b='c.centroid')}, 6) < {_OUTLIER_T} AS is_outlier
FROM embeddings e JOIN cent c USING (label)
"""


_KM_K = 8
_KM_ITERS = 3


def q_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spherical Lloyd's k-means training
    (operators/similarity.py:lloyd_spherical), fully oracle-replayed:
    stride seeds, cosine-argmax assignment, fixed-point mean updates, 3
    iterations unrolled as materialized CTEs. Output = final centroids in
    long (cluster, dim, value) form."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = S.lloyd_spherical(emb, _KM_K, num_iters=_KM_ITERS)
    return cents.select(
        "centroid_id", F.posexplode("centroid_vec").alias("dim", "_v")
    ).select(
        "centroid_id",
        F.col("dim").cast("long").alias("dim"),
        F.round("_v", 6).alias("centroid_v"),
    )


def _km_step_sql(i: int) -> str:
    prev = f"c{i - 1}"
    return f"""a{i} AS MATERIALIZED (
  SELECT vec_id, embedding, cluster_id FROM (
    SELECT e.vec_id, e.embedding, c.centroid_id AS cluster_id,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_COS_SQL.format(a='e.embedding', b='c.cvec')} DESC,
                      c.centroid_id ASC) AS rn
    FROM embeddings e CROSS JOIN {prev} c
  ) WHERE rn = 1
),
s{i} AS (
  SELECT cluster_id, dim,
         SUM(CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS sum_q,
         COUNT(*) AS n
  FROM (
    SELECT cluster_id, generate_subscripts(embedding, 1) - 1 AS dim,
           unnest(embedding) AS v
    FROM a{i}
  ) GROUP BY cluster_id, dim
),
n{i} AS (
  SELECT cluster_id,
         list(CAST(sum_q AS DOUBLE) / (1000000 * n) ORDER BY dim) AS cvec_new
  FROM s{i} GROUP BY cluster_id
),
c{i} AS MATERIALIZED (
  SELECT c.centroid_id, coalesce(n.cvec_new, c.cvec) AS cvec
  FROM {prev} c LEFT JOIN n{i} n ON c.centroid_id = n.cluster_id
)"""


SQL_KMEANS_TRAIN = (
    f"""
WITH c0 AS MATERIALIZED (
  SELECT vec_id AS centroid_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
  FROM embeddings ORDER BY vec_id LIMIT {_KM_K}
),
"""
    + ",\n".join(_km_step_sql(i) for i in range(1, _KM_ITERS + 1))
    + f"""
SELECT centroid_id, CAST(dim AS BIGINT) AS dim, round(v, 6) AS centroid_v
FROM (
  SELECT centroid_id, generate_subscripts(cvec, 1) - 1 AS dim, unnest(cvec) AS v
  FROM c{_KM_ITERS}
)
"""
)


_SEMDEDUP_T = 0.35


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-pattern semantic deduplication
    (operators/similarity.py:semantic_dedup): cluster-blocked smaller-id
    neighbor rule, pair generation bounded by cell sizes."""
    emb = _t(spark, sf_dir, "embeddings")
    centroids = _scaled_centroids(emb, _n_rows(sf_dir, "embeddings"))
    return S.semantic_dedup(emb, centroids, threshold=_SEMDEDUP_T)


SQL_SEMANTIC_DEDUP = f"""
WITH cent AS (
{_CENT_SCALED_SQL}),
assign AS (
  SELECT vec_id, embedding, cluster_id FROM (
    SELECT e.vec_id, e.embedding, c.centroid_id AS cluster_id,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_COS_SQL.format(a='e.embedding', b='c.cvec')} DESC,
                      c.centroid_id ASC) AS rn
    FROM embeddings e CROSS JOIN cent c
  ) WHERE rn = 1
),
dups AS (
  SELECT DISTINCT b.vec_id
  FROM assign a JOIN assign b
    ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
  WHERE round({_COS_SQL.format(a='a.embedding', b='b.embedding')}, 6) >= {_SEMDEDUP_T}
)
SELECT s.vec_id, s.cluster_id,
       s.vec_id IN (SELECT vec_id FROM dups) AS is_semantic_dup
FROM assign s
"""


def q_semantic_dedup_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact greedy keep-first-by-id sweep
    (operators/similarity.py:semantic_dedup_greedy): true SemDeDup-sweep
    semantics — a removed vector no longer blocks later vectors — run as an
    applyInPandas per cluster; oracle is a DuckDB recursive CTE that
    replays the sweep one id per step, carrying the kept set as a list."""
    emb = _t(spark, sf_dir, "embeddings")
    centroids = _scaled_centroids(emb, _n_rows(sf_dir, "embeddings"))
    return S.semantic_dedup_greedy(emb, centroids, threshold=_SEMDEDUP_T)


SQL_SEMANTIC_DEDUP_GREEDY = f"""
WITH RECURSIVE cent AS (
{_CENT_SCALED_SQL}),
assign AS MATERIALIZED (
  SELECT vec_id, embedding, cluster_id FROM (
    SELECT e.vec_id, e.embedding, c.centroid_id AS cluster_id,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_COS_SQL.format(a='e.embedding', b='c.cvec')} DESC,
                      c.centroid_id ASC) AS rn
    FROM embeddings e CROSS JOIN cent c
  ) WHERE rn = 1
),
ids AS MATERIALIZED (
  SELECT vec_id, cluster_id,
         ROW_NUMBER() OVER (PARTITION BY cluster_id ORDER BY vec_id) AS rn
  FROM assign
),
-- per id: its smaller-id >=threshold neighbors within the cluster
nb AS MATERIALIZED (
  SELECT a.cluster_id, b.vec_id AS id_b, list(a.vec_id) AS nbrs
  FROM assign a JOIN assign b
    ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
  WHERE round({_COS_SQL.format(a='a.embedding', b='b.embedding')}, 6) >= {_SEMDEDUP_T}
  GROUP BY a.cluster_id, b.vec_id
),
-- replay the greedy sweep: one step per (cluster, rank), carrying the kept
-- set as a list; a vector joins the kept set iff none of its smaller-id
-- neighbors is already in it
walk AS (
  SELECT cluster_id, 0 AS step, CAST([] AS BIGINT[]) AS kept
  FROM (SELECT DISTINCT cluster_id FROM assign)
  UNION ALL
  SELECT w.cluster_id, w.step + 1,
         CASE WHEN COALESCE(len(list_intersect(w.kept, n.nbrs)), 0) > 0
              THEN w.kept ELSE list_append(w.kept, i.vec_id) END
  FROM walk w
  JOIN ids i ON i.cluster_id = w.cluster_id AND i.rn = w.step + 1
  LEFT JOIN nb n ON n.cluster_id = w.cluster_id AND n.id_b = i.vec_id
),
final AS (
  SELECT cluster_id, kept FROM (
    SELECT cluster_id, kept,
           ROW_NUMBER() OVER (PARTITION BY cluster_id ORDER BY step DESC) AS r
    FROM walk) WHERE r = 1
)
SELECT i.vec_id, i.cluster_id,
       NOT list_contains(f.kept, i.vec_id) AS is_semantic_dup
FROM ids i JOIN final f ON i.cluster_id = f.cluster_id
"""


def q_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Add-1-smoothed bigram-LM perplexity proxy
    (operators/text.py:bigram_lm_scores) — the transition-aware quality
    signal the unigram model cannot see."""
    return X.bigram_lm_scores(_t(spark, sf_dir, "documents"), "text", "doc_id")


SQL_BIGRAM_LM_SCORE = f"""
WITH wt AS (
  SELECT doc_id, list_filter({_WORDS_SQL}, x -> x <> '') AS w FROM documents
),
pairs AS (
  SELECT doc_id, w[u.i] AS w1, w[u.i + 1] AS w2
  FROM wt, unnest(range(1, len(w))) AS u(i)
),
cb AS (SELECT w1, w2, COUNT(*) AS cb FROM pairs GROUP BY 1, 2),
cx AS (SELECT w1, COUNT(*) AS cx FROM pairs GROUP BY 1),
vv AS (
  SELECT CAST(COUNT(DISTINCT word) AS BIGINT) AS v
  FROM (SELECT unnest(w) AS word FROM wt)
)
SELECT p.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       round(AVG(-log2((cb.cb + 1.0) / (cx.cx + vv.v))), 6) AS avg_neg_log2_p
FROM pairs p
JOIN cb ON p.w1 = cb.w1 AND p.w2 = cb.w2
JOIN cx ON p.w1 = cx.w1
CROSS JOIN vv
GROUP BY p.doc_id
"""


def q_label_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised label spreading (operators/labelspread.py): 20% of
    vectors keep their label as seeds, labels propagate 2 rounds of
    majority vote along the cell-blocked 5-NN graph. Deterministic end to
    end, so the oracle replays the graph and both voting rounds."""
    from scala_etl_test_spark.operators.labelspread import (
        knn_edges_in_cells,
        label_spread,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cent = _scaled_centroids(emb, _n_rows(sf_dir, "embeddings"))
    # pinned + persisted: the kNN self-join consumes the assignment on BOTH
    # sides and its pairwise fanout needs cluster-wide parallelism
    assigned = pin_by_key(S.ivf_assign(emb, cent), "cluster_id").transform(tracked_persist)
    edges = knn_edges_in_cells(assigned, k=5)
    seeds = emb.filter(F.col("vec_id") % 5 == 0).select(
        F.col("vec_id").alias("node"), "label"
    )
    out = label_spread(seeds, edges, rounds=2)
    return out.select(
        "node", F.col("label").cast("long").alias("label"), "assigned_round"
    )


def _ls_round_sql(r: int) -> str:
    prev = f"l{r - 1}"
    return f"""v{r} AS (
  SELECT k.src, l.label, COUNT(*) AS votes
  FROM knn k JOIN {prev} l ON k.dst = l.node
  GROUP BY 1, 2
),
w{r} AS (
  SELECT src AS node, label FROM (
    SELECT src, label,
           row_number() OVER (PARTITION BY src ORDER BY votes DESC, label) AS rn
    FROM v{r})
  WHERE rn = 1
),
l{r} AS MATERIALIZED (
  SELECT * FROM {prev}
  UNION ALL
  SELECT w.node, w.label, {r} AS assigned_round
  FROM w{r} w WHERE w.node NOT IN (SELECT node FROM {prev})
)"""


SQL_LABEL_SPREAD = (
    f"""
WITH cent AS (
{_CENT_SCALED_SQL}),
assign AS MATERIALIZED (
  SELECT vec_id, embedding, cluster_id FROM (
    SELECT e.vec_id, e.embedding, c.centroid_id AS cluster_id,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_COS_SQL.format(a='e.embedding', b='c.cvec')} DESC,
                      c.centroid_id ASC) AS rn
    FROM embeddings e CROSS JOIN cent c
  ) WHERE rn = 1
),
pairs AS (
  SELECT a.vec_id AS src, b.vec_id AS dst,
         round({_COS_SQL.format(a='a.embedding', b='b.embedding')}, 6) AS sim
  FROM assign a JOIN assign b
    ON a.cluster_id = b.cluster_id AND a.vec_id <> b.vec_id
),
knn AS MATERIALIZED (
  SELECT src, dst FROM (
    SELECT src, dst,
           row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst) AS rn
    FROM pairs)
  WHERE rn <= 5
),
l0 AS (
  SELECT vec_id AS node, label, 0 AS assigned_round
  FROM embeddings WHERE vec_id % 5 = 0
),
"""
    + ",\n".join(_ls_round_sql(r) for r in (1, 2))
    + """
SELECT node, CAST(label AS BIGINT) AS label, CAST(assigned_round AS INT) AS assigned_round
FROM l2
"""
)



# --------------------------------------------------------------------------
# product quantization: encode + ADC top-k
# --------------------------------------------------------------------------

_PQ_M = 4  # subspaces
_PQ_K = 16  # codewords per subspace


def _pq_cb(spark: SparkSession, sf_dir: str):
    from scala_etl_test_spark.operators.pq import train_pq_codebook

    return train_pq_codebook(_t(spark, sf_dir, "embeddings"), m=_PQ_M, k=_PQ_K)


def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ compression of the whole embedding table to (vec_id, sub_idx,
    code) — row-local encode against the literal codebook, zero shuffles
    (operators/pq.py:pq_encode). Long form so the gate hashes scalars."""
    from scala_etl_test_spark.operators.pq import pq_encode

    emb = _t(spark, sf_dir, "embeddings")
    wide = pq_encode(emb, _pq_cb(spark, sf_dir))
    return wide.select(
        "vec_id", F.posexplode("codes").alias("sub_idx", "code")
    ).select("vec_id", F.col("sub_idx").cast("int").alias("sub_idx"), "code")


def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-10 for the vec_id=0 query over PQ codes: m lookups + adds
    per row into TakeOrderedAndProject (operators/pq.py:pq_adc_topk)."""
    from scala_etl_test_spark.operators.pq import pq_adc_topk, pq_encode

    emb = _t(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    cb = _pq_cb(spark, sf_dir)
    return pq_adc_topk(pq_encode(emb, cb), cb, [float(v) for v in query], k=10)


# DuckDB twin of the fixed-point PQ pipeline. Quantization is
# round-half-away-from-zero on the same double product in both engines
# (Spark HALF_UP == DuckDB round == operators.pq._quantize_py), and every
# distance is an exact int64 sum, so codes and ADC distances hash-match.
_PQ_SQL_COMMON = f"""
WITH params AS (SELECT len(embedding) // {_PQ_M} AS dsub FROM embeddings LIMIT 1),
subs AS (SELECT unnest(range(0, {_PQ_M})) AS sub_idx),
quant AS (
  SELECT vec_id, sub_idx,
         list_transform(
           embedding[(sub_idx * dsub + 1):((sub_idx + 1) * dsub)],
           x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS vq
  FROM embeddings, subs, params
),
seeds AS (
  SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS code
  FROM embeddings ORDER BY vec_id LIMIT {_PQ_K}
),
cb AS (
  SELECT q.sub_idx, s.code, q.vq AS cw
  FROM quant q JOIN seeds s ON q.vec_id = s.vec_id
),
-- HUGEINT squares (r13 embeddings edge sweep): one data component at
-- |x| ≳ 3e3 overflows a BIGINT squared diff at SCALE=1e6 — 128-bit on
-- both sides (HUGEINT here, decimal(38,0) in operators/pq.py:_int_l2)
-- moves the horizon to |x| ~ 1e12
dists AS (
  SELECT q.vec_id, q.sub_idx, c.code,
         list_sum(list_transform(range(1, len(q.vq) + 1),
                  i -> CAST(q.vq[i] - c.cw[i] AS HUGEINT) * CAST(q.vq[i] - c.cw[i] AS HUGEINT))) AS dist
  FROM quant q JOIN cb c ON q.sub_idx = c.sub_idx
),
codes AS (
  SELECT vec_id, sub_idx, code
  FROM (SELECT vec_id, sub_idx, code,
               row_number() OVER (PARTITION BY vec_id, sub_idx
                                  ORDER BY dist, code) AS rn
        FROM dists)
  WHERE rn = 1
)
"""

SQL_PQ_CODES = (
    _PQ_SQL_COMMON
    + """
SELECT vec_id, CAST(sub_idx AS INT) AS sub_idx, CAST(code AS INT) AS code
FROM codes
"""
)

SQL_ANN_PQ_TOPK = (
    _PQ_SQL_COMMON
    + """
, qsub AS (SELECT sub_idx, vq AS qv FROM quant WHERE vec_id = 0),
dtab AS (
  SELECT c.sub_idx, c.code,
         list_sum(list_transform(range(1, len(q.qv) + 1),
                  i -> CAST(q.qv[i] - c.cw[i] AS HUGEINT) * CAST(q.qv[i] - c.cw[i] AS HUGEINT))) AS dist
  FROM cb c JOIN qsub q ON c.sub_idx = q.sub_idx
)
SELECT k.vec_id, CAST(SUM(d.dist) AS BIGINT) AS adc_dist
FROM codes k JOIN dtab d ON k.sub_idx = d.sub_idx AND k.code = d.code
GROUP BY k.vec_id
ORDER BY adc_dist, k.vec_id
LIMIT 10
"""
)


def q_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (IVFADC) query path: stride centroids, argmax-cosine cell
    assignment, PQ codes carried with the cell routing key, nprobe=4 probe,
    ADC ranking only inside probed cells (operators/pq.py:ivf_pq_topk)."""
    from scala_etl_test_spark.operators.pq import ivf_pq_topk, pq_encode

    emb = _t(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    cent = S.stride_centroids(emb, 16)
    assigned = S.ivf_assign(emb, cent)
    cb = _pq_cb(spark, sf_dir)
    enc = pq_encode(assigned, cb, keep_cols=["cluster_id"])
    return ivf_pq_topk(enc, cent, cb, [float(v) for v in query], k=10, nprobe=4)


SQL_ANN_IVFPQ_TOPK = (
    _PQ_SQL_COMMON
    + f"""
, q0 AS (SELECT embedding AS qv0 FROM embeddings WHERE vec_id = 0),
cent AS (
  SELECT vec_id AS centroid_id, embedding AS cvec
  FROM embeddings ORDER BY vec_id LIMIT 16
),
assign AS (
  SELECT vec_id, cluster_id FROM (
    SELECT e.vec_id, c.centroid_id AS cluster_id,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY {{cos_ec}} DESC, c.centroid_id ASC) AS rn
    FROM embeddings e CROSS JOIN cent c
  ) WHERE rn = 1
),
probe AS (
  SELECT centroid_id AS cluster_id FROM cent, q0
  ORDER BY {{cos_cq}} DESC, centroid_id ASC
  LIMIT 4
),
qsub AS (SELECT sub_idx, vq AS qv FROM quant WHERE vec_id = 0),
dtab AS (
  SELECT c.sub_idx, c.code,
         list_sum(list_transform(range(1, len(q.qv) + 1),
                  i -> CAST(q.qv[i] - c.cw[i] AS HUGEINT) * CAST(q.qv[i] - c.cw[i] AS HUGEINT))) AS dist
  FROM cb c JOIN qsub q ON c.sub_idx = q.sub_idx
)
SELECT k.vec_id, CAST(SUM(d.dist) AS BIGINT) AS adc_dist
FROM codes k
JOIN assign a ON k.vec_id = a.vec_id
JOIN probe p ON a.cluster_id = p.cluster_id
JOIN dtab d ON k.sub_idx = d.sub_idx AND k.code = d.code
GROUP BY k.vec_id
ORDER BY adc_dist, k.vec_id
LIMIT 10
"""
).format(
    cos_ec=_COS_SQL.format(a="e.embedding", b="c.cvec"),
    cos_cq=_COS_SQL.format(a="cvec", b="q0.qv0"),
)


def _pq_recall_variant_sql(pre: str, corpus: str, n_cells: int, nprobe: int) -> str:
    """Per-variant CTE block for SQL_PQ_ROTATION_RECALL: replay the full
    PQ pipeline (quantize → codebook from the shared first-K seeds → codes
    → query distance table → ADC top-10) plus the probed IVF-PQ path
    (first-``n_cells`` centroids IN this space, float-cosine argmax
    assignment, top-``nprobe`` probe) over the ``corpus`` CTE. Mirrors
    _PQ_SQL_COMMON / SQL_ANN_IVFPQ_TOPK with every intermediate prefixed
    so the raw and rotated spaces coexist in one statement."""
    cos_ec = _COS_SQL.format(a="e.embedding", b="c.cvec")
    cos_cq = _COS_SQL.format(a="cvec", b="q0.qv0")
    return f"""
{pre}quant AS (
  SELECT vec_id, sub_idx,
         list_transform(
           embedding[(sub_idx * dsub + 1):((sub_idx + 1) * dsub)],
           x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS vq
  FROM {corpus}, subs, params
),
{pre}cb AS (
  SELECT q.sub_idx, s.code, q.vq AS cw
  FROM {pre}quant q JOIN seeds s ON q.vec_id = s.vec_id
),
{pre}codes AS (
  SELECT vec_id, sub_idx, code
  FROM (SELECT q.vec_id, q.sub_idx, c.code,
               row_number() OVER (PARTITION BY q.vec_id, q.sub_idx
                 ORDER BY list_sum(list_transform(range(1, len(q.vq) + 1),
                          i -> CAST(q.vq[i] - c.cw[i] AS HUGEINT) * CAST(q.vq[i] - c.cw[i] AS HUGEINT))), c.code) AS rn
        FROM {pre}quant q JOIN {pre}cb c ON q.sub_idx = c.sub_idx)
  WHERE rn = 1
),
{pre}dtab AS (
  SELECT c.sub_idx, c.code,
         list_sum(list_transform(range(1, len(q.vq) + 1),
                  i -> CAST(q.vq[i] - c.cw[i] AS HUGEINT) * CAST(q.vq[i] - c.cw[i] AS HUGEINT))) AS dist
  FROM {pre}cb c JOIN (SELECT sub_idx, vq FROM {pre}quant
                       WHERE vec_id = (SELECT MIN(vec_id) FROM {corpus})) q
    ON c.sub_idx = q.sub_idx
),
{pre}adc AS (
  SELECT k.vec_id
  FROM {pre}codes k JOIN {pre}dtab d ON k.sub_idx = d.sub_idx AND k.code = d.code
  GROUP BY k.vec_id
  ORDER BY SUM(d.dist), k.vec_id
  LIMIT 10
),
{pre}q0 AS (SELECT embedding AS qv0 FROM {corpus}
            WHERE vec_id = (SELECT MIN(vec_id) FROM {corpus})),
{pre}cent AS (
  SELECT vec_id AS centroid_id, embedding AS cvec
  FROM {corpus} ORDER BY vec_id LIMIT {n_cells}
),
{pre}assign AS (
  SELECT vec_id, cluster_id FROM (
    SELECT e.vec_id, c.centroid_id AS cluster_id,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY {cos_ec} DESC, c.centroid_id ASC) AS rn
    FROM {corpus} e CROSS JOIN {pre}cent c
  ) WHERE rn = 1
),
{pre}probe AS (
  SELECT centroid_id AS cluster_id FROM {pre}cent, {pre}q0 q0
  ORDER BY {cos_cq} DESC, centroid_id ASC
  LIMIT {nprobe}
),
{pre}ivfpq AS (
  SELECT k.vec_id
  FROM {pre}codes k
  JOIN {pre}assign a ON k.vec_id = a.vec_id
  JOIN {pre}probe p ON a.cluster_id = p.cluster_id
  JOIN {pre}dtab d ON k.sub_idx = d.sub_idx AND k.code = d.code
  GROUP BY k.vec_id
  ORDER BY SUM(d.dist), k.vec_id
  LIMIT 10
)"""


def _pq_recall_row_sql(variant: str, path: str, topk: str) -> str:
    return f"""
  SELECT '{variant}' AS variant, '{path}' AS path, CAST(10 AS INT) AS k,
         COUNT(*) AS n_hits, round(COUNT(*) / 10.0, 6) AS recall
  FROM truth t JOIN {topk} g ON t.vec_id = g.vec_id"""


# Full-oracle twin of q_pq_rotation_recall (VERDICT r10 item 1(a)): the
# variance round-robin permutation is replayed from the same exact int64
# moment sums (rank on n·Σq² − (Σq)² widened to DOUBLE, ties on dim), the
# rotated corpus is a list reindex, and both spaces run the identical
# PQ/IVF-PQ replay as SQL_ANN_PQ_TOPK / SQL_ANN_IVFPQ_TOPK against the one
# raw-space brute-cosine truth.
SQL_PQ_ROTATION_RECALL = (
    f"""
WITH params AS (SELECT len(embedding) // {_PQ_M} AS dsub FROM embeddings LIMIT 1),
subs AS (SELECT unnest(range(0, {_PQ_M})) AS sub_idx),
seeds AS (
  SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS code
  FROM embeddings ORDER BY vec_id LIMIT {_PQ_K}
),
qd AS (
  SELECT i - 1 AS dim,
         CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS q
  FROM embeddings, LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) AS ix
),
vstat AS (
  SELECT dim, SUM(q) AS s, SUM(q * q) AS ss, CAST(COUNT(*) AS BIGINT) AS n
  FROM qd GROUP BY 1
),
ranked AS (
  SELECT dim,
         ROW_NUMBER() OVER (
           ORDER BY CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
                    - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) DESC,
                    dim) - 1 AS r
  FROM vstat
),
pvec AS (
  SELECT list(dim ORDER BY (r % {_PQ_M}) * dsub + r // {_PQ_M}) AS p
  FROM ranked, params
),
rot AS (
  SELECT e.vec_id,
         list_transform(range(1, len(e.embedding) + 1),
                        i -> e.embedding[pv.p[i] + 1]) AS embedding
  FROM embeddings e, pvec pv
),
q0raw AS (SELECT embedding AS qv FROM embeddings ORDER BY vec_id LIMIT 1),
truth AS (
  SELECT e.vec_id
  FROM embeddings e, q0raw q
  ORDER BY round({_COS_SQL.format(a="e.embedding", b="q.qv")}, 6) DESC, e.vec_id
  LIMIT 10
),"""
    + _pq_recall_variant_sql("raw_", "embeddings", 4, 2)
    + ","
    + _pq_recall_variant_sql("rot_", "rot", 4, 2)
    + f"""
SELECT * FROM (
{_pq_recall_row_sql("raw", "adc", "raw_adc")}
  UNION ALL
{_pq_recall_row_sql("raw", "ivfpq", "raw_ivfpq")}
  UNION ALL
{_pq_recall_row_sql("rotated", "adc", "rot_adc")}
  UNION ALL
{_pq_recall_row_sql("rotated", "ivfpq", "rot_ivfpq")}
)
ORDER BY variant, path
"""
)


def q_ann_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style dimension-truncation evaluation — the third
    member of the eval-as-artifact family (ann_recall_report,
    pq_rotation_recall): at an EQUAL dimension budget, does
    variance-ordered truncation beat naive prefix truncation? Serving
    embeddings truncated to their first ``d_keep`` components is the
    standard cheap-retrieval trick (Kusupati et al. 2022's Matryoshka
    embeddings make models FRONT-LOAD information so prefixes work;
    for embeddings trained without that objective, reordering dimensions
    by corpus variance before truncating is the data-driven stand-in —
    same top-variance-first intuition as PCA truncation, without a basis
    change, so it stays SQL-replayable from the oracle-checked variance
    ranking of :func:`variance_ranked_dims`).

    Brute cosine top-10 in each truncated space is scored against the one
    full-dimension exact truth. Rows: (variant ∈ {raw_prefix,
    variance_ordered}, d_keep ∈ {8, 16}, k, n_hits, recall). A corpus
    owner reads this before enabling truncated serving, exactly like
    ann_recall_report before trusting an index; at 100 TB every variant
    is one narrow row-local projection + the same
    TakeOrderedAndProject-over-scan shape the brute baseline uses —
    no shuffle, no join beyond the ≤k-row truth intersection."""
    k = 10
    emb = _t(spark, sf_dir, "embeddings").transform(tracked_persist)
    # query = the MIN vec_id's vector (ADVICE r11 fix shared with
    # q_pq_rotation_recall: .first() on a hardcoded vec_id==0 filter
    # raised TypeError for corpora whose ids start elsewhere)
    qrow = emb.orderBy("vec_id").select("embedding").first()
    if qrow is None:
        raise ValueError("embeddings table is empty — nothing to evaluate")
    query = [float(x) for x in qrow["embedding"]]
    d = len(query)
    ranked = variance_ranked_dims(emb, d)
    truth = S.cosine_topk(emb, query, k=k).select("vec_id")
    v = F.col("embedding").cast("array<double>")

    parts = []
    for variant, order in (("raw_prefix", list(range(d))), ("variance_ordered", ranked)):
        for d_keep in (8, 16):
            dims = order[:d_keep]
            trunc = emb.select("vec_id", F.array(*[v[i] for i in dims]).alias("embedding"))
            got = S.cosine_topk(trunc, [query[i] for i in dims], k=k).select("vec_id")
            parts.append(
                truth.join(got, on="vec_id").agg(
                    F.lit(variant).alias("variant"),
                    F.lit(d_keep).cast("int").alias("d_keep"),
                    F.lit(k).cast("int").alias("k"),
                    F.count(F.lit(1)).alias("n_hits"),
                    F.round(F.count(F.lit(1)) / F.lit(float(k)), 6).alias("recall"),
                )
            )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.orderBy("variant", "d_keep")


def _trunc_recall_row_sql(variant: str, d_keep: int, vec_expr: str, q_expr: str) -> str:
    """One (variant, d_keep) row: brute cosine top-10 in the truncated
    space (``vec_expr``/``q_expr`` produce the truncated corpus/query
    lists) intersected with the full-d truth."""
    cos = _COS_SQL.format(a="tv", b="tq")
    return f"""
  SELECT '{variant}' AS variant, CAST({d_keep} AS INT) AS d_keep,
         CAST(10 AS INT) AS k, COUNT(*) AS n_hits,
         round(COUNT(*) / 10.0, 6) AS recall
  FROM truth t JOIN (
    SELECT vec_id FROM (
      SELECT e.vec_id, {vec_expr} AS tv, {q_expr} AS tq
      FROM embeddings e, q0 q
    )
    ORDER BY round({cos}, 6) DESC, vec_id
    LIMIT 10
  ) g ON t.vec_id = g.vec_id"""


# Full-oracle twin of q_ann_truncation_recall: the variance ranking is the
# same exact-int64 moment replay as SQL_PQ_ROTATION_RECALL's, prefix
# truncation is a list slice, variance-ordered truncation a list reindex
# through the rank vector, and each variant's brute cosine top-10 is scored
# against the one full-d truth.
SQL_ANN_TRUNCATION_RECALL = (
    """
WITH qd AS (
  SELECT i - 1 AS dim,
         CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS q
  FROM embeddings, LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) AS ix
),
vstat AS (
  SELECT dim, SUM(q) AS s, SUM(q * q) AS ss, CAST(COUNT(*) AS BIGINT) AS n
  FROM qd GROUP BY 1
),
ranked AS (
  SELECT dim,
         ROW_NUMBER() OVER (
           ORDER BY CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
                    - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) DESC,
                    dim) - 1 AS r
  FROM vstat
),
rv AS (SELECT list(dim ORDER BY r) AS rd FROM ranked),
q0 AS (SELECT embedding AS qv, rd FROM embeddings, rv ORDER BY vec_id LIMIT 1),
truth AS (
  SELECT e.vec_id
  FROM embeddings e, q0 q
  ORDER BY round("""
    + _COS_SQL.format(a="e.embedding", b="q.qv")
    + """, 6) DESC, e.vec_id
  LIMIT 10
)"""
    + """
SELECT * FROM (
"""
    + "\n  UNION ALL\n".join(
        _trunc_recall_row_sql(variant, dk, vec_expr.format(dk=dk), q_expr.format(dk=dk))
        for variant, vec_expr, q_expr in (
            ("raw_prefix", "e.embedding[1:{dk}]", "q.qv[1:{dk}]"),
            (
                "variance_ordered",
                "list_transform(range(1, {dk} + 1), i -> e.embedding[q.rd[i] + 1])",
                "list_transform(range(1, {dk} + 1), i -> q.qv[q.rd[i] + 1])",
            ),
        )
        for dk in (8, 16)
    )
    + """
)
ORDER BY variant, d_keep
"""
)


def q_ann_ivfpq_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual IVFADC (operators/pq.py:residual_pq_encode /
    ivf_pq_residual_topk): PQ codes of x − c(x) with a per-probed-cell
    distance table entering the plan as one literal map — the codebook
    spends its codewords on the tight residual distribution instead of the
    full embedding range."""
    from scala_etl_test_spark.operators.pq import (
        ivf_pq_residual_topk,
        residual_pq_encode,
        train_residual_codebook,
    )

    emb = _t(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    cent = S.stride_centroids(emb, 16)
    cb = train_residual_codebook(emb, cent, m=_PQ_M, k=_PQ_K)
    enc = residual_pq_encode(emb, cent, cb)
    return ivf_pq_residual_topk(enc, cent, cb, [float(v) for v in query], k=10, nprobe=4)


SQL_ANN_IVFPQ_RESIDUAL_TOPK = f"""
WITH params AS (SELECT len(embedding) // {_PQ_M} AS dsub FROM embeddings LIMIT 1),
cent AS (
  SELECT vec_id AS centroid_id, embedding AS cvec
  FROM embeddings ORDER BY vec_id LIMIT 16
),
assign AS MATERIALIZED (
  SELECT vec_id, embedding, cluster_id FROM (
    SELECT e.vec_id, e.embedding, c.centroid_id AS cluster_id,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY {{cos_ec}} DESC, c.centroid_id ASC) AS rn
    FROM embeddings e CROSS JOIN cent c
  ) WHERE rn = 1
),
resid AS (
  SELECT a.vec_id, a.cluster_id,
         list_transform(range(1, len(a.embedding) + 1),
                        i -> CAST(a.embedding[i] AS DOUBLE) - CAST(c.cvec[i] AS DOUBLE)) AS rv
  FROM assign a JOIN cent c ON a.cluster_id = c.centroid_id
),
subs AS (SELECT unnest(range(0, {_PQ_M})) AS sub_idx),
quantr AS MATERIALIZED (
  SELECT vec_id, cluster_id, sub_idx,
         list_transform(rv[(sub_idx * dsub + 1):((sub_idx + 1) * dsub)],
                        x -> CAST(round(x * 1000000) AS BIGINT)) AS vq
  FROM resid, subs, params
),
seeds AS (
  SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS code
  FROM embeddings ORDER BY vec_id LIMIT {_PQ_K}
),
cbr AS (
  SELECT q.sub_idx, s.code, q.vq AS cw
  FROM quantr q JOIN seeds s ON q.vec_id = s.vec_id
),
dists AS (
  SELECT q.vec_id, q.sub_idx, c.code,
         list_sum(list_transform(range(1, len(q.vq) + 1),
                  i -> CAST(q.vq[i] - c.cw[i] AS HUGEINT) * CAST(q.vq[i] - c.cw[i] AS HUGEINT))) AS dist
  FROM quantr q JOIN cbr c ON q.sub_idx = c.sub_idx
),
codes AS (
  SELECT vec_id, sub_idx, code
  FROM (SELECT vec_id, sub_idx, code,
               row_number() OVER (PARTITION BY vec_id, sub_idx
                                  ORDER BY dist, code) AS rn
        FROM dists)
  WHERE rn = 1
),
q0 AS (SELECT embedding AS qv0 FROM embeddings WHERE vec_id = 0),
probe AS (
  SELECT centroid_id AS cluster_id, cvec FROM cent, q0
  ORDER BY {{cos_cq}} DESC, centroid_id ASC
  LIMIT 4
),
qres AS (
  SELECT p.cluster_id, sub_idx,
         list_transform(
           (list_transform(range(1, len(q0.qv0) + 1),
                           i -> CAST(q0.qv0[i] AS DOUBLE) - CAST(p.cvec[i] AS DOUBLE))
           )[(sub_idx * dsub + 1):((sub_idx + 1) * dsub)],
           x -> CAST(round(x * 1000000) AS BIGINT)) AS qv
  FROM probe p, q0, subs, params
),
dtab AS (
  SELECT r.cluster_id, c.sub_idx, c.code,
         list_sum(list_transform(range(1, len(r.qv) + 1),
                  i -> (r.qv[i] - c.cw[i]) * (r.qv[i] - c.cw[i]))) AS dist
  FROM cbr c JOIN qres r ON c.sub_idx = r.sub_idx
)
SELECT k.vec_id, CAST(SUM(d.dist) AS BIGINT) AS adc_dist
FROM codes k
JOIN assign a ON k.vec_id = a.vec_id
JOIN probe p ON a.cluster_id = p.cluster_id
JOIN dtab d ON a.cluster_id = d.cluster_id
           AND k.sub_idx = d.sub_idx AND k.code = d.code
GROUP BY k.vec_id
ORDER BY adc_dist, k.vec_id
LIMIT 10
""".format(
    cos_ec=_COS_SQL.format(a="e.embedding", b="c.cvec"),
    cos_cq=_COS_SQL.format(a="cvec", b="q0.qv0"),
)


_TRI_MIN_SUPPORT = 2


def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts (operators/graph.py:triangle_count) over
    the co-purchase graph (part pairs ordered together ≥ 2 times) — the
    clustering-coefficient building block, via degree orientation so hub
    parts cannot generate quadratic wedges. Top-50 by count."""
    from scala_etl_test_spark.operators.graph import triangle_count

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()
    a = li.select("ok", F.col("pk").alias("src"))
    b = li.select("ok", F.col("pk").alias("dst"))
    edges = (
        a.join(b, on="ok")
        .filter(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= _TRI_MIN_SUPPORT)
        .select("src", "dst")
    )
    return (
        triangle_count(edges)
        .orderBy(F.col("n_triangles").desc(), "node")
        .limit(50)
    )


SQL_GRAPH_TRIANGLES = f"""
WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
edges AS (
  SELECT a.pk AS a, c.pk AS b
  FROM li a JOIN li c ON a.ok = c.ok AND a.pk < c.pk
  GROUP BY 1, 2
  HAVING COUNT(*) >= {_TRI_MIN_SUPPORT}
),
deg AS (
  SELECT v, COUNT(*) AS d FROM (
    SELECT a AS v FROM edges UNION ALL SELECT b AS v FROM edges
  ) GROUP BY v
),
oriented AS (
  SELECT CASE WHEN (da.d < db.d) OR (da.d = db.d AND e.a < e.b) THEN e.a ELSE e.b END AS lo,
         CASE WHEN (da.d < db.d) OR (da.d = db.d AND e.a < e.b) THEN e.b ELSE e.a END AS hi
  FROM edges e JOIN deg da ON e.a = da.v JOIN deg db ON e.b = db.v
),
closed AS (
  SELECT e1.lo AS x, e1.hi AS y, e2.hi AS z
  FROM oriented e1
  JOIN oriented e2 ON e1.hi = e2.lo
  WHERE EXISTS (SELECT 1 FROM oriented o WHERE o.lo = e1.lo AND o.hi = e2.hi)
)
SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
  SELECT x AS node FROM closed
  UNION ALL SELECT y FROM closed
  UNION ALL SELECT z FROM closed
) GROUP BY node
ORDER BY n_triangles DESC, node
LIMIT 50
"""


_CF_MIN_SUPPORT = 3
_CF_TOP_K = 5


def q_item_cf_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-kNN collaborative filtering (operators/recsys.py): top-5 cosine
    neighbors per part from order-basket co-occurrence — the precomputed
    similarity table an item-based recommender serves from, vs
    copurchase_pairs' support/lift screen over the same baskets."""
    from scala_etl_test_spark.operators.recsys import item_item_cosine

    li = _t(spark, sf_dir, "lineitem")
    return item_item_cosine(
        li,
        "l_orderkey",
        "l_partkey",
        min_support=_CF_MIN_SUPPORT,
        top_k=_CF_TOP_K,
        basket_cap=_CF_BASKET_CAP,
    ).orderBy("item", "rank")


_CF_BASKET_CAP = 1000


SQL_ITEM_CF_NEIGHBORS = f"""
WITH bi0 AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
-- basket_cap: the Spark operator excludes baskets wider than the cap
-- BEFORE pair generation and computes item totals over the capped set;
-- the oracle must encode the same recall tradeoff or diverge the moment
-- a basket exceeds the cap
bi AS (
  SELECT b, i FROM bi0
  WHERE b IN (SELECT b FROM bi0 GROUP BY b HAVING COUNT(*) <= {{cap}})
),
co AS (
  SELECT a.i AS i, c.i AS j, CAST(COUNT(*) AS BIGINT) AS co_baskets
  FROM bi a JOIN bi c ON a.b = c.b AND a.i < c.i
  GROUP BY 1, 2
  HAVING COUNT(*) >= {_CF_MIN_SUPPORT}
),
item_n AS (SELECT i, COUNT(*) AS n FROM bi GROUP BY i),
sym AS (
  SELECT i, j, co_baskets FROM co
  UNION ALL
  SELECT j AS i, i AS j, co_baskets FROM co
),
ranked AS (
  SELECT s.i AS item, s.j AS neighbor, s.co_baskets,
         round(s.co_baskets / sqrt(CAST(a.n AS DOUBLE) * b.n), 6) AS cosine
  FROM sym s JOIN item_n a ON s.i = a.i JOIN item_n b ON s.j = b.i
),
topk AS (
  SELECT *,
         CAST(row_number() OVER (PARTITION BY item ORDER BY cosine DESC, neighbor) AS INT)
           AS rank
  FROM ranked
)
SELECT item, neighbor, co_baskets, cosine, rank
FROM topk WHERE rank <= {_CF_TOP_K}
ORDER BY item, rank
""".format(cap=_CF_BASKET_CAP)


# Fellegi–Sunter weights (declared m/u estimates, see operators/linkage.py):
# name agree is near-conclusive (+10 / −1), segment is weak (+2 / −4),
# balance proximity is moderate (+3 / −3). Thresholds split match ≥ 8,
# possible ≥ 3.5, else non-match.
_FS_W = {"name": (10.0, -1.0), "segment": (2.0, -4.0), "bal": (3.0, -3.0)}
_FS_UPPER, _FS_LOWER = 8.0, 3.5


def _name_block_digits(n_customers: int) -> int:
    """Decade-stepped width of the name-suffix blocking key for
    entity_resolution: nation alone is a FIXED 25-value key, so blocked
    pairs grow n²/25 — a quadratic the r6 stress sweep flagged. Adding the
    last ``d`` digits of the name (stable under the twin's corruption
    model: the typo edits the 'Customer' word, never the digit tail)
    multiplies the key space by 10^d; stepping d per corpus decade keeps
    the average block near a constant ~12 rows, so candidate pairs grow
    LINEARLY with the corpus. At warehouse scale d comes from catalog row
    counts; the thresholds are integer compares so DuckDB lands on the
    identical d (no float log at a decade boundary)."""
    if n_customers <= 3_000:
        return 1
    if n_customers <= 30_000:
        return 2
    if n_customers <= 300_000:
        return 3
    if n_customers <= 3_000_000:
        return 4
    return 5


def q_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi–Sunter record linkage (operators/linkage.py) evaluated as an
    artifact: link the customer table against a deterministically-degraded
    twin of itself (keyless: every third name typo'd, every fifth segment
    wiped, balances rounded), blocking on (nation, corpus-scaled name
    digit suffix — see :func:`_name_block_digits`), and report per
    decision bucket how many pairs landed there and how many are TRUE
    links (the twin secretly remembers its source key). The
    evaluation-as-gated-query pattern of ann_recall_report applied to
    entity resolution. The blocking key is computed from each side's OWN
    name (keyless linkage: the suffix survives the corruption model, so
    every true pair stays co-blocked — recall is pinned by the
    n_true_links totals the gate hashes)."""
    from scala_etl_test_spark.operators.linkage import blocked_pairs, fellegi_sunter_score

    cust = _t(spark, sf_dir, "customer")
    d_blk = _name_block_digits(_n_rows(sf_dir, "customer"))
    dirty = cust.select(
        F.col("c_custkey").alias("true_id"),
        F.when(
            F.col("c_custkey") % 3 == 0,
            F.regexp_replace("c_name", "Customer", "Custmer"),
        )
        .otherwise(F.col("c_name"))
        .alias("name"),
        F.col("c_nationkey"),
        F.when(F.col("c_custkey") % 5 == 0, F.lit("UNKNOWN"))
        .otherwise(F.col("c_mktsegment"))
        .alias("segment"),
        F.floor("c_acctbal").cast("double").alias("bal"),
    )
    cust_b = cust.withColumn("blk", F.substring("c_name", -d_blk, d_blk))
    dirty = dirty.withColumn("blk", F.substring("name", -d_blk, d_blk))
    pairs = blocked_pairs(cust_b, dirty, ["c_nationkey", "blk"])
    scored = fellegi_sunter_score(
        pairs,
        [
            ("name", F.col("l_c_name") == F.col("r_name"), *_FS_W["name"]),
            ("segment", F.col("l_c_mktsegment") == F.col("r_segment"), *_FS_W["segment"]),
            ("bal", F.abs(F.col("l_c_acctbal") - F.col("r_bal")) < 1.0, *_FS_W["bal"]),
        ],
        upper=_FS_UPPER,
        lower=_FS_LOWER,
    )
    return (
        scored.groupBy("decision")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(
                F.when(F.col("l_c_custkey") == F.col("r_true_id"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_true_links"),
            F.min("score").alias("min_score"),
            F.max("score").alias("max_score"),
        )
        .orderBy("decision")
    )


SQL_ENTITY_RESOLUTION = f"""
WITH blkd AS (
  SELECT CASE WHEN COUNT(*) <= 3000 THEN 1
              WHEN COUNT(*) <= 30000 THEN 2
              WHEN COUNT(*) <= 300000 THEN 3
              WHEN COUNT(*) <= 3000000 THEN 4
              ELSE 5 END AS d
  FROM customer
),
dirty AS (
  SELECT c_custkey AS true_id,
         CASE WHEN c_custkey % 3 = 0 THEN replace(c_name, 'Customer', 'Custmer')
              ELSE c_name END AS name,
         c_nationkey,
         CASE WHEN c_custkey % 5 = 0 THEN 'UNKNOWN' ELSE c_mktsegment END AS segment,
         CAST(floor(c_acctbal) AS DOUBLE) AS bal
  FROM customer
),
scored AS (
  SELECT c.c_custkey, d.true_id,
         (CASE WHEN c.c_name = d.name THEN {_FS_W["name"][0]} ELSE {_FS_W["name"][1]} END
          + CASE WHEN c.c_mktsegment = d.segment THEN {_FS_W["segment"][0]} ELSE {_FS_W["segment"][1]} END
          + CASE WHEN abs(c.c_acctbal - d.bal) < 1.0 THEN {_FS_W["bal"][0]} ELSE {_FS_W["bal"][1]} END
         ) AS score
  FROM customer c
  CROSS JOIN blkd b
  JOIN dirty d ON c.c_nationkey = d.c_nationkey
             AND substr(c.c_name, -b.d, b.d) = substr(d.name, -b.d, b.d)
)
SELECT CASE WHEN score >= {_FS_UPPER} THEN 'match'
            WHEN score >= {_FS_LOWER} THEN 'possible'
            ELSE 'non_match' END AS decision,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(CASE WHEN c_custkey = true_id THEN 1 ELSE 0 END) AS BIGINT) AS n_true_links,
       round(MIN(score), 6) AS min_score,
       round(MAX(score), 6) AS max_score
FROM scored
GROUP BY 1
ORDER BY decision
"""


_EDIT_MAX_DIST = 4


def q_dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level exact near-dup pairs within Levenshtein distance 4
    (operators/dedup.py:edit_distance_pairs) — the edit-distance member of
    the dedup family (typo/OCR variants that word-level Jaccard misses
    when edits split tokens). Length-band bucket join + pigeonhole chunk
    filter bound the quadratic verify; both filters are exact, so the
    oracle is the same algebra, not a recall check."""
    docs = _t(spark, sf_dir, "documents")
    return D.edit_distance_pairs(
        docs, "text", "doc_id", max_dist=_EDIT_MAX_DIST
    ).orderBy("id_a", "id_b")


def _edit_chunk_filter_sql(k: int) -> str:
    """OR over the k+1 pigeonhole chunks of the smaller-id text, searched
    verbatim in the other text (mirrors the Spark operator exactly)."""
    n = k + 1
    conds = []
    for i in range(n):
        ln = f"length(t1) // {n}" if i < n - 1 else f"length(t1) - {n - 1} * (length(t1) // {n})"
        conds.append(f"position(substr(t1, 1 + {i} * (length(t1) // {n}), {ln}) IN t2) > 0")
    return "(" + "\n     OR ".join(conds) + ")"


SQL_DEDUP_EDIT_DISTANCE = f"""
WITH n AS (
  SELECT doc_id, {_NORM_SQL} AS t FROM documents
),
b AS (SELECT doc_id, t, length(t) AS len FROM n WHERE length(t) >= {_EDIT_MAX_DIST + 1}),
cand AS (
  SELECT a.doc_id AS id_a, c.doc_id AS id_b, a.t AS t1, c.t AS t2
  FROM b a JOIN b c
    ON a.doc_id < c.doc_id AND abs(a.len - c.len) <= {_EDIT_MAX_DIST}
),
-- MATERIALIZED: without the fence DuckDB is free to evaluate the outer
-- levenshtein predicate against every length-band candidate (quadratic in
-- text length) instead of only the ~1% that survive the chunk filter.
filt AS MATERIALIZED (
  SELECT * FROM cand WHERE {{chunk_filter}}
)
SELECT id_a, id_b, CAST(levenshtein(t1, t2) AS BIGINT) AS dist
FROM filt
WHERE levenshtein(t1, t2) <= {_EDIT_MAX_DIST}
ORDER BY id_a, id_b
""".format(chunk_filter=_edit_chunk_filter_sql(_EDIT_MAX_DIST))


_KL_ALPHA = 0.5


def q_source_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram KL(P_source ‖ P_corpus)
    (operators/drift.py:source_kl_divergence) — vocabulary drift per
    source, the lexical twin of the numeric events_drift_psi gate. The
    absent-word smoothing mass is folded into two corpus scalars so no
    (source × vocab) grid is ever materialized."""
    from scala_etl_test_spark.operators.drift import source_kl_divergence

    docs = _t(spark, sf_dir, "documents")
    return source_kl_divergence(docs, "text", "source", alpha=_KL_ALPHA).orderBy(
        "source"
    )


SQL_SOURCE_KL_DIVERGENCE = f"""
WITH tok AS (
  SELECT source AS grp, unnest({_WORDS_SQL}) AS word FROM documents
),
t2 AS (SELECT * FROM tok WHERE word <> ''),
freq AS (SELECT word, COUNT(*) AS c FROM t2 GROUP BY word),
corpus AS (SELECT SUM(c) AS n_corpus FROM freq),
q_tbl AS (SELECT word, c / CAST(n_corpus AS DOUBLE) AS q FROM freq CROSS JOIN corpus),
scalars AS (SELECT COUNT(*) AS v_size, SUM(log2(q)) AS sum_log2_q FROM q_tbl),
gw AS (SELECT grp, word, COUNT(*) AS c_g FROM t2 GROUP BY grp, word),
g_tot AS (SELECT grp, SUM(c_g) AS n_g, COUNT(*) AS n_distinct FROM gw GROUP BY grp),
terms AS (
  SELECT gw.grp, gw.c_g, q_tbl.q, g_tot.n_g, g_tot.n_distinct,
         {_KL_ALPHA} / (g_tot.n_g + {_KL_ALPHA} * s.v_size) AS p0,
         (gw.c_g + {_KL_ALPHA}) / (g_tot.n_g + {_KL_ALPHA} * s.v_size) AS p_g
  FROM gw JOIN q_tbl USING (word) JOIN g_tot USING (grp) CROSS JOIN scalars s
),
per_group AS (
  SELECT grp, MAX(n_g) AS n_tokens, MAX(n_distinct) AS n_distinct_words,
         SUM(p_g * log2(p_g / q) - p0 * log2(p0 / q)) AS present_sum
  FROM terms GROUP BY grp
)
SELECT grp AS source,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_distinct_words AS BIGINT) AS n_distinct_words,
       round(present_sum
             + s.v_size * ({_KL_ALPHA} / (n_tokens + {_KL_ALPHA} * s.v_size))
               * log2({_KL_ALPHA} / (n_tokens + {_KL_ALPHA} * s.v_size))
             - ({_KL_ALPHA} / (n_tokens + {_KL_ALPHA} * s.v_size)) * s.sum_log2_q,
             6) AS kl_bits
FROM per_group CROSS JOIN scalars s
ORDER BY source
"""


# --------------------------------------------------------------------------
# corpus governance: cross-source leakage matrix + filter calibration sweep
# --------------------------------------------------------------------------

_OVERLAP_SHINGLE_N = 5
_SWEEP_THRESHOLDS = (0.0, 0.25, 0.5, 0.75, 1.0)


def q_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source shared-shingle leakage matrix
    (operators/contamination.py:cross_source_overlap): all source pairs
    with their distinct shared 5-gram count and shingle-set Jaccard."""
    from scala_etl_test_spark.operators.contamination import cross_source_overlap

    docs = _t(spark, sf_dir, "documents")
    return cross_source_overlap(docs, "text", "source", shingle_n=_OVERLAP_SHINGLE_N)


SQL_SOURCE_OVERLAP_MATRIX = f"""
WITH sh AS (
  SELECT DISTINCT d.source, unnest(sh) AS shingle
  FROM (SELECT source, text, {_WORDS_SQL} AS w FROM documents) AS d(source, text, w),
       LATERAL (SELECT {_shingles_sql(_OVERLAP_SHINGLE_N)} AS sh) AS s
),
per_source AS (SELECT source, COUNT(*) AS n_sh FROM sh GROUP BY source),
univ AS (SELECT DISTINCT source FROM documents),
pairs AS (
  SELECT a.source AS source_a, b.source AS source_b
  FROM univ a JOIN univ b ON a.source < b.source
),
ov AS (
  SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
  GROUP BY 1, 2
)
SELECT p.source_a, p.source_b,
       CAST(coalesce(ov.n_shared, 0) AS BIGINT) AS n_shared_shingles,
       round(CASE WHEN pa.n_sh + pb.n_sh - coalesce(ov.n_shared, 0) > 0
                  THEN CAST(coalesce(ov.n_shared, 0) AS DOUBLE)
                       / (pa.n_sh + pb.n_sh - coalesce(ov.n_shared, 0))
                  ELSE 0.0 END, 6) AS jaccard
FROM pairs p
LEFT JOIN ov ON ov.source_a = p.source_a AND ov.source_b = p.source_b
LEFT JOIN per_source pa ON pa.source = p.source_a
LEFT JOIN per_source pb ON pb.source = p.source_b
"""


def q_quality_filter_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-gate calibration (operators/text.py:quality_filter_sweep):
    docs/char mass retained at each candidate quality_score threshold."""
    docs = _t(spark, sf_dir, "documents")
    return X.quality_filter_sweep(docs, "text", thresholds=_SWEEP_THRESHOLDS)


SQL_QUALITY_FILTER_SWEEP = f"""
WITH q AS ({{quality_sql}}),
t(threshold) AS (VALUES {", ".join(f"({t!r})" for t in _SWEEP_THRESHOLDS)}),
tot AS (SELECT COUNT(*) AS td, coalesce(SUM(n_chars), 0) AS tc FROM q)
SELECT t.threshold,
       CAST(COUNT(q.doc_id) AS BIGINT) AS n_docs,
       CAST(coalesce(SUM(q.n_chars), 0) AS BIGINT) AS n_chars_retained,
       round(CASE WHEN tot.td > 0 THEN CAST(COUNT(q.doc_id) AS DOUBLE) / tot.td ELSE 0.0 END, 6) AS doc_share,
       round(CASE WHEN tot.tc > 0 THEN CAST(coalesce(SUM(q.n_chars), 0) AS DOUBLE) / tot.tc ELSE 0.0 END, 6) AS char_share
FROM t CROSS JOIN tot LEFT JOIN q ON q.quality_score >= t.threshold
GROUP BY t.threshold, tot.td, tot.tc
"""
SQL_QUALITY_FILTER_SWEEP = SQL_QUALITY_FILTER_SWEEP.replace("{quality_sql}", SQL_TEXT_QUALITY)


def q_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source OOV rate against a vocabulary built from the even-doc_id
    half of the corpus (operators/text.py:oov_rate) — the coverage gate a
    tokenizer trained on yesterday's snapshot runs against today's feed."""
    docs = _t(spark, sf_dir, "documents")
    return X.oov_rate(docs, "text", "source", (F.col("doc_id") % 2) == 0)


SQL_OOV_RATE = f"""
WITH toks AS (
  SELECT source, doc_id % 2 = 0 AS is_ref, unnest({_WORDS_SQL}) AS word FROM documents
),
t2 AS (SELECT * FROM toks WHERE word <> ''),
gw AS (
  SELECT source, word, COUNT(*) AS n,
         MAX(CASE WHEN is_ref THEN 1 ELSE 0 END) AS any_ref
  FROM t2 GROUP BY 1, 2
),
vocab AS (SELECT DISTINCT word FROM gw WHERE any_ref = 1),
probed AS (
  SELECT gw.*, CASE WHEN v.word IS NULL THEN 1 ELSE 0 END AS oov
  FROM gw LEFT JOIN vocab v USING (word)
)
SELECT source,
       CAST(SUM(n) AS BIGINT) AS n_tokens,
       CAST(SUM(n * oov) AS BIGINT) AS n_oov_tokens,
       round(CAST(SUM(n * oov) AS DOUBLE) / SUM(n), 6) AS oov_token_rate,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       CAST(SUM(oov) AS BIGINT) AS n_oov_types,
       round(CAST(SUM(oov) AS DOUBLE) / COUNT(*), 6) AS oov_type_rate
FROM probed GROUP BY source
"""


_CDC_AVG_WORDS = 8


def q_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined-chunking boilerplate removal
    (operators/spans.py:cdc_chunk_dedup) — the shift-resistant twin of
    chunk_dedup: boundaries come from word hashes, not positions, so an
    insertion re-synchronizes at the next boundary instead of sliding
    every window."""
    from scala_etl_test_spark.operators.spans import cdc_chunk_dedup

    docs = _t(spark, sf_dir, "documents")
    return cdc_chunk_dedup(docs, "text", "doc_id", avg_words=_CDC_AVG_WORDS)


SQL_CDC_CHUNK_DEDUP = f"""
WITH toks AS (
  SELECT d.doc_id, u.pos AS pos, u.word AS word
  FROM (SELECT doc_id, {_WORDS_SQL} AS w FROM documents) AS d(doc_id, w),
       LATERAL (SELECT unnest(list_transform(range(0, len(d.w)),
                i -> struct_pack(pos := i, word := d.w[i+1]))) AS u) AS s
  WHERE len(list_filter(d.w, x -> x <> '')) > 0
),
flagged AS (
  SELECT doc_id, pos, word,
         CASE WHEN CAST(concat('0x', substr(md5(word), 1, 8)) AS BIGINT)
                   % {_CDC_AVG_WORDS} = 0 THEN 1 ELSE 0 END AS b
  FROM toks
),
chunked AS (
  SELECT doc_id, pos, word,
         COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cidx
  FROM flagged
),
chunks AS (
  SELECT doc_id, cidx, string_agg(word, ' ' ORDER BY pos) AS chunk
  FROM chunked GROUP BY doc_id, cidx
),
boiler AS (
  SELECT md5(chunk) AS h FROM chunks
  GROUP BY md5(chunk) HAVING COUNT(DISTINCT doc_id) >= 2
),
kept AS (
  SELECT c.* FROM chunks c
  LEFT JOIN boiler ON md5(c.chunk) = boiler.h
  WHERE boiler.h IS NULL
),
re AS (
  SELECT doc_id, string_agg(chunk, ' ' ORDER BY cidx) AS clean_text,
         COUNT(*) AS n_kept
  FROM kept GROUP BY doc_id
),
base AS (SELECT doc_id, MAX(cidx) + 1 AS n_chunks FROM chunks GROUP BY doc_id)
SELECT b.doc_id,
       COALESCE(re.clean_text, '') AS clean_text,
       CAST(b.n_chunks AS BIGINT) AS n_chunks,
       CAST(COALESCE(re.n_kept, 0) AS BIGINT) AS n_kept
FROM base b LEFT JOIN re ON b.doc_id = re.doc_id
"""


# release thresholds — shared by the registered gate query AND the corpus
# CLI's --release-report so the two surfaces cannot drift apart
REL_DUP_RATE_MAX = 0.10       # exact-duplicate share of the corpus
REL_RETENTION_MIN = 0.50      # doc share surviving quality >= 0.75
REL_OOV_MAX = 0.20            # worst per-source OOV token rate
REL_JACCARD_MAX = 0.50        # worst cross-source shingle-set Jaccard


def document_release_gates(docs: DataFrame) -> DataFrame:
    """The four DOCUMENT-corpus governance gates as (check, value, passed)
    rows — the single definition behind both `corpus_release_report` (which
    adds the events-based KS gate) and `corpus_cli --release-report`."""
    from scala_etl_test_spark.operators.contamination import cross_source_overlap

    def gate(name, df_value, passed):
        return df_value.select(
            F.lit(name).alias("check"),
            F.round("value", 6).alias("value"),
            passed.alias("passed"),
        )

    dup = gate(
        "exact_dup_rate",
        D.exact_dedup(docs, "text", "doc_id").agg(
            (F.sum(F.col("is_duplicate").cast("int")) / F.count(F.lit(1))).alias("value")
        ),
        F.col("value") < REL_DUP_RATE_MAX,
    )
    ret = gate(
        "quality_retention_at_075",
        X.quality_filter_sweep(docs, "text", thresholds=_SWEEP_THRESHOLDS)
        .filter(F.col("threshold") == 0.75)
        .select(F.col("doc_share").alias("value")),
        F.col("value") >= REL_RETENTION_MIN,
    )
    oov = gate(
        "oov_token_rate_max",
        X.oov_rate(docs, "text", "source", (F.col("doc_id") % 2) == 0).agg(
            F.max("oov_token_rate").alias("value")
        ),
        F.col("value") < REL_OOV_MAX,
    )
    leak = gate(
        "cross_source_jaccard_max",
        cross_source_overlap(docs, "text", "source", shingle_n=_OVERLAP_SHINGLE_N).agg(
            F.max("jaccard").alias("value")
        ),
        F.col("value") < REL_JACCARD_MAX,
    )
    return dup.unionByName(ret).unionByName(oov).unionByName(leak)


def q_dedup_method_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evaluation-as-artifact for the dedup family: pair counts found by
    each blocking strategy at its configured threshold, in one gated
    result — every method is deterministic, so the comparison is an
    oracle-checkable fact. (Counts are NOT comparable as recall — methods
    use different thresholds/shingle sizes by design; the report is the
    corpus-health dashboard a curation run logs per snapshot.)

    Members are consumed EAGERLY, one at a time, each inside a
    ``tracked_scope`` that releases its operator-internal caches before
    the next starts: the previous single-union lazy plan held every
    member's persisted intermediates simultaneously and measured 1.75×
    the sequential sum at 10× corpus (215 s vs 122 s). The six collected
    scalars ARE the result — the k-row-collect precedent of the PQ
    codebook and BPE merge table (a real curation dashboard logs one
    count per method the same way). Note the builder is therefore eager:
    calling this function runs the whole dedup family.

    Shared candidate substrate (VERDICT r6 item 6): minhash_lsh and
    prefix_exact both consume the SAME distinct 3-shingle table (identical
    normalization, n, and hash family), so it is built + persisted ONCE
    outside the per-member scopes and handed to both — one
    scan→explode→distinct shuffle instead of two, with each member's
    output byte-identical to its standalone registry twin (the oracle
    unions the standalone SQLs, so this is checked every gate run)."""
    from scala_etl_test_spark.caching import tracked_scope

    docs = _t(spark, sf_dir, "documents")
    shared_sh = D.shingle_table(docs, "text", "doc_id", _SHINGLE_N).persist()
    methods = [
        ("exact", lambda: q_dedup_exact(spark, sf_dir).filter(F.col("is_duplicate"))),
        (
            "minhash_lsh",
            lambda: D.minhash_near_duplicates(
                docs,
                "text",
                "doc_id",
                num_hashes=_NUM_HASHES,
                bands=_BANDS,
                rows=_ROWS,
                shingle_n=_SHINGLE_N,
                threshold=_MINHASH_T,
                shingles=shared_sh,
            ),
        ),
        ("ngram_jaccard", lambda: q_dedup_ngram_jaccard(spark, sf_dir)),
        (
            "prefix_exact",
            lambda: D.prefix_jaccard_join(
                docs, "text", "doc_id", threshold=0.5, shingle_n=3, shingles=shared_sh
            ),
        ),
        ("simhash_banded", lambda: q_dedup_simhash_pairs(spark, sf_dir)),
        ("snm", lambda: q_dedup_snm(spark, sf_dir)),
    ]
    rows = []
    try:
        for name, fn in methods:
            with tracked_scope():
                rows.append((name, fn().count()))
    finally:
        shared_sh.unpersist()
    return spark.createDataFrame(rows, "method string, n_pairs long").orderBy("method")


SQL_ANN_RECALL_REPORT = (
    "SELECT method, k, n_hits FROM (\n"
    + "\nUNION ALL\n".join(
        _recall_row_sql(name, k, sql)
        for name, k, sql in [
            ("ivf", 20, SQL_ANN_IVF_TOPK),
            ("lsh", 10, SQL_ANN_LSH_TOPK),
            ("multiprobe", 10, SQL_ANN_MULTIPROBE_TOPK),
            ("pq_adc", 10, SQL_ANN_PQ_TOPK),
        ]
    )
    + "\n) ORDER BY method"
)


SQL_DEDUP_METHOD_REPORT = (
    "SELECT method, n_pairs FROM (\n"
    + "\nUNION ALL\n".join(
        f"SELECT '{name}' AS method, CAST(COUNT(*) AS BIGINT) AS n_pairs "
        f"FROM ({sql}) {extra}"
        for name, sql, extra in [
            ("exact", SQL_DEDUP_EXACT, "WHERE is_duplicate"),
            ("minhash_lsh", SQL_DEDUP_MINHASH_PAIRS, ""),
            ("ngram_jaccard", SQL_DEDUP_NGRAM_JACCARD, ""),
            ("prefix_exact", SQL_DEDUP_PREFIX_JACCARD, ""),
            ("simhash_banded", SQL_DEDUP_SIMHASH_PAIRS, ""),
            ("snm", SQL_DEDUP_SNM, ""),
        ]
    )
    + "\n) ORDER BY method"
)


DATA_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "dedup_exact": q_dedup_exact,
    "dedup_minhash_pairs": q_dedup_minhash_pairs,
    "dedup_simhash": q_dedup_simhash,
    "dedup_simhash_pairs": q_dedup_simhash_pairs,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "embedding_near_dup": q_embedding_near_dup,
    "embedding_near_dup_lsh": q_embedding_near_dup_lsh,
    "ann_cosine_topk": q_ann_cosine_topk,
    "ann_lsh_topk": q_ann_lsh_topk,
    "ann_ivf_topk": q_ann_ivf_topk,
    "lang_id": q_lang_id,
    "text_quality": q_text_quality,
    "token_count": q_token_count,
    "docs_top_terms": q_docs_top_terms,
    "stratified_sample": q_stratified_sample,
    "corpus_mixture": q_corpus_mixture,
    "vocab_build": q_vocab_build,
    "dedup_containment": q_dedup_containment,
    "doc_fingerprint": q_doc_fingerprint,
    "multimodal_payload_stats": q_multimodal_payload_stats,
    "multimodal_frame_sample": q_multimodal_frame_sample,
    "multimodal_features": q_multimodal_features,
    "dedup_clusters": q_dedup_clusters,
    "corpus_clean": q_corpus_clean,
    "dataset_split": q_dataset_split,
    "profile_documents": q_profile_documents,
    "repetition_metrics": q_repetition_metrics,
    "pii_scan": q_pii_scan,
    "decontaminate": q_decontaminate,
    "pack_sequences": q_pack_sequences,
    "multimodal_features_long": q_multimodal_features_long,
    "embedding_centroids": q_embedding_centroids,
    "tokenize_docs": q_tokenize_docs,
    "model_scores": q_model_scores,
    "corpus_prepare": q_corpus_prepare,
    "duplicate_spans": q_duplicate_spans,
    "duplicate_span_stats": q_duplicate_span_stats,
    "chunk_dedup": q_chunk_dedup,
    "unigram_lm_score": q_unigram_lm_score,
    "bm25_topk": q_bm25_topk,
    "graph_pagerank": q_graph_pagerank,
    "contrastive_negatives": q_contrastive_negatives,
    "weighted_sample": q_weighted_sample,
    "dsir_weights": q_dsir_weights,
    "events_zorder": q_events_zorder,
    "ann_multiprobe_topk": q_ann_multiprobe_topk,
    "bpe_merges": q_bpe_merges,
    "embedding_outliers": q_embedding_outliers,
    "kmeans_train": q_kmeans_train,
    "semantic_dedup": q_semantic_dedup,
    "semantic_dedup_greedy": q_semantic_dedup_greedy,
    "winnow_fingerprints": q_winnow_fingerprints,
    "winnow_overlap": q_winnow_overlap,
    "bigram_lm_score": q_bigram_lm_score,
    "pq_codes": q_pq_codes,
    "ann_pq_topk": q_ann_pq_topk,
    "bpe_encode": q_bpe_encode,
    "token_budget": q_token_budget,
    "ann_ivfpq_topk": q_ann_ivfpq_topk,
    "ann_ivfpq_residual_topk": q_ann_ivfpq_residual_topk,
    "dedup_prefix_jaccard": q_dedup_prefix_jaccard,
    "pmi_collocations": q_pmi_collocations,
    "negative_sampling": q_negative_sampling,
    "ann_recall_report": q_ann_recall_report,
    "label_spread": q_label_spread,
    "dedup_snm": q_dedup_snm,
    "dedup_method_report": q_dedup_method_report,
    "source_kl_divergence": q_source_kl_divergence,
    "dedup_edit_distance": q_dedup_edit_distance,
    "entity_resolution": q_entity_resolution,
    "item_cf_neighbors": q_item_cf_neighbors,
    "graph_triangles": q_graph_triangles,
    "decontaminate_bloom_audit": q_decontaminate_bloom_audit,
    "hybrid_retrieval": q_hybrid_retrieval,
    "source_overlap_matrix": q_source_overlap_matrix,
    "quality_filter_sweep": q_quality_filter_sweep,
    "oov_rate": q_oov_rate,
    "cdc_chunk_dedup": q_cdc_chunk_dedup,
    "forget_documents": q_forget_documents,
    "forget_from_ivf": q_forget_from_ivf,
    "erasure_audit": q_erasure_audit,
    "split_leakage_audit": q_split_leakage_audit,
    "lsh_recall_audit": q_lsh_recall_audit,
    "shard_manifest": q_shard_manifest,
    "embedding_covariance": q_embedding_covariance,
    "pq_rotation_recall": q_pq_rotation_recall,
    "ann_truncation_recall": q_ann_truncation_recall,
    "release_diff": q_release_diff,
}

DATA_ORACLE_SQL: dict[str, str] = {
    "dedup_exact": SQL_DEDUP_EXACT,
    "dedup_minhash_pairs": SQL_DEDUP_MINHASH_PAIRS,
    "dedup_simhash": SQL_DEDUP_SIMHASH,
    "dedup_simhash_pairs": SQL_DEDUP_SIMHASH_PAIRS,
    "dedup_ngram_jaccard": SQL_DEDUP_NGRAM_JACCARD,
    "embedding_near_dup": SQL_EMBEDDING_NEAR_DUP,
    "embedding_near_dup_lsh": SQL_EMBEDDING_NEAR_DUP_LSH,
    "ann_cosine_topk": SQL_ANN_COSINE_TOPK,
    "ann_lsh_topk": SQL_ANN_LSH_TOPK,
    "ann_ivf_topk": SQL_ANN_IVF_TOPK,
    "lang_id": SQL_LANG_ID,
    "text_quality": SQL_TEXT_QUALITY,
    "token_count": SQL_TOKEN_COUNT,
    "docs_top_terms": SQL_DOCS_TOP_TERMS,
    "stratified_sample": SQL_STRATIFIED_SAMPLE,
    "corpus_mixture": SQL_CORPUS_MIXTURE,
    "vocab_build": SQL_VOCAB_BUILD,
    "dedup_containment": SQL_DEDUP_CONTAINMENT,
    "doc_fingerprint": SQL_DOC_FINGERPRINT,
    "multimodal_payload_stats": SQL_MULTIMODAL_PAYLOAD_STATS,
    "multimodal_frame_sample": SQL_MULTIMODAL_FRAME_SAMPLE,
    "multimodal_features": SQL_MULTIMODAL_FEATURES,
    "dedup_clusters": SQL_DEDUP_CLUSTERS,
    "corpus_clean": SQL_CORPUS_CLEAN,
    "dataset_split": SQL_DATASET_SPLIT,
    "profile_documents": SQL_PROFILE_DOCUMENTS,
    "repetition_metrics": SQL_REPETITION_METRICS,
    "pii_scan": SQL_PII_SCAN,
    "decontaminate": SQL_DECONTAMINATE,
    "pack_sequences": SQL_PACK_SEQUENCES,
    "multimodal_features_long": SQL_MULTIMODAL_FEATURES_LONG,
    "embedding_centroids": SQL_EMBEDDING_CENTROIDS,
    "tokenize_docs": SQL_TOKENIZE_DOCS,
    "model_scores": SQL_MODEL_SCORES,
    "corpus_prepare": SQL_CORPUS_PREPARE,
    "duplicate_spans": SQL_DUPLICATE_SPANS,
    "duplicate_span_stats": SQL_DUPLICATE_SPAN_STATS,
    "chunk_dedup": SQL_CHUNK_DEDUP,
    "unigram_lm_score": SQL_UNIGRAM_LM_SCORE,
    "bm25_topk": SQL_BM25_TOPK,
    "graph_pagerank": SQL_GRAPH_PAGERANK,
    "contrastive_negatives": SQL_CONTRASTIVE_NEGATIVES,
    "weighted_sample": SQL_WEIGHTED_SAMPLE,
    "dsir_weights": SQL_DSIR_WEIGHTS,
    "events_zorder": SQL_EVENTS_ZORDER,
    "ann_multiprobe_topk": SQL_ANN_MULTIPROBE_TOPK,
    "bpe_merges": SQL_BPE_MERGES,
    "embedding_outliers": SQL_EMBEDDING_OUTLIERS,
    "kmeans_train": SQL_KMEANS_TRAIN,
    "semantic_dedup": SQL_SEMANTIC_DEDUP,
    "semantic_dedup_greedy": SQL_SEMANTIC_DEDUP_GREEDY,
    "winnow_fingerprints": SQL_WINNOW_FINGERPRINTS,
    "winnow_overlap": SQL_WINNOW_OVERLAP,
    "bigram_lm_score": SQL_BIGRAM_LM_SCORE,
    "pq_codes": SQL_PQ_CODES,
    "ann_pq_topk": SQL_ANN_PQ_TOPK,
    "bpe_encode": SQL_BPE_ENCODE,
    "token_budget": SQL_TOKEN_BUDGET,
    "ann_ivfpq_topk": SQL_ANN_IVFPQ_TOPK,
    "ann_ivfpq_residual_topk": SQL_ANN_IVFPQ_RESIDUAL_TOPK,
    "dedup_prefix_jaccard": SQL_DEDUP_PREFIX_JACCARD,
    "pmi_collocations": SQL_PMI_COLLOCATIONS,
    "negative_sampling": SQL_NEGATIVE_SAMPLING,
    "ann_recall_report": SQL_ANN_RECALL_REPORT,
    "label_spread": SQL_LABEL_SPREAD,
    "dedup_snm": SQL_DEDUP_SNM,
    "dedup_method_report": SQL_DEDUP_METHOD_REPORT,
    "source_kl_divergence": SQL_SOURCE_KL_DIVERGENCE,
    "dedup_edit_distance": SQL_DEDUP_EDIT_DISTANCE,
    "entity_resolution": SQL_ENTITY_RESOLUTION,
    "item_cf_neighbors": SQL_ITEM_CF_NEIGHBORS,
    "graph_triangles": SQL_GRAPH_TRIANGLES,
    "decontaminate_bloom_audit": SQL_DECONTAMINATE_BLOOM_AUDIT,
    "hybrid_retrieval": SQL_HYBRID_RETRIEVAL,
    "source_overlap_matrix": SQL_SOURCE_OVERLAP_MATRIX,
    "quality_filter_sweep": SQL_QUALITY_FILTER_SWEEP,
    "oov_rate": SQL_OOV_RATE,
    "cdc_chunk_dedup": SQL_CDC_CHUNK_DEDUP,
    "forget_documents": SQL_FORGET_DOCUMENTS,
    "forget_from_ivf": SQL_FORGET_FROM_IVF,
    "erasure_audit": SQL_ERASURE_AUDIT,
    "split_leakage_audit": _split_leakage_sql(),
    "lsh_recall_audit": _lsh_recall_sql(),
    "shard_manifest": SQL_SHARD_MANIFEST,
    "embedding_covariance": SQL_EMBEDDING_COVARIANCE,
    "pq_rotation_recall": SQL_PQ_ROTATION_RECALL,
    "ann_truncation_recall": SQL_ANN_TRUNCATION_RECALL,
    "release_diff": SQL_RELEASE_DIFF,
}
