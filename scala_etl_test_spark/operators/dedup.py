"""Deduplication operators for large-scale training-data pipelines
(beyond-reference; BASELINE.json north star).

All variants are pure native-expression DataFrames — no Python in the hot
path — and each is designed around the shuffle/skew realities of a 100 TB
corpus:

- **exact**: fingerprint (md5 of normalized text) → hash-partitioned groupBy.
  One shuffle on the fingerprint; skew-free (md5 is uniform).
- **MinHash + LSH banding**: shingle → k minhashes (one pass, k agg
  expressions — no seed explosion) → b bands → self-join on (band_idx,
  band_hash). The band join is the only shuffle that touches pairs, and it
  only materializes *candidate* pairs (same-bucket), never the n² cross
  product. Hot buckets (boilerplate text) are capped with a per-bucket count
  guard before the self-join — the standard skew kill-switch.
- **SimHash**: 60-bit fingerprint via per-bit majority vote, pairs by
  Hamming distance. Pairing is multi-piece banded at scale (Manku 2007:
  m = h + q chunks ⇒ every within-Hamming-h pair matches some
  q-combination of chunks exactly, with q sized to the corpus so the key
  space outgrows n — a single fixed-width chunk key goes quadratic);
  the brute-force pair join exists as the guarded small-scale twin.
- **n-gram Jaccard**: exact set similarity for candidate verification, or
  standalone with cheap blocking (lang, length band).
- **embedding cosine**: near-dup by vector similarity with label blocking;
  the ANN module (operators/similarity.py) provides the scale path.

Hash portability: by default every content hash is md5-derived (identical
in Spark and DuckDB) so each operator has a cross-engine oracle; set
``SPARK_GRAFT_HASH=xxhash64`` to swap the whole family onto Spark's
JVM-intrinsic xxhash64 for production runs — see :func:`content_hash64`;
the plan structure is unchanged and a parity test pins that the VERIFIED
near-dup output matches the md5 run on the fixture corpus.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, Window, functions as F

from scala_etl_test_spark.caching import tracked_persist
from scala_etl_test_spark.operators.partitioning import pin_by_key, spread

# ---------------------------------------------------------------------------
# text normalization + shingling (shared by minhash / simhash / jaccard)
# ---------------------------------------------------------------------------


def normalize_text(col: Column | str) -> Column:
    """Lowercase, strip non-alphanumerics to spaces, collapse whitespace."""
    c = F.col(col) if isinstance(col, str) else col
    cleaned = F.regexp_replace(F.lower(c), r"[^a-z0-9]+", " ")
    return F.trim(cleaned)


def words(col: Column | str) -> Column:
    return F.split(normalize_text(col), " ")


def shingles_from_words(w: Column, n: int = 3) -> Column:
    """n-word shingles from an already-materialized words array column.

    IMPORTANT perf note: pass a *plain column reference*, not the ``words()``
    expression — expressions referenced inside a ``transform`` lambda are
    re-evaluated per element (no CSE across lambda boundaries), which turns
    one regex split per document into one per shingle-word access.
    """
    idx = F.sequence(F.lit(0), F.size(w) - n)
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.get(w, i + j) for j in range(n)]
    )
    # NULL words array (NULL text) ⇒ EMPTY shingle set, not [''] — without
    # the first branch concat_ws's NULL-coercion minted an '' whole-doc
    # shingle for NULL documents, pairing "no content" with genuinely
    # empty documents (r12 edge-corpus sweep; oracle twin:
    # plans/queries_data.py:_shingles_sql's d.text IS NULL branch)
    return (
        F.when(w.isNull(), F.array().cast("array<string>"))
        .when(F.size(w) >= n, F.transform(idx, gram))
        .otherwise(F.array(F.concat_ws(" ", w)))
    )


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Array of n-word shingles (JVM-side ``transform`` over an index
    sequence — no explode, no UDF). Documents shorter than ``n`` words
    contribute their whole normalized text as a single shingle.

    Prefer ``select(words(c).alias("w"))`` + :func:`shingles_from_words` in
    hot paths (see its perf note); this convenience form is fine where the
    input is scanned once.
    """
    return shingles_from_words(words(col), n)


def hash_family() -> str:
    """Current content-hash family: ``md5`` (portable, DuckDB-oracle-
    checkable — the default) or ``xxhash64`` (JVM-intrinsic, the production
    setting), selected by ``SPARK_GRAFT_HASH``. Read per call so tests can
    flip it. The family is STAMPED into the column metadata of every hashed
    table this module builds (``sh_h``, ``band_hash``) and CHECKED when a
    persisted index is probed — a corpus index built under one family and
    probed under the other would silently match nothing (every new-vs-corpus
    duplicate missed), so the mismatch raises instead."""
    return os.environ.get("SPARK_GRAFT_HASH", "md5")


_HASH_META_KEY = "spark_graft_hash_family"


def _check_hash_family(df: DataFrame, col: str, role: str) -> None:
    """Raise if ``df[col]`` carries a hash-family stamp that differs from
    the session's current family. Unstamped tables (externally built)
    pass — the stamp is a tripwire, not a gate."""
    try:
        stamped = df.schema[col].metadata.get(_HASH_META_KEY)
    except Exception:
        return
    current = hash_family()
    if stamped is not None and stamped != current:
        raise ValueError(
            f"{role} was built with SPARK_GRAFT_HASH={stamped} but this "
            f"session runs {current}: the equi-joins on {col} would match "
            "nothing and every cross-set duplicate would be silently missed. "
            "Re-run with the matching SPARK_GRAFT_HASH, or rebuild the index."
        )


def _stamp(col: Column, name: str) -> Column:
    return col.alias(name, metadata={_HASH_META_KEY: hash_family()})


def content_hash64(col: Column) -> Column:
    """Non-negative 60-bit content hash of a string column — the hash the
    dedup/spans/winnow family pays once per distinct shingle / token /
    k-gram.

    Two implementations, selected by ``SPARK_GRAFT_HASH`` (see
    :func:`hash_family`):

    - ``md5`` (default): first 15 hex chars of md5 → long. Portable — DuckDB
      computes the identical value, which is what makes every operator in
      this family cross-engine oracle-checkable.
    - ``xxhash64``: Spark's JVM-intrinsic 64-bit hash masked to the same
      non-negative 60-bit range (downstream math assumes h < 2⁶⁰: the
      minhash transform ``a·(h mod P) + b`` must stay exact in int64).
      ~an order of magnitude cheaper per value than md5 — the production
      setting; not oracle-checkable (DuckDB has no xxhash64), so tests pin
      it by parity of VERIFIED near-dup output against the md5 run instead
      (verification is exact Jaccard, independent of the hash family).

    Flag coverage: the shingle table, the simhash token hash, the LSH band
    hash (:func:`keyed_hash`), the spans k-gram seeds, and the winnowing
    gram hash. Deliberately NOT covered: deterministic sampling
    (``sampling.py``) and row checksums (``integrity.py``) — their md5 is a
    portability CONTRACT (split assignments and checksums must be
    reproducible across engines and releases), not a throughput choice.
    """
    if hash_family() == "xxhash64":
        return F.xxhash64(col).bitwiseAND(F.lit((1 << 60) - 1))
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def keyed_hash(*cols: Column) -> Column:
    """Join-key hash over one or more columns: md5 hex string of the
    '|'-joined values (default; DuckDB-reproducible) or a single
    ``xxhash64`` long under the production flag. Used where the hash is an
    equality key only (LSH band hash, k-gram seeds) — consumers must treat
    the type as opaque."""
    if hash_family() == "xxhash64":
        return F.xxhash64(*cols)
    return F.md5(F.concat_ws("|", *cols))


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Hash-groupBy exact dedup: one row per input, with its content
    fingerprint, the id of the keeper (min id per fingerprint — a
    deterministic first-row-wins), and a duplicate flag.

    Scale: single shuffle on the 128-bit fingerprint (uniform, skew-free);
    the window is equivalent to a groupBy+join but reuses one exchange.
    """
    fp = F.md5(normalize_text(text_col)).alias("fingerprint")
    w = Window.partitionBy("fingerprint")
    return (
        df.select(F.col(id_col), fp)
        .withColumn("keep_id", F.min(id_col).over(w))
        .withColumn("is_duplicate", F.col(id_col) != F.col("keep_id"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


MINHASH_PRIME = 2147483647  # 2^31 - 1 (Mersenne)


def minhash_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the universal hash family
    ``h_i(x) = (a_i * x + b_i) mod P`` — a simple LCG keeps them stable
    across engines and runs."""
    state = seed
    out = []
    for _ in range(num_hashes):
        state = (state * 1103515245 + 12345) % (1 << 31)
        a = (state % (MINHASH_PRIME - 1)) + 1
        state = (state * 1103515245 + 12345) % (1 << 31)
        b = state % MINHASH_PRIME
        out.append((a, b))
    return out


def shingle_table(df: DataFrame, text_col: str, id_col: str, shingle_n: int = 3) -> DataFrame:
    """Distinct (id, sh_h) per shingle — computed ONCE and shared by
    signatures and Jaccard/containment verification.

    The shingle STRING is hashed to ``sh_h`` (60 bits from the md5 prefix)
    BEFORE the distinct and never travels further: the distinct, the
    signature groupBy, and the verification joins all move 8-byte longs
    instead of ~30-byte shingle strings — at corpus scale that halves the
    bytes through the three heaviest shuffles of the dedup family. Identity
    via a 60-bit hash is exact up to md5-prefix collisions (~n²/2⁶¹: under
    1e-8 even at 10⁹ distinct shingles, far below the near-dup thresholds'
    sensitivity).

    The output is EXACTLY (id, sh_h) — no derived columns. A derived
    column consumed by only one downstream (the r4 ``h31`` MinHash seed)
    widens the distinct shuffle and the cached rows for every OTHER
    consumer; the seed hash is one modulo, recomputed inline in
    :func:`minhash_signatures` instead of materialized here. NULL-id rows
    are dropped at the scan (see below)."""
    sh_h = content_hash64(F.col("_shingle"))
    # NULL ids are excluded up front: they can never appear in a pair (the
    # verification joins are inner on the id) and a signature for a NULL id
    # is meaningless — and pre-filtering keeps the isnotnull predicate
    # IDENTICAL across every consumer's pushed filters, a precondition for
    # the exchange reuse documented above (the verification joins push
    # isnotnull; the signature groupBy does not — without this filter the
    # two subtrees diverge at the scan and Catalyst re-executes it).
    # NULL-TEXT rows are dropped with the NULL-id rows (r12 edge-corpus
    # sweep): a NULL document has no content to shingle. Without the
    # filter, split(NULL) → NULL array and concat_ws's NULL-coercion
    # silently minted an '' whole-doc shingle — pairing "no content"
    # with every genuinely-empty document and diverging from the oracle
    # (whose NULL shingle row crashes the hex seed instead).
    return (
        spread(
            df.filter(F.col(id_col).isNotNull() & F.col(text_col).isNotNull()),
            id_col,
        )
        .select(F.col(id_col), words(text_col).alias("_w"))
        .select(
            F.col(id_col),
            F.explode(shingles_from_words(F.col("_w"), shingle_n)).alias("_shingle"),
        )
        .select(F.col(id_col), _stamp(sh_h, "sh_h"))
        .distinct()
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    shingle_n: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """(id, s0..s{k-1}) minhash signature table.

    ONE md5 per distinct shingle; the k hash functions are affine transforms
    of the base hash mod a Mersenne prime (classic universal hashing), so k
    costs arithmetic, not digests. One groupBy pass ⇒ one shuffle total.
    The seed hash (sh_h mod the prime, < 2³¹, so a·h+b < 2⁶² stays exact in
    int64) is computed inline here rather than materialized on the shared
    shingle table — see :func:`shingle_table` for why.
    """
    shingled = shingles if shingles is not None else shingle_table(df, text_col, id_col, shingle_n)
    h31 = F.col("sh_h") % MINHASH_PRIME
    aggs = [
        F.min((F.lit(a) * h31 + F.lit(b)) % MINHASH_PRIME).alias(f"s{i}")
        for i, (a, b) in enumerate(minhash_params(num_hashes))
    ]
    return shingled.groupBy(id_col).agg(*aggs)


def lsh_bands(signatures: DataFrame, id_col: str, bands: int = 4, rows: int = 4) -> DataFrame:
    """(id, band_idx, band_hash): hash each band of ``rows`` consecutive
    signature entries. bands*rows must equal the signature width."""
    width = sum(1 for c in signatures.columns if c.startswith("s") and c[1:].isdigit())
    if bands * rows != width:
        raise ValueError(
            f"bands*rows = {bands * rows} must equal the signature width {width} "
            "(a smaller product silently ignores hashes you paid to compute)"
        )
    pairs = []
    for b in range(bands):
        cols = [F.col(f"s{b * rows + r}").cast("string") for r in range(rows)]
        pairs.append(F.struct(F.lit(b).alias("band_idx"), keyed_hash(*cols).alias("band_hash")))
    return signatures.select(
        F.col(id_col), F.explode(F.array(*pairs)).alias("band")
    ).select(id_col, F.col("band.band_idx").alias("band_idx"), _stamp(F.col("band.band_hash"), "band_hash"))


def _capped_buckets(band_table: DataFrame, max_bucket: int) -> DataFrame:
    """Drop LSH buckets larger than ``max_bucket`` — the skew kill-switch
    shared by the full and incremental pipelines (a bucket with B members
    yields B²/2 pairs; one boilerplate bucket of 10⁶ docs would emit
    5·10¹¹). Oversized buckets are near-certainly template/boilerplate
    text, which exact-dedup already catches."""
    return band_table.withColumn(
        "bucket_size", F.count(F.lit(1)).over(Window.partitionBy("band_idx", "band_hash"))
    ).filter(F.col("bucket_size") <= max_bucket)


def lsh_candidate_pairs(
    band_table: DataFrame, id_col: str, max_bucket: int = 1000
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) sharing any LSH bucket, with
    the ``max_bucket`` skew cap of :func:`_capped_buckets`.

    Pair generation is ROW-LOCAL: each surviving bucket is folded into one
    sorted id array (the groupBy rides the window's existing
    hashpartitioning(band_idx, band_hash) — zero extra exchanges) and the
    i<j combinations explode inside the same stage. The previous shape — a
    self-join of the capped band table on the bucket key — re-executed the
    whole signature→band→window subtree for the join's second side
    (plan-verified: two complete sig pipelines in dedup_minhash_pairs'
    physical plan) and paid the join's own exchanges on top. The window's
    ≤ max_bucket filter runs BEFORE the set aggregation, so no aggregation
    buffer ever holds more than max_bucket ids (8 KB at the default) — the
    one-giant-bucket regime that must not OOM a task at corpus scale is
    dropped by the streaming window count, exactly as before.

    collect_set (not collect_list) guards the id_a < id_b contract against
    band tables with duplicate (id, band_idx, band_hash) rows: a duplicated
    id would otherwise survive into the sorted array and the i<j slice
    would emit a self-pair (id, id). In-repo band tables are unique per
    (id, band), so this is identical there; the set dedup makes the public
    operator honor its docstring on any input."""
    counted = _capped_buckets(band_table, max_bucket)
    grouped = (
        counted.groupBy("band_idx", "band_hash")
        .agg(F.array_sort(F.collect_set(F.col(id_col))).alias("_ids"))
        .filter(F.size("_ids") >= 2)
    )
    return (
        grouped.select("_ids", F.posexplode("_ids").alias("_i", "id_a"))
        .select(
            "id_a",
            F.explode(
                F.slice(F.col("_ids"), F.col("_i") + 2, F.size(F.col("_ids")))
            ).alias("id_b"),
        )
        .distinct()
    )


def _pair_overlap(
    pairs: DataFrame,
    shingles: DataFrame,
    id_col: str,
    keep_zero_overlap: bool = False,
) -> DataFrame:
    """(id_a, id_b, n_common, size_a, size_b) for candidate pairs against a
    distinct (id, sh_h) table — the shared core of Jaccard and
    containment verification. The equi-join on BOTH (id, sh_h) touches
    only matching shingle hashes per pair (O(|A ∩ B|)), never the per-pair
    cross product, and set sizes come from one aggregation of the same
    table. Joining on the 60-bit hash instead of the shingle string keeps
    the heaviest join narrow (see :func:`shingle_table`).

    Default contract: pairs with NO shingle overlap are absent from the
    output (the inner join never sees them) — correct and cheapest for
    thresholded pipelines. Pass ``keep_zero_overlap=True`` to get an
    explicit n_common = 0 row per such pair instead.

    PRECONDITION (both twins): ``pairs`` must be DISTINCT (id_a, id_b)
    rows. On duplicated input the two twins diverge — this groupBy folds
    the copies into ONE row with n_common inflated by the multiplicity,
    while the row-local twin emits one output row per input row with the
    correct per-pair count. Every in-module candidate generator ends in
    ``.distinct()`` (ADVICE r6); external callers must do the same."""
    shingles = shingles.select(F.col(id_col).alias("_id"), "sh_h")
    sizes = shingles.groupBy("_id").agg(F.count(F.lit(1)).alias("set_size"))
    sh_a = shingles.select(F.col("_id").alias("id_a"), "sh_h")
    sh_b = shingles.select(F.col("_id").alias("id_b"), "sh_h")
    common = (
        pairs.join(sh_a, on="id_a")
        .join(sh_b, on=["id_b", "sh_h"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    if keep_zero_overlap:
        # surface DISJOINT pairs as n_common = 0 instead of dropping them —
        # for callers that expect one verification row per input pair. Costs
        # a second consumption of the candidate subtree (left-join back), so
        # it is opt-in; the thresholded dedup pipelines never need it.
        common = (
            pairs.select("id_a", "id_b")
            .join(common, on=["id_a", "id_b"], how="left")
            .fillna(0, subset=["n_common"])
        )
    return (
        common.join(sizes.select(F.col("_id").alias("id_a"), F.col("set_size").alias("size_a")), on="id_a")
        .join(sizes.select(F.col("_id").alias("id_b"), F.col("set_size").alias("size_b")), on="id_b")
    )


def _pair_overlap_rowlocal(
    pairs: DataFrame,
    shingles: DataFrame,
    id_col: str,
    keep_zero_overlap: bool = False,
) -> DataFrame:
    """Row-local twin of :func:`_pair_overlap` (same output columns): each
    candidate joins the two per-doc shingle-hash ARRAYS and the overlap is
    ``size(array_intersect(A, B))`` inside whole-stage codegen — 2 rows
    per pair through the joins instead of |A∩B| shuffled rows. This is
    the right verification shape when candidates are plentiful but mostly
    non-qualifying (blocked/banded generation on a dense corpus — the r6
    stress sweep measured the shuffle-join verification as the dominant
    cost of two ~60× wall ratios); :func:`_pair_overlap` stays preferable
    when candidates are few and doc shingle sets are huge, since it never
    materializes a whole set on one row.

    PRECONDITION: ``pairs`` must be DISTINCT (id_a, id_b) rows — this twin
    emits one output row per INPUT row (duplicated input ⇒ duplicated
    output rows), where :func:`_pair_overlap`'s groupBy would fold the
    copies into one row with an inflated n_common. See the precondition
    note there; all current callers pass ``.distinct()``-terminated
    candidate sets."""
    sets = shingles.groupBy(F.col(id_col).alias("_id")).agg(
        F.collect_list("sh_h").alias("_set"), F.count(F.lit(1)).alias("_n")
    )
    out = (
        pairs.join(
            sets.select(
                F.col("_id").alias("id_a"),
                F.col("_set").alias("_set_a"),
                F.col("_n").alias("size_a"),
            ),
            on="id_a",
        )
        .join(
            sets.select(
                F.col("_id").alias("id_b"),
                F.col("_set").alias("_set_b"),
                F.col("_n").alias("size_b"),
            ),
            on="id_b",
        )
        .withColumn(
            "n_common", F.size(F.array_intersect("_set_a", "_set_b")).cast("long")
        )
        .select("id_a", "id_b", "n_common", "size_a", "size_b")
    )
    return out if keep_zero_overlap else out.filter(F.col("n_common") > 0)


def jaccard_for_pairs(
    pairs: DataFrame,
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    shingles: DataFrame | None = None,
    keep_zero_overlap: bool = False,
    row_local: bool = False,
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs (see
    :func:`_pair_overlap` for the join shape and the zero-overlap
    contract, :func:`_pair_overlap_rowlocal` for when to pass
    ``row_local=True``). Pass ``shingles`` (from :func:`shingle_table`) to
    share the exploded table with signature computation instead of
    rescanning raw text."""
    if shingles is None:
        shingles = shingle_table(df, text_col, id_col, shingle_n)
    overlap = _pair_overlap_rowlocal if row_local else _pair_overlap
    return overlap(pairs, shingles, id_col, keep_zero_overlap).select(
        "id_a",
        "id_b",
        (
            F.col("n_common") / (F.col("size_a") + F.col("size_b") - F.col("n_common"))
        ).alias("jaccard"),
    )


def containment_for_pairs(
    pairs: DataFrame,
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    shingles: DataFrame | None = None,
    keep_zero_overlap: bool = False,
    row_local: bool = False,
) -> DataFrame:
    """Asymmetric shingle containment per candidate pair:
    ``containment_a = |A∩B| / |A|`` (how much of A is inside B) and the
    symmetric twin for B. Catches subsumption that Jaccard misses — a doc
    quoted whole inside a much larger doc has low Jaccard but containment
    ≈ 1, the criterion corpus-curation pipelines (e.g. quote/boilerplate
    stripping) act on. Shares :func:`_pair_overlap` /
    :func:`_pair_overlap_rowlocal` with Jaccard (and the zero-overlap
    contract)."""
    if shingles is None:
        shingles = shingle_table(df, text_col, id_col, shingle_n)
    overlap = _pair_overlap_rowlocal if row_local else _pair_overlap
    return overlap(pairs, shingles, id_col, keep_zero_overlap).select(
        "id_a",
        "id_b",
        (F.col("n_common") / F.col("size_a")).alias("containment_a"),
        (F.col("n_common") / F.col("size_b")).alias("containment_b"),
    )


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    rows: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signatures → bands → candidate
    pairs → exact-Jaccard verification ≥ threshold.

    ``shingles``: optionally a pre-built distinct (id, sh_h) table for the
    SAME (df, text_col, id_col, shingle_n) — callers running several
    shingle-consuming strategies over one corpus (the dedup method report:
    minhash + prefix-Jaccard both eat the 3-shingle table) build it once,
    persist it, and pass it in; lifecycle stays with the caller (no
    internal persist, no release here).

    The distinct-shingle table is built ONCE and persisted
    (memory-and-disk, spill-safe): the signature pass and both sides of the
    verification join consume it, so without the persist the
    scan→explode→distinct subtree executes 3-4x (measured 6 scans at
    sf0.1; ReuseExchange cannot deduplicate them — the verification sides
    broadcast while the signature side shuffles, so the exchanges never
    unify). r5 bisect of the r1→r4 +21% drift: ~0.35s of the sf0.1 wall
    is the cache encode itself (no-persist runs 1.5s vs 1.88s) — locally
    recompute is cheaper, but at corpus scale the persist saves 2-3
    re-executions of the distinct SHUFFLE, the dominant cost, so the
    persist stays; the recovered 0.23s came from keeping the shared table
    to exactly (id, sh_h) (seed hash now inline in the signature agg, see
    :func:`shingle_table`). The caller owns the action; the cache
    self-evicts under pressure and `spark.catalog.clearCache()` reclaims
    it eagerly.
    """
    if shingles is None:
        shingles = shingle_table(df, text_col, id_col, shingle_n).transform(tracked_persist)
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n, shingles=shingles)
    cands = lsh_candidate_pairs(lsh_bands(sigs, id_col, bands, rows), id_col)
    verified = jaccard_for_pairs(cands, df, text_col, id_col, shingle_n, shingles=shingles)
    return verified.filter(F.col("jaccard") >= threshold)


def build_minhash_index(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    rows: int = 4,
    shingle_n: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """(shingle_table, band_table) for a corpus — the persistent LSH
    "index". Write both to parquet once; incremental batches then dedup
    against the corpus WITHOUT re-shingling or re-hashing it (at 100 TB,
    re-running LSH over the full corpus per ingest batch is the difference
    between a minutes job and a day job)."""
    shingles = shingle_table(df, text_col, id_col, shingle_n)
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n, shingles=shingles)
    return shingles, lsh_bands(sigs, id_col, bands, rows)


def incremental_near_duplicates(
    new_docs: DataFrame,
    index_shingles: DataFrame,
    index_bands: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    rows: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_bucket: int = 1000,
    new_shingles: DataFrame | None = None,
    new_bands: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs (new × corpus ∪ new × new) for an ingest batch against
    a pre-built index (:func:`build_minhash_index`), with exact-Jaccard
    verification. Returns (id_a, id_b, jaccard), id_a < id_b, every pair
    involving at least one new-batch id.

    Identical hash family/banding as the full pipeline ⇒ produces exactly
    the pairs the full run would emit for these ids (equivalence is pinned
    by tests). Only the batch is shingled; the corpus index is probed by
    equi-join on (band_idx, band_hash) — work scales with batch size and
    bucket hit rate, not corpus size.

    Hash-family tripwire: an index built under one ``SPARK_GRAFT_HASH``
    family and probed under the other would join on disjoint hash spaces —
    zero new-vs-corpus matches, silently (new-vs-new still pairs, masking
    it). The family is stamped into the index columns' metadata at build
    time (it survives a parquet round-trip) and verified here; a mismatch
    raises ValueError instead of returning an empty-looking answer.

    The result is materialized eagerly (``localCheckpoint``) so the three
    intermediate caches (batch shingles/bands, candidate pairs) can be
    unpersisted before returning — a long-lived ingest session calling this
    per batch must not accumulate cached blocks until storage eviction. The
    returned DataFrame is small (verified near-dup pairs for one batch) and
    its blocks are reclaimed by the ContextCleaner once unreferenced.

    Callers that ALSO need the batch's shingle/band tables (index
    absorption — :mod:`streaming.dedup`) pass them pre-built via
    ``new_shingles``/``new_bands`` so the batch is shingled and hashed
    once, not twice; pre-built inputs are assumed already materialized
    (persisted or checkpointed) and are not unpersisted here.
    """
    _check_hash_family(index_shingles, "sh_h", "index_shingles")
    _check_hash_family(index_bands, "band_hash", "index_bands")
    own_handles: list[DataFrame] = []
    if new_shingles is None:
        new_shingles = shingle_table(new_docs, text_col, id_col, shingle_n).transform(tracked_persist)
        own_handles.append(new_shingles)
    if new_bands is None:
        new_sigs = minhash_signatures(
            new_docs, text_col, id_col, num_hashes, shingle_n, shingles=new_shingles
        )
        new_bands = lsh_bands(new_sigs, id_col, bands, rows).transform(tracked_persist)
        own_handles.append(new_bands)

    # restrict to buckets the batch actually touches BEFORE counting sizes:
    # the semi-join keeps whole buckets, so bucket_size (and thus the skew
    # cap decision) is identical to the full run for every touched bucket —
    # but the window never shuffles the untouched O(corpus) remainder
    touched = index_bands.unionByName(new_bands).join(
        new_bands.select("band_idx", "band_hash").distinct(),
        on=["band_idx", "band_hash"],
        how="left_semi",
    )
    counted = _capped_buckets(touched, max_bucket)
    a = counted.select(F.col(id_col).alias("id_a"), "band_idx", "band_hash")
    b = counted.join(
        new_bands.select(F.col(id_col)).distinct(), on=id_col, how="left_semi"
    ).select(F.col(id_col).alias("id_b"), "band_idx", "band_hash")
    cands = (
        a.join(b, on=["band_idx", "band_hash"])
        .filter(F.col("id_a") != F.col("id_b"))
        # canonicalize instead of id_a < id_b: the b side is new-only, so a
        # new×corpus pair with the smaller new id would otherwise be lost
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
        .distinct()
        .transform(tracked_persist)
    )
    # verification likewise touches only candidate ids' shingles, not the
    # whole index: set sizes for a doc are unchanged by the restriction
    cand_ids = cands.select(F.col("id_a").alias(id_col)).union(
        cands.select(F.col("id_b").alias(id_col))
    ).distinct()
    needed_shingles = index_shingles.unionByName(new_shingles).join(
        cand_ids, on=id_col, how="left_semi"
    )
    verified = jaccard_for_pairs(
        cands, new_docs, text_col, id_col, shingle_n, shingles=needed_shingles
    )
    result = verified.filter(F.col("jaccard") >= threshold).localCheckpoint(eager=True)
    for handle in [*own_handles, cands]:
        handle.unpersist()
    return result


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 60  # fits a signed 64-bit long via 15 hex chars


def simhash(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """60-bit SimHash fingerprint per document.

    Distinct tokens are exploded once; each bit position is a conditional
    sum over the token hash's bit — 60 aggregation expressions in ONE
    groupBy pass (single shuffle), then the fingerprint folds the majority
    votes back into a long. Everything stays in whole-stage codegen.
    """
    toks = spread(df, id_col).select(F.col(id_col), F.explode(words(text_col)).alias("tok")).distinct()
    h = content_hash64(F.col("tok"))
    toks = toks.withColumn("h", h)
    aggs = [
        F.sum(
            F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{j}")
        for j in range(SIMHASH_BITS)
    ]
    votes = toks.groupBy(id_col).agg(*aggs)
    fp = None
    for j in range(SIMHASH_BITS):
        bit = F.when(F.col(f"b{j}") > 0, F.lit(2 ** j).cast("long")).otherwise(F.lit(0).cast("long"))
        fp = bit if fp is None else fp + bit
    return votes.select(F.col(id_col), fp.alias("simhash"))


SIMHASH_ALL_PAIRS_MAX_ROWS = 20_000


def simhash_pairs(
    fingerprints: DataFrame,
    id_col: str,
    max_hamming: int = 3,
    max_rows: int = SIMHASH_ALL_PAIRS_MAX_ROWS,
) -> DataFrame:
    """Near-dup pairs by Hamming distance over SimHash fingerprints.

    Direct pair join — a deliberate small-scale twin for verification, and
    GUARDED as such (VERDICT r4): above ``max_rows`` fingerprints the n²
    cross join cannot be what the caller wants, so this auto-switches to
    :func:`simhash_pairs_banded` (identical rows, pigeonhole recall proof,
    candidate set bounded by chunk collisions instead of n²).

    The guard count makes this builder eager — and for an unpersisted
    fingerprint plan a bare count would execute the full simhash pipeline
    (scan + explode + 60-agg groupBy) once for the guard and AGAIN on
    consumption (ADVICE r5). So the guard persists ``fingerprints`` first
    (session-released via ``caching.release_persisted``): the count
    materializes the cache, and the returned plan — either branch — reads
    the cached rows instead of recomputing. Pass ``max_rows=0`` to disable
    the guard (no count, no persist) for micro-benchmarks.
    """
    if max_rows:
        if not fingerprints.is_cached:
            fingerprints = tracked_persist(fingerprints)
        n = fingerprints.count()
        if n > max_rows:
            return simhash_pairs_banded(
                fingerprints,
                id_col,
                max_hamming,
                pieces=simhash_pieces_for(n, max_hamming),
            )
    a = fingerprints.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"))
    b = fingerprints.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_pieces_for(
    n_rows: int, max_hamming: int, occupancy: int = 8, max_fanout: int = 100
) -> int:
    """Smallest ``pieces`` (q) whose combination-key space comfortably
    exceeds the corpus: with m = max_hamming + q chunks a q-combination key
    carries ~q·(60/m) bits, and we require 2^(those bits) ≥ occupancy·n so
    same-key collisions stay near-dup-driven, not birthday-driven. Candidate
    volume ≈ C(m, q)·n²/2^(q·bits): q=1 is quadratic in n once n outgrows
    the single-chunk space (2¹² at h=4 — measured 9.6× wall at 10× data);
    each +1 piece multiplies the key space by ~2^(60/m) and the explode
    fanout only by C(m, q), so bumping q restores ~linear scaling.

    The search saturates when the explode fanout C(m, q) would exceed
    ``max_fanout`` (key bits stop growing long before then — a 60-bit
    fingerprint simply cannot key more than ~2³⁰ rows collision-free at
    h=4), returning the widest-key q allowed; beyond that corpus size,
    shard the fingerprint table and pair within shards."""
    from math import comb

    best_q, best_bits = 1, 0
    q = 1
    while True:
        m = max_hamming + q
        if comb(m, q) > max_fanout:
            return best_q
        bits = q * (SIMHASH_BITS // m)
        if (1 << bits) >= occupancy * max(n_rows, 1):
            return q
        if bits > best_bits:
            best_q, best_bits = q, bits
        q += 1


def _chunk_layout(m: int) -> list[tuple[int, int]]:
    """(offset, width) per chunk: m chunks exactly partitioning the 60
    fingerprint bits (the first ``60 % m`` chunks take the extra bit)."""
    base, extra = divmod(SIMHASH_BITS, m)
    out, off = [], 0
    for i in range(m):
        w = base + (1 if i < extra else 0)
        out.append((off, w))
        off += w
    return out


def simhash_pairs_banded(
    fingerprints: DataFrame, id_col: str, max_hamming: int = 3, pieces: int = 1
) -> DataFrame:
    """Scale path for :func:`simhash_pairs`: split the 60-bit fingerprint
    into ``max_hamming + pieces`` chunks; by pigeonhole, any pair within
    ``max_hamming`` differing bits agrees EXACTLY on at least ``pieces``
    whole chunks, so joining on every ``pieces``-sized chunk combination
    (Manku et al. 2007's multi-piece blocking) has 100% recall while only
    materializing same-key candidates.

    ``pieces`` sets the key width and is the quadratic-blowup control:
    with pieces=1 and h=4 the key space is one 12-bit chunk — 4096 values
    FIXED, so bucket occupancy grows linearly with the corpus and
    candidate pairs quadratically (measured: 9.6× wall at 10× data). Use
    :func:`simhash_pieces_for` to size it (the :func:`simhash_pairs` guard
    does this automatically from its exact count); the explode fanout is
    C(m, pieces) keys per fingerprint — 5/15/35 for q=1/2/3 at h=4 —
    linear cost traded against the quadratic join.

    Produces exactly the same rows as the direct formulation for ANY
    ``pieces`` (the oracle suite checks the banded form against the
    brute-force SQL; a parametrized test pins q=1/2/3 equality).
    """
    from itertools import combinations

    m = max_hamming + pieces
    layout = _chunk_layout(m)

    def chunk_val(i: int) -> Column:
        off, w = layout[i]
        return F.shiftright(F.col("simhash"), off).bitwiseAND(F.lit((1 << w) - 1))

    # one key per pieces-sized chunk combination: the combination's chunk
    # values packed into a single long (chunk widths sum to ≤ 60 bits for
    # every supported (h, q), so the pack is collision-free), plus the
    # combination index as the second join column
    combos = list(combinations(range(m), pieces))
    keys = []
    for ci, combo in enumerate(combos):
        packed, shift = F.lit(0).cast("long"), 0
        for i in combo:
            packed = packed + (chunk_val(i) * F.lit(1 << shift).cast("long"))
            shift += layout[i][1]
        keys.append(F.struct(F.lit(ci).alias("combo_idx"), packed.alias("combo_val")))
    banded = fingerprints.select(
        F.col(id_col), F.col("simhash"), F.explode(F.array(*keys)).alias("c")
    ).select(id_col, "simhash", F.col("c.combo_idx").alias("combo_idx"), F.col("c.combo_val").alias("combo_val"))
    a = banded.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"), "combo_idx", "combo_val"
    )
    b = banded.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"), "combo_idx", "combo_val"
    )
    return (
        a.join(b, on=["combo_idx", "combo_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
        .withColumn("hamming", F.col("hamming").cast("int"))
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard with cheap blocking
# ---------------------------------------------------------------------------


def length_banded_pairs(
    df: DataFrame,
    id_col: str,
    block_cols: list[str],
    length_col: str,
    band: int,
) -> DataFrame:
    """Candidate (id_a, id_b) pairs with equal ``block_cols`` and
    ``|len_a − len_b| ≤ band``, generated by an EQUI-join on
    (blocks, length bucket): bucket width is band+1, the left side
    explodes to its 3 adjacent buckets, so any in-band pair differs by at
    most one bucket and the planner never GENERATES out-of-band pairs.
    Expressing the band as a join-condition inequality instead leaves the
    equi-keys at the blocks alone — with a fixed-cardinality block column
    (lang, source) that generates Σ c² rows per block before the band
    filter runs, the quadratic the r6 stress sweep measured at ~60× wall
    on the blocked-jaccard tier. Each qualifying pair emits exactly once
    (the right side keeps its single bucket), so no distinct is needed."""
    w = int(band) + 1
    bucket = F.floor(F.col(length_col) / w).cast("long")
    left = df.select(
        F.col(id_col).alias("id_a"),
        F.col(length_col).alias("_len_a"),
        *[F.col(c) for c in block_cols],
        F.explode(F.array(bucket - 1, bucket, bucket + 1)).alias("_bkt"),
    )
    right = df.select(
        F.col(id_col).alias("id_b"),
        F.col(length_col).alias("_len_b"),
        *[F.col(c) for c in block_cols],
        bucket.alias("_bkt"),
    )
    return (
        left.join(right, on=[*block_cols, "_bkt"])
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.abs(F.col("_len_a") - F.col("_len_b")) <= band)
        )
        .select("id_a", "id_b")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_cols: list[str],
    shingle_n: int = 3,
    threshold: float = 0.4,
    length_col: str | None = None,
    length_band: int = 50,
) -> DataFrame:
    """Exact n-gram Jaccard over pairs blocked by equality on ``block_cols``
    (+ optional length banding). Blocking bounds the pair count the way a
    sort-neighborhood would; with a length band the candidates come from
    the bucket equi-join of :func:`length_banded_pairs`, and verification
    is the row-local array intersection (blocked generation on a dense
    corpus yields many non-qualifying candidates — moving |A∩B| rows per
    pair through a shuffle for those was the r6 56× stress ratio)."""
    if length_col:
        pairs = length_banded_pairs(df, id_col, block_cols, length_col, length_band)
    else:
        keys = [F.col(c) for c in block_cols]
        sel = df.select(F.col(id_col), *keys)
        a = sel.select(F.col(id_col).alias("id_a"), *[F.col(c).alias(f"{c}_a") for c in block_cols])
        b = sel.select(F.col(id_col).alias("id_b"), *[F.col(c).alias(f"{c}_b") for c in block_cols])
        cond = F.col("id_a") < F.col("id_b")
        for c in block_cols:
            cond = cond & (F.col(f"{c}_a") == F.col(f"{c}_b"))
        pairs = a.join(b, cond).select("id_a", "id_b")
    # persist the shingle table: the verification consumes it on both pair
    # sides — without this the scan→normalize→explode→distinct subtree
    # executes per consumer (same policy and ownership note as
    # minhash_near_duplicates)
    shingles = shingle_table(df, text_col, id_col, shingle_n).transform(tracked_persist)
    return jaccard_for_pairs(
        pairs, df, text_col, id_col, shingle_n, shingles=shingles, row_local=True
    ).filter(F.col("jaccard") >= threshold)


def prefix_jaccard_join(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    shingle_n: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """EXACT set-similarity self-join (all pairs with shingle Jaccard ≥
    ``threshold``) via prefix filtering (AllPairs/PPJoin, Bayardo et al.
    WWW'07) — the deterministic alternative to MinHash/LSH when false
    negatives are not acceptable.

    Candidate generation: order every document's shingles by a global
    (rarity, hash) key, then apply the full lossless AllPairs/PPJoin
    filter stack — each one cuts candidate volume without touching recall
    (the brute-force oracle in the driver gate checks exactly that):

    - **probe prefix** ``|S| − ⌈t·|S|⌉ + 1`` (Bayardo): any qualifying
      pair shares its globally-first common shingle inside both prefixes;
    - **index prefix** ``|S| − ⌈(2t/(1+t))·|S|⌉ + 1`` on the canonically
      SMALLER side: for |A| ≤ |B|, overlap ≥ (2t/(1+t))·|A| pushes the
      first common shingle even earlier in A — the indexed lists shrink
      to ~⅓ of the probe prefix at t=0.5, and candidate tuples become
      Σ c_index·c_probe instead of Σ c_probe²;
    - **canonical (size, id) order** in the join condition: each pair is
      generated once, not twice;
    - **length filter** ``|A| ≥ ⌈t·|B|⌉``: J ≥ t is impossible across a
      bigger size gap;
    - **positional filter** (PPJoin, Xiao et al. WWW'08): a shared
      shingle at 0-based positions (i, j) bounds the overlap by
      ``1 + min(|A|−i−1, |B|−j−1)``; require that to reach
      ``⌈t/(1+t)·(|A|+|B|)⌉``. The globally-first common shingle of a
      qualifying pair always passes, so the pair survives.

    The pair-level filters run INSIDE the join, before the distinct and
    the verification — at 10× corpus scale they are the difference
    between a join-bounded plan and a quadratic one (the r6 stress
    replica measured the unfiltered prefix join at a 63× wall ratio; see
    the round log). Prefix-length ceilings subtract a 1e-9 epsilon before
    ``ceil`` so an inexact binary ``t`` can only LENGTHEN a prefix /
    WEAKEN a filter (lossless direction); ``threshold`` should still be
    binary-exact (0.5, 0.25, 0.75…) so ⌈t·n⌉ is the same integer
    everywhere, DuckDB included.

    Verification is ROW-LOCAL: each surviving candidate joins the two
    per-doc sorted shingle arrays (already built for the prefixes) and
    computes ``size(array_intersect(A, B))`` inside whole-stage codegen —
    2 rows per candidate through the join instead of the
    |A∩B|-rows-per-pair shuffle a shingle-table verification join moves.
    The distinction carries the worst data regime: a vocabulary-saturated
    corpus (the synthetic stress replica: 10× the rows, ~same distinct
    shingles) makes every prefix list grow linearly with the corpus, so
    EXACT candidate generation degrades toward length-banded all-pairs no
    matter the filter stack — candidate precision there was measured at
    literally zero. Cheap per-candidate verification keeps even that
    regime walkable (145 s → seconds at 10×); corpora whose shingle
    vocabulary GROWS with size (real text) keep rare-first prefix lists
    short and never enter it. When false negatives are tolerable at
    warehouse scale, :func:`minhash_near_duplicates` is the sub-quadratic
    path.

    Scale shape: shingle table + frequency join shuffle on ``sh_h``
    (uniform 60-bit keys), one per-doc sort of its own shingle list
    (row-local), index-to-probe prefix join on rare keys with all
    pair-level filters applied pre-shuffle, then two id-equi-joins
    against the per-doc array table and a codegen intersection."""
    if shingles is None:
        # persist only a table we built ourselves: a caller-supplied
        # shingle table is typically already persisted for sharing across
        # the dedup family, and re-caching it would double the block-storage
        # copy. tracked_persist (not localCheckpoint): the checkpoint ran
        # the whole shingle job at PLAN-BUILD time, before the caller's
        # action — the hidden-work class the no-planbuild-jobs gate forbids.
        shingles = shingle_table(df, text_col, id_col, shingle_n).transform(tracked_persist)
    sh = shingles.select(F.col(id_col), "sh_h")
    freq = sh.groupBy("sh_h").agg(F.count(F.lit(1)).alias("_freq"))
    # persisted: THREE consumers (the prefix explode and both verification
    # array sides) would otherwise each re-run the freq join + sort-fold —
    # and re-race the shingle cache underneath it (profiled: the shingle
    # subtree executed 4× per run before this persist)
    per_doc = (
        sh.join(freq, on="sh_h")
        .groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("_freq"), F.col("sh_h")))
            ).alias("_sorted")
        )
        .transform(tracked_persist)
    )
    eps = 1e-9
    t = float(threshold)
    n = F.size("_sorted")
    probe_len = (n - F.ceil(F.lit(t) * n - F.lit(eps)) + 1).cast("int")
    # one explode of the LONGER (probe) prefix, positions carried; the
    # index side is a position filter over the same subtree, so Catalyst
    # reuses the groupBy exchange instead of building two prefix tables
    entries = per_doc.select(
        F.col(id_col),
        n.alias("_n"),
        F.posexplode(F.slice("_sorted", 1, probe_len)).alias("_pos", "_p"),
    ).select(F.col(id_col), "_n", "_pos", F.col("_p.sh_h").alias("sh_h"))
    idx_c = 2.0 * t / (1.0 + t)
    index_len = (
        F.col("_n") - F.ceil(F.lit(idx_c) * F.col("_n") - F.lit(eps)) + 1
    )
    a = entries.filter(F.col("_pos") < index_len).select(
        F.col(id_col).alias("id_a"),
        F.col("_n").alias("n_a"),
        F.col("_pos").alias("pos_a"),
        "sh_h",
    )
    b = entries.select(
        F.col(id_col).alias("id_b"),
        F.col("_n").alias("n_b"),
        F.col("_pos").alias("pos_b"),
        "sh_h",
    )
    canonical = (F.col("n_a") < F.col("n_b")) | (
        (F.col("n_a") == F.col("n_b")) & (F.col("id_a") < F.col("id_b"))
    )
    length_ok = F.col("n_a") >= F.ceil(F.lit(t) * F.col("n_b") - F.lit(eps))
    required_overlap = F.ceil(
        F.lit(t / (1.0 + t)) * (F.col("n_a") + F.col("n_b")) - F.lit(eps)
    )
    overlap_ubound = F.lit(1) + F.least(
        F.col("n_a") - F.col("pos_a") - 1, F.col("n_b") - F.col("pos_b") - 1
    )
    cands = (
        a.join(b, on="sh_h")
        .filter(canonical & length_ok & (overlap_ubound >= required_overlap))
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
        .distinct()
    )
    doc_sets = per_doc.select(
        F.col(id_col),
        F.transform("_sorted", lambda s: s["sh_h"]).alias("_set"),
        n.alias("_n"),
    )
    # both verification joins ride pinned exchanges: the candidate table is
    # small in bytes, but each row costs an array_intersect over two full
    # shingle sets
    verified = (
        pin_by_key(cands, "id_a")
        .join(
            doc_sets.select(
                F.col(id_col).alias("id_a"),
                F.col("_set").alias("_set_a"),
                F.col("_n").alias("_size_a"),
            ),
            on="id_a",
        )
        .transform(pin_by_key, "id_b")
        .join(
            doc_sets.select(
                F.col(id_col).alias("id_b"),
                F.col("_set").alias("_set_b"),
                F.col("_n").alias("_size_b"),
            ),
            on="id_b",
        )
        .withColumn("_common", F.size(F.array_intersect("_set_a", "_set_b")))
    )
    return verified.select(
        "id_a",
        "id_b",
        (
            F.col("_common")
            / (F.col("_size_a") + F.col("_size_b") - F.col("_common"))
        ).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)


def sorted_neighborhood_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    window: int = 5,
    key_chars: int = 16,
    threshold: float = 0.5,
    shingle_n: int = 3,
) -> DataFrame:
    """Sorted-neighborhood (SNM, Hernández & Stolfo 1995) near-dup pairs:
    sort the corpus by a blocking key (here the normalized-text prefix —
    shared boilerplate/openings sort adjacent), slide a ``window``-row
    neighborhood over the sorted order, and verify only in-window pairs
    with exact shingle Jaccard — the fourth blocking family next to LSH
    bands, SimHash chunks, and attribute blocking, and the cheapest when
    duplicates share prefixes: candidate volume is exactly n·window.

    Recall contract: SNM finds a pair only if the two docs sort within
    ``window`` of each other — a PREFIX-sensitive method by design (a
    duplicate with a different opening line is LSH's job, not SNM's).

    Scale note: the rank here is one global sort window (fine at gate
    scale); at corpus scale the identical result comes from a range
    partition sort with per-partition ranks + ``window``-row boundary
    overlap between adjacent partitions — the standard SNM sharding.
    The neighborhood pairing is an EXPLODE + EQUI-JOIN on the rank
    (each row probes ranks r+1..r+window), not a rank-range theta join:
    the range form has no equi-key, so Spark plans it as a nested-loop
    over all n² rank pairs — measured 21× wall at 10× data; the
    equi-join materializes exactly the n·window candidates.

    Returns (id_a, id_b, jaccard) for in-window pairs with
    jaccard ≥ threshold."""
    key = F.substring(normalize_text(text_col), 1, key_chars)
    ranked = df.select(
        F.col(id_col),
        F.row_number()
        .over(Window.orderBy(key.asc(), F.col(id_col).asc()))
        .alias("_rank"),
    )
    probes = ranked.select(
        F.col(id_col).alias("id_a"),
        F.explode(
            F.array(*[F.col("_rank") + d for d in range(1, window + 1)])
        ).alias("_rb"),
    )
    b = ranked.select(F.col(id_col).alias("id_b"), F.col("_rank").alias("_rb"))
    # ranks are unique, so each unordered pair meets exactly once — no
    # distinct needed; canonicalize the id order for the verify join
    cands = probes.join(b, on="_rb").select(
        F.least("id_a", "id_b").alias("id_a"),
        F.greatest("id_a", "id_b").alias("id_b"),
    )
    return jaccard_for_pairs(cands, df, text_col, id_col, shingle_n).filter(
        F.col("jaccard") >= threshold
    )


def edit_distance_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_dist: int = 4,
) -> DataFrame:
    """Exact edit-distance near-dup pairs: every unordered pair of docs
    whose NORMALIZED texts are within ``max_dist`` Levenshtein edits —
    the character-level dedup family member (typo/OCR/near-verbatim
    variants that token-level Jaccard treats as distant when the edit
    splits words).

    Two EXACT filters bound the quadratic verify, neither can drop a
    true pair:

    1. **Length band** — ``lev(a,b) ≥ |len(a) − len(b)|``, so only pairs
       within ``max_dist`` length difference meet. Implemented as a
       bucket join (width ``max_dist+1``; a row probes its own and the
       next bucket), so candidates are bounded by per-bucket occupancy,
       never n².
    2. **Pigeonhole chunk filter** — split ``a`` into ``max_dist+1``
       contiguous chunks; ``max_dist`` edits touch ≤ ``max_dist`` chunks,
       so at least one chunk survives VERBATIM as a substring of ``b``
       (PartEnum/Ed-Join family). A ``locate`` over ``max_dist+1`` chunks
       replaces Levenshtein on ~99% of length-band candidates.

    Survivors get one ``levenshtein`` call with Spark's ``threshold``
    early-exit (O(len·k), returns −1 past the bound). Docs whose
    normalized text is shorter than ``max_dist+1`` chars are excluded
    (degenerate chunks; at that length "near-duplicate" is meaningless).

    Between the two, a third exact filter prunes the bulk of the
    in-band candidates for a fraction of the chunk filter's cost:
    **character-frequency bound** — one edit moves the character
    histogram by at most 2 units of L1 (a substitution changes two
    counts by one each), so ``lev(a,b) ≥ ⌈L1(hist_a, hist_b)/2⌉`` and
    any pair with ``L1 > 2·max_dist`` is impossible. The 37-bin
    histogram (a–z, 0–9, space) is computed once per DOC (O(corpus)),
    and the per-pair check is 37 integer ops — versus the chunk
    filter's ``max_dist+1`` substring searches over the full texts.

    Scale: the bucket join shuffles on the length bucket — uniform by
    construction when lengths are spread; a length-spike corpus (fixed-
    width records) degrades to blocked n² and should use LSH instead
    (the histogram bound cuts the verify cost of those bands, not their
    candidate count). A second blocking dimension (space-count band,
    same ±k pigeonhole) was MEASURED and rejected on this corpus: word
    counts correlate ~1:1 with length here, so it divided nothing while
    its 4-combo probe fanout doubled the shuffle — sf0.1 wall went 3.3 s
    → 6.1 s. It becomes the right lever only when the second dimension
    is genuinely independent of length. Returns (id_a, id_b, dist),
    id_a < id_b.
    """
    n_chunks = max_dist + 1
    alphabet = F.array(*[F.lit(c) for c in "abcdefghijklmnopqrstuvwxyz0123456789 "])
    # per-doc 37-bin histogram: count of char c == len - len(text with c removed)
    hist = lambda t: F.transform(  # noqa: E731
        alphabet, lambda ch: F.length(t) - F.length(F.replace(t, ch))
    )
    # spread: the expensive work (37 replace-scans per doc, then contains/
    # levenshtein per candidate pair) is proportional to fanout, not input
    # bytes — a compacted corpus read as ONE scan partition serializes all
    # of it (measured: 33× wall at 10× data single-file vs 1.9× spread)
    base = (
        spread(df, id_col)
        .select(F.col(id_col).alias("_id"), normalize_text(text_col).alias("_t"))
        .withColumn("_len", F.length("_t"))
        .filter(F.col("_len") >= n_chunks)
        .withColumn("_bkt", (F.col("_len") / n_chunks).cast("long"))
        .withColumn("_h", hist(F.col("_t")))
    )
    # probe my own bucket and the next: covers every |Δlen| <= max_dist pair
    # exactly once per direction; least/greatest + distinct canonicalizes.
    a = base.select(
        F.col("_id").alias("_ida"),
        F.col("_t").alias("_ta"),
        F.col("_len").alias("_la"),
        F.col("_h").alias("_ha"),
        F.explode(F.array(F.col("_bkt"), F.col("_bkt") + 1)).alias("_bkt"),
    )
    b = base.select(
        F.col("_id").alias("_idb"),
        F.col("_t").alias("_tb"),
        F.col("_len").alias("_lb"),
        F.col("_h").alias("_hb"),
        "_bkt",
    )
    chunk_len = (F.col("_la") / n_chunks).cast("long")
    chunk_hit = None
    for i in range(n_chunks):
        start = F.lit(1) + F.lit(i) * chunk_len
        # last chunk absorbs the remainder
        ln = chunk_len if i < n_chunks - 1 else F.col("_la") - F.lit(i) * chunk_len
        hit = F.contains(F.col("_tb"), F.substring(F.col("_ta"), start, ln))
        chunk_hit = hit if chunk_hit is None else (chunk_hit | hit)
    # canonicalize pair AND its texts before distinct: a same-bucket pair
    # meets the join in both orders; without text canonicalization the two
    # orders survive distinct as two rows of the same (id_a, id_b).
    a_first = F.col("_ida") < F.col("_idb")
    l1 = F.aggregate(
        F.zip_with("_ha", "_hb", lambda x, y: F.abs(x - y)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    cands = (
        a.join(b, on="_bkt")
        .filter(
            (F.col("_ida") != F.col("_idb"))
            & (F.abs(F.col("_la") - F.col("_lb")) <= max_dist)
        )
        .filter(l1 <= 2 * max_dist)
        .filter(chunk_hit)
        .select(
            F.least("_ida", "_idb").alias("id_a"),
            F.greatest("_ida", "_idb").alias("id_b"),
            F.when(a_first, F.col("_ta")).otherwise(F.col("_tb")).alias("_t1"),
            F.when(a_first, F.col("_tb")).otherwise(F.col("_ta")).alias("_t2"),
        )
        .distinct()
    )
    dist = F.levenshtein(F.col("_t1"), F.col("_t2"), max_dist)
    return (
        cands.select("id_a", "id_b", dist.alias("dist"))
        .filter(F.col("dist") >= 0)
        .select("id_a", "id_b", F.col("dist").cast("long").alias("dist"))
    )


def pair_recall_report(
    true_pairs: DataFrame,
    found_pairs: DataFrame,
    score_col: str = "jaccard",
    band_width: float = 0.2,
    round_digits: int = 6,
) -> DataFrame:
    """Measured recall of an approximate pair finder against exact ground
    truth, per similarity band — the index-honesty report for the text
    side (the ANN side has :func:`similarity.ann_recall_report`).

    ``true_pairs`` is the lossless pair set (e.g.
    :func:`prefix_jaccard_join`, whose no-false-negative guarantee is the
    point); ``found_pairs`` the approximate finder's output over the SAME
    id space (e.g. :func:`minhash_near_duplicates` — its banding s-curve
    means recall climbs with similarity, and this report shows exactly
    where). Both must normalize ``id_a < id_b``. Returns one row per
    ``band_width``-wide similarity band of the TRUE pairs:
    ``(band, n_true, n_found, recall)`` where ``band`` is the integer
    floor(score / band_width) clamped to the last full band, so the
    top band is closed ([0.8, 1.0] at the default width).

    Scale shape: a single equi-join of two pair lists on (id_a, id_b) —
    both are dedup OUTPUT (orders of magnitude below corpus scale) — and
    a bounded aggregation (≤ 1/band_width groups). The expensive exact
    ground truth is the caller's choice of scope; on a full corpus it is
    typically run over a sampled stratum, which changes nothing here.
    """
    n_bands = int(round(1.0 / band_width))
    band = F.least(F.floor(F.col(score_col) * F.lit(float(n_bands))), F.lit(n_bands - 1))
    # a finder emitting the same pair twice must not double-count it (the
    # left join would fan out the true row, inflating n_true AND n_found)
    hits = (
        found_pairs.select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("_hit", F.lit(1))
    )
    return (
        true_pairs.select("id_a", "id_b", band.cast("int").alias("band"))
        .join(hits, on=["id_a", "id_b"], how="left")
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_true"),
            F.sum(F.coalesce("_hit", F.lit(0))).cast("long").alias("n_found"),
        )
        .select(
            "band",
            "n_true",
            "n_found",
            F.round(F.col("n_found").cast("double") / F.col("n_true"), round_digits).alias(
                "recall"
            ),
        )
    )
