"""Product quantization (PQ) for embedding compression + ANN (beyond-reference).

PQ (Jégou et al. 2011, "Product Quantization for Nearest Neighbor Search")
is the standard scale path for billion-vector ANN: split each d-dim vector
into ``m`` subvectors, quantize each subvector to one of ``k`` codewords,
and store only the ``m`` small codes (64 floats → 4 bytes here). Queries
never touch the original vectors: an asymmetric-distance (ADC) lookup table
of ``m×k`` query↔codeword distances is built once per query, and each
stored vector's approximate distance is ``m`` table lookups + adds.

Spark-first shape — the part that matters at 100 TB:

- The codebook is a **model artifact** (``m×k×(d/m)`` numbers, a few KB).
  It is trained/seeded once, collected to the driver, and re-enters every
  plan as a *literal* — exactly how a deployed quantizer ships. Encoding
  and ADC scoring are therefore **row-local expressions**: zero shuffles,
  zero joins, whole-stage codegen end to end. A 100 TB embedding table is
  compressed in one scan, and a query is one scan over the (64× smaller)
  code table ending in TakeOrderedAndProject.
- All distances are computed on **fixed-point quantized** components
  (``round(x·10⁶)`` as int64, same idiom as
  :func:`similarity.centroid_sums`): integer sums are associative and
  exact, so results are bit-identical across partitionings, engines, and
  the DuckDB oracle — no float-summation-order drift.

Reference parity: the reference has no vector search at all (closest
analogue is its broadcast dimension join, ``ApplaudoETL.scala:117-136``);
this module is part of the beyond-reference training-data-pipeline surface
(SURVEY §7), composing with IVF (:func:`similarity.ivf_assign`) for the
classic IVF-PQ layout: route to a cell, ADC-scan only that cell's codes.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, functions as F

SCALE = 1_000_000  # fixed-point quantization scale (matches centroid_sums)


def _quantize_py(x: float, scale: int = SCALE) -> int:
    """Driver-side twin of Spark's ``round(x*scale, 0)`` (HALF_UP = half
    away from zero, which is also DuckDB's ``round`` on DOUBLE). Python's
    built-in ``round`` is banker's rounding and would disagree on exact
    .5 boundaries, so spell it out."""
    p = float(x) * scale
    return int(math.copysign(math.floor(abs(p) + 0.5), p))


def _quantized_subvectors(vec_col: str, m: int) -> list[Column]:
    """Row-local: slice the vector into ``m`` equal subvectors and quantize
    each component to int64 fixed-point. d must be divisible by m."""
    v = F.col(vec_col).cast("array<double>")
    dsub = (F.size(v) / m).cast("int")
    out = []
    for s in range(m):
        sub = F.slice(v, F.lit(s) * dsub + 1, dsub)
        out.append(F.transform(sub, lambda x: F.round(x * SCALE, 0).cast("long")))
    return out


def train_pq_codebook(
    df: DataFrame,
    m: int = 4,
    k: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[list[int]]]:
    """Deterministic PQ codebook: codewords of subspace ``s`` are the
    ``s``-th subvector slices of the first ``k`` vectors by id, quantized
    to fixed-point ints.

    ``codebook[s][j]`` = int64 components of codeword ``j`` in subspace
    ``s``. Like :func:`similarity.stride_centroids` this is reproducible
    seeding; per-subspace Lloyd's (:func:`similarity.lloyd_spherical` on
    each slice) slots in when codebook quality matters more than
    cross-engine byte-parity. The collect is ``k`` rows of driver-side
    model metadata, not a data collect."""
    rows = df.orderBy(id_col).limit(k).select(vec_col).collect()
    if not rows:
        raise ValueError("cannot train a PQ codebook on an empty table")
    d = len(rows[0][0])
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    return [
        [[_quantize_py(x) for x in row[0][s * dsub : (s + 1) * dsub]] for row in rows]
        for s in range(m)
    ]


def _argmin_code(vq: Column, codebook_s: list[list[int]]) -> Column:
    """Argmin over the literal codewords of one subspace: exact squared L2
    against the quantized subvector; ``array_min`` on (dist, code) structs
    is lexicographic, so ties break on the smaller code. Pure expression —
    no join, no shuffle, one distance evaluation per codeword.

    Distance arithmetic is two-tier (VERDICT r13 item 3): the codewords are
    plan-time literals, so their max |component| is known here, and a
    one-per-row bound check on max |vq component| proves ALL k int64
    distance sums for this row are overflow-free — those rows (every
    in-distribution vector) take the int64 fast path; only rows whose
    magnitude could overflow fall back to the exact decimal(38,0) path of
    :func:`_int_l2`. Both paths are exact integers when they run (the fast
    path is guarded to never overflow), so the selected code — and every
    declared query result — is bit-identical to the always-decimal r13
    form; what changes is that the k·dsub multiply-accumulate per row runs
    in int64 instead of decimal-128 for normal data.

    NULL routing: a NULL or empty vq, or one whose components are all NULL,
    makes the guard NULL and falls through to the decimal path. A vq with
    only SOME NULL components is guarded on its non-NULL ones, because
    ``array_max`` skips NULL elements, so a small one takes the int64 path.
    Either path selects the same code: a NULL component makes every
    candidate distance NULL in both folds alike."""
    cands = F.array(
        *[
            F.struct(
                F.lit(j).alias("code"),
                F.array(*[F.lit(c) for c in cw]).alias("cw"),
            )
            for j, cw in enumerate(codebook_s)
        ]
    )

    def argmin(dist_fn) -> Column:
        scored = F.transform(
            cands,
            lambda c: F.struct(
                dist_fn(vq, c["cw"]).alias("dist"), c["code"].alias("code")
            ),
        )
        return F.array_min(scored)["code"]

    dsub = max(len(codebook_s[0]), 1)
    c_max = max((abs(c) for cw in codebook_s for c in cw), default=0)
    # sum of dsub squared diffs ≤ dsub·(b_max + c_max)² must fit int64
    b_max = math.isqrt((2**63 - 1) // dsub) - c_max
    slow = argmin(_int_l2)
    if b_max <= 0:  # codewords themselves too large: decimal always
        return slow
    vq_safe = F.array_max(F.transform(vq, lambda x: F.abs(x))) <= F.lit(b_max)
    return F.when(vq_safe, argmin(_int_l2_i64)).otherwise(slow)


def _int_l2_i64(a: Column, b: Column) -> Column:
    """Squared L2 in pure int64 — the hot path. ONLY safe behind
    :func:`_argmin_code`'s magnitude guard (dsub·(max|a|+max|b|)² < 2⁶³);
    unguarded it is the ANSI ARITHMETIC_OVERFLOW executor-killer the r13
    edge sweep found."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    )


def _int_l2(a: Column, b: Column) -> Column:
    """Exact squared L2 between two int64 arrays.

    Squares and accumulates in decimal(38,0), NOT int64 (r13 embeddings
    edge sweep — the same overflow horizon r12 fixed in
    variance_ranked_dims): with SCALE=1e6, a single component at
    |x| ≳ 3e3 makes one squared diff overflow int64, an
    ARITHMETIC_OVERFLOW executor-killer under ANSI on any
    out-of-distribution vector (a mis-scaled upstream embed job is a
    certainty at 100 TB). decimal(38,0) is exact to |x| ~ 1e12 and
    matches the DuckDB oracles' HUGEINT arithmetic. The int64
    SUBTRACTION stays safe far beyond that horizon (|diff| < 2e18).
    :func:`_argmin_code` routes in-distribution rows to the int64 twin
    :func:`_int_l2_i64` behind a proven-safe magnitude guard and keeps
    this as the out-of-distribution fallback."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x - y).cast("decimal(38,0)")
            * (x - y).cast("decimal(38,0)"),
        ),
        F.lit(0).cast("decimal(38,0)"),
        lambda acc, t: acc + t,
    )


def pq_encode(
    df: DataFrame,
    codebook: list[list[list[int]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Compress every vector to ``m`` codes: (id, [keep_cols...], codes
    array<int>).

    Entirely row-local (codebook enters as literals), so the 100 TB encode
    is one scan with zero exchanges; write the result partitioned however
    the read side wants it — ``keep_cols`` carries routing keys (e.g. the
    IVF ``cluster_id``) through for a partitioned code table."""
    m = len(codebook)
    subs = _quantized_subvectors(vec_col, m)
    codes = F.array(*[_argmin_code(subs[s], codebook[s]) for s in range(m)])
    extra = [F.col(c) for c in (keep_cols or [])]
    return df.select(F.col(id_col), *extra, codes.alias("codes"))


def _codebook_dims(codebook: list[list[list[int]]], query: list[float]) -> int:
    """Validate query dim against the codebook; return dsub."""
    m = len(codebook)
    d = sum(len(cb[0]) for cb in codebook)
    if len(query) != d:
        raise ValueError(f"query dim {len(query)} != codebook dim {d}")
    return d // m


def _query_dtab(
    qq: list[int], codebook: list[list[list[int]]], dsub: int
) -> list[list[int]]:
    """The ``m×k`` exact-int distance table of a quantized query against
    every codeword — the per-query driver-side artifact of ADC."""
    return [
        [
            sum((qq[s * dsub + i] - cw[i]) ** 2 for i in range(dsub))
            for cw in codebook[s]
        ]
        for s in range(len(codebook))
    ]


def _adc_rank(
    encoded: DataFrame, lookup: Column, k: int, id_col: str
) -> DataFrame:
    """Row-local ADC scoring against a literal lookup (array-of-arrays for
    one table, a per-cell map's value for residual IVFADC) into
    TakeOrderedAndProject (ascending distance, ties by id)."""
    total = F.aggregate(
        F.zip_with(lookup, F.col("codes"), lambda row, c: F.element_at(row, c + 1)),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    return (
        encoded.select(F.col(id_col), total.alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col(id_col))
        .limit(k)
    )


def _probe_cells(centroids: DataFrame, query: list[float], nprobe: int) -> DataFrame:
    """The ``nprobe`` centroids nearest the query by cosine (ties → smaller
    centroid id) — the shared IVF routing step."""
    from scala_etl_test_spark.functions.vectors import cosine_similarity
    from scala_etl_test_spark.operators.similarity import _as_double_array

    return (
        centroids.withColumn(
            "_sim", cosine_similarity("centroid_vec", _as_double_array(query))
        )
        .orderBy(F.col("_sim").desc(), F.col("centroid_id"))
        .limit(nprobe)
    )


def pq_adc_topk(
    encoded: DataFrame,
    codebook: list[list[list[int]]],
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """ADC top-k over PQ codes: precompute the ``m×k`` query↔codeword
    distance table driver-side (exact ints, same quantization), then each
    row's approximate distance is ``m`` array lookups + adds — a single
    scan of the code table into TakeOrderedAndProject (ascending distance,
    ties by id)."""
    dsub = _codebook_dims(codebook, query)
    dtab = _query_dtab([_quantize_py(x) for x in query], codebook, dsub)
    lookup = F.array(*[F.array(*[F.lit(v) for v in row]) for row in dtab])
    return _adc_rank(encoded, lookup, k, id_col)


def ivf_pq_topk(
    encoded: DataFrame,
    centroids: DataFrame,
    codebook: list[list[list[int]]],
    query: list[float],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF-PQ query path: route to the ``nprobe`` cells nearest the query
    (cosine, ties → smaller centroid id), then ADC-rank only those cells'
    PQ codes — the classic billion-vector ANN layout (IVFADC, Jégou et al.
    2011 §IV): with the code table written partitioned by ``cluster_id``,
    non-probed cells are pruned at the source and the scan touches
    ``nprobe/n_cells`` of the (already 64×-compressed) data.

    ``encoded`` is :func:`pq_encode` output carrying ``cluster_id``
    (from :func:`similarity.ivf_assign` before encoding). This variant
    encodes raw vectors; residual PQ (encode ``x − centroid``) is the
    standard refinement when recall at low nprobe matters."""
    probe = _probe_cells(centroids, query, nprobe).select(
        F.col("centroid_id").alias("cluster_id")
    )
    probed = encoded.join(F.broadcast(probe), on="cluster_id")
    return pq_adc_topk(probed.select(id_col, "codes"), codebook, query, k=k, id_col=id_col)


def _residual(vec_col: str, centroid_col: str = "centroid_vec") -> Column:
    """Row-local residual x − c(x): plain double subtraction, the same IEEE
    op in every engine, computed BEFORE quantization so the codebook spends
    its 16 codewords on the (much tighter) residual distribution."""
    return F.zip_with(
        F.col(vec_col).cast("array<double>"), F.col(centroid_col), lambda a, b: a - b
    )


def train_residual_codebook(
    df: DataFrame,
    centroids: DataFrame,
    m: int = 4,
    k: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[list[int]]]:
    """Residual-PQ codebook: codewords are the quantized residual slices of
    the first ``k`` vectors w.r.t. their OWN assigned cells. The seed
    assignment runs in Spark (same argmax as the corpus encode — no Python
    re-derivation of float comparisons); the residual subtraction and
    quantization happen on the collected doubles with the identical IEEE
    ops."""
    from scala_etl_test_spark.operators.similarity import ivf_assign

    seeds = df.orderBy(id_col).limit(k)
    j = (
        ivf_assign(seeds, centroids, vec_col=vec_col, id_col=id_col)
        .join(
            F.broadcast(centroids),
            F.col("cluster_id") == F.col("centroid_id"),
        )
        .orderBy(id_col)
        .select(vec_col, "centroid_vec")
        .collect()
    )
    if not j:
        raise ValueError("cannot train a PQ codebook on an empty table")
    d = len(j[0][0])
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    res = [[float(x) - float(c) for x, c in zip(r[0], r[1])] for r in j]
    return [
        [[_quantize_py(v) for v in row[s * dsub : (s + 1) * dsub]] for row in res]
        for s in range(m)
    ]


def residual_pq_encode(
    df: DataFrame,
    centroids: DataFrame,
    codebook: list[list[list[int]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Assign cells, subtract the cell centroid, PQ-encode the residual:
    (id, cluster_id, codes). One broadcast-join argmax (the assignment) +
    one broadcast join to re-attach the centroid vector — the encode
    itself stays a row-local literal fold, so the corpus is scanned once
    and shuffled only by the assignment's groupBy."""
    from scala_etl_test_spark.operators.similarity import ivf_assign

    assigned = ivf_assign(df, centroids, vec_col=vec_col, id_col=id_col)
    frame = assigned.join(
        F.broadcast(centroids), F.col("cluster_id") == F.col("centroid_id")
    ).select(
        F.col(id_col), F.col("cluster_id"), _residual(vec_col).alias("_residual")
    )
    return pq_encode(
        frame, codebook, vec_col="_residual", id_col=id_col, keep_cols=["cluster_id"]
    )


def ivf_pq_residual_topk(
    encoded: DataFrame,
    centroids: DataFrame,
    codebook: list[list[list[int]]],
    query: list[float],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
) -> DataFrame:
    """Residual IVFADC query: probe ``nprobe`` cells, and ADC-rank each
    cell's codes against a PER-CELL distance table built from the query's
    residual to THAT cell's centroid (q − c_cell) — the lookup enters the
    plan as one literal map ``cluster_id → m×k table``, so scoring is
    still row-local: map lookup + m array reads + adds into
    TakeOrderedAndProject."""
    dsub = _codebook_dims(codebook, query)
    probe_rows = (
        _probe_cells(centroids, query, nprobe)
        .select("centroid_id", "centroid_vec")
        .collect()
    )
    map_args: list[Column] = []
    for r in probe_rows:
        qres = [float(q) - float(c) for q, c in zip(query, r["centroid_vec"])]
        dtab = _query_dtab([_quantize_py(x) for x in qres], codebook, dsub)
        map_args.append(F.lit(r["centroid_id"]))
        map_args.append(F.array(*[F.array(*[F.lit(v) for v in row]) for row in dtab]))
    lookup = F.create_map(*map_args)
    probed = encoded.filter(
        F.col("cluster_id").isin([r["centroid_id"] for r in probe_rows])
    )
    return _adc_rank(
        probed, F.element_at(lookup, F.col("cluster_id")), k, id_col
    )
