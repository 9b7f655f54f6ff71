"""Similarity search over embedding columns (array<float>).

The reference's embedding path (/root/reference/embed.py:23-45 CLS vectors,
utils/embed.py:58-82 full similarity matrix) is driver-bound O(n^2) numpy.
Re-expressed for Spark as relational pair operators over ONE kernel:

  * ``_cos_pairs``: (qid, nid, cos) over two normed (id, vec, _norm)
    frames — an equi-join on a bucket/cell key, or a cross join without
    one, a pair predicate (``qid != nid``, ``qid < nid`` or
    ``nid < qid``), and the cosine as the one JVM-side ``_dot`` fold
    (unrolled to whole-stage codegen for 64-dim vectors, no Python) over
    the product of the NULL-for-zero norms. ``_topk`` is the one
    row_number ranker over (cos desc, nid asc).
  * Exact, cross-joined: ``cosine_topk`` (top-k; a probe set is
    broadcast, making it a map-side O(n·|probe|) scan),
    ``embedding_near_dup_pairs`` (pairs at or above a threshold) and
    ``duplicate_ratio`` (per-vector max cosine) — the oracle-checkable
    specs.
  * Bucketed, the scale paths: guard parallelism, assign cells, checkpoint
    the norm frame once, then the kernel as a within-cell self-join —
    ``ann_topk_lsh`` and ``duplicate_ratio_ann`` on ``rp_lsh_buckets``
    (deterministic ±1 hyperplanes from the md5-based h60, shrinking the
    pair space ~2^RP_PLANES), ``ivf_topk`` on nearest-centroid cells, and
    ``semdedup`` on seeded or ``kmeans_fit`` cells.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.hashing import h60
from .partitioning import checkpoint_observed, ensure_min_parallelism


# Every embedding fixture/gate in this engine is 64-dimensional; the unrolled
# fast path below is guarded on exactly this length and falls back to the
# general higher-order fold for anything else, so the constant is a physical
# optimization knob, not a semantic limit.
_UNROLL_DIM = 64

# Gated parameters, one definition with the DuckDB oracles; the threshold
# is the reference's clustering similarity_threshold (clustering.py:25-27)
RP_PLANES = 8
RP_DIM = 64
IVF_CELLS = 8
IVF_K = 3
CLUSTER_THRESHOLD = 0.85


def _dot_hof(a: str, b: str) -> str:
    # sequential fold => deterministic summation order (oracle parity)
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)),"
        " cast(0.0 as double), (acc, v) -> acc + v)"
    )


def _dot(a: str, b: str, dim: int = _UNROLL_DIM) -> str:
    """Dot product with an UNROLLED whole-stage-codegen fast path.

    Spark higher-order lambdas (aggregate/zip_with) are CodegenFallback —
    evaluated interpreted per element with closure allocation per row
    (CLAUDE.md landmine; measured 2.2x on the 200x2000 cosine pair scan,
    round-8 notes). When both arrays have exactly ``dim`` elements the
    unrolled sum ``(((0.0 + p1) + p2) + ...)`` is the SAME left-associated
    IEEE addition chain over the SAME float->double casts the fold performs
    — bit-identical output (pinned by tests/test_similarity_unroll.py) —
    but it compiles into whole-stage codegen. Any other shape (NULL array,
    ragged/truncated vector, future non-64-dim corpus) takes the original
    fold, so semantics are unchanged everywhere. element_at is ANSI-safe
    here because the size guard proves every index is in range."""
    hof = _dot_hof(a, b)
    if not dim:
        return hof
    terms = "".join(
        f" + (cast(element_at({a}, {i}) as double)"
        f" * cast(element_at({b}, {i}) as double))"
        for i in range(1, dim + 1)
    )
    return (
        f"(case when size({a}) = {dim} and size({b}) = {dim} "
        f"then (cast(0.0 as double){terms}) else {hof} end)"
    )


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """L2 norm, NULL for zero vectors: every cosine here divides by
    (_na * _nb), and Spark 4's default ANSI mode turns a zero-norm
    embedding (failed embedder, empty doc) into a job-fatal
    DIVIDE_BY_ZERO. nullif makes cosine-vs-zero-vector NULL instead —
    NULL orders last under desc (drops out of top-k), compares false
    against any tau, and max() ignores it, so all downstream keep/rank
    logic degrades per-row instead of aborting (review finding; the
    DuckDB oracle fixtures are zero-free so parity is untouched)."""
    return df.withColumn(
        "_norm", F.expr(f"nullif(sqrt({_dot(vec_col, vec_col)}), 0.0)")
    )


def _cos_pairs(
    a: DataFrame,
    b: DataFrame,
    pred: str,
    id_col: str,
    vec_col: str,
    key: str | None = None,
) -> DataFrame:
    """The one embedding pair kernel: (qid, nid, cos) over two normed
    (id, vec, _norm[, key]) frames, ``a`` giving qid and ``b`` nid, kept
    where the SQL predicate ``pred`` over qid/nid holds (``qid != nid``,
    ``qid < nid`` or ``nid < qid``). Equi-joins on ``key`` (LSH bucket,
    IVF cell) when given, cross-joins otherwise. ``cos`` is the one
    :func:`_dot` fold over the product of the two NULL-for-zero norms, so
    a zero vector gives a NULL cosine instead of an ANSI abort."""
    keys = [key] if key else []
    left = a.select(
        F.col(id_col).alias("qid"), *keys,
        F.col(vec_col).alias("_va"), F.col("_norm").alias("_na"),
    )
    right = b.select(
        F.col(id_col).alias("nid"), *keys,
        F.col(vec_col).alias("_vb"), F.col("_norm").alias("_nb"),
    )
    joined = left.join(right, key) if key else left.crossJoin(right)
    return joined.where(pred).select(
        "qid",
        "nid",
        (F.expr(_dot("_va", "_vb")) / (F.col("_na") * F.col("_nb"))).alias("cos"),
    )


def _bucket_pairs(
    vectors: DataFrame,
    cells: DataFrame,
    key: str,
    pred: str,
    id_col: str,
    vec_col: str,
) -> tuple[DataFrame, DataFrame]:
    """The bucketed operators' shared tail: ``vectors`` (already through
    the parallelism guard, so the cell expressions and the within-cell
    scans inherit its partition count) joined to its ``cells`` (id, key),
    then the kernel as a within-cell self-join. Returns (norm frame,
    pairs).

    The slim (id, key, vec, _norm) norm frame is localCheckpointed ONCE:
    both sides of the self-join read it, and without the checkpoint each
    side re-executes the full cell-assignment + norm lineage — doubling
    the corpus scan cost per call (dedup.py multi-branch doctrine).
    eager=False: it materializes at the first action, like the other lazy
    checkpoints in this repo."""
    v = (
        with_norm(vectors.join(cells, id_col), vec_col)
        .select(id_col, key, vec_col, "_norm")
        .localCheckpoint(eager=False)
    )
    return v, _cos_pairs(v, v, pred, id_col, vec_col, key)


def _topk(pairs: DataFrame, k: int) -> DataFrame:
    """Top-k per qid by (cos desc, nid asc) — NULL cosines rank last —
    as (vec_id, neighbor_id, cos_sim, rank)."""
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("nid").asc())
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("qid").alias("vec_id"),
            F.col("nid").alias("neighbor_id"),
            F.col("cos").alias("cos_sim"),
            "rank",
        )
    )


def cosine_topk(
    vectors: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probes: DataFrame | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors: (vec_id, neighbor_id, cos_sim, rank).

    ``probes`` defaults to the full set (all-pairs); pass a small probe
    DataFrame for query-style search — it is broadcast, making the join
    map-side."""
    vectors = ensure_min_parallelism(vectors)
    qry = with_norm(probes if probes is not None else vectors, vec_col)
    if probes is not None:
        qry = F.broadcast(qry)
    base = with_norm(vectors, vec_col)
    return _topk(_cos_pairs(qry, base, "qid != nid", id_col, vec_col), k)


def hyperplane_sign_expr(plane: int, elem) -> str:
    """SQL expression for sign(dot(vec, H_plane)) where H_plane[d] = +1 if
    h60(f"{plane}|{d}") is odd else -1, d < ``RP_DIM`` — deterministic;
    ``elem(i)`` renders the i-th (1-based) element as a double in the
    engine's dialect (the DuckDB oracle renders ``(embedding[i]::double)``).

    rp_lsh_buckets renders try_element_at, not element_at: under Spark
    4's default ANSI mode a ragged/truncated embedding (fewer than
    ``RP_DIM`` elements) would abort the whole job with
    INVALID_ARRAY_INDEX_IN_ELEMENT_AT (review finding). try_element_at
    yields NULL, the NULL poisons the sum, and
    ``case when NULL > 0`` takes the else arm — sign bit 0, which is
    byte-for-byte what the DuckDB twin (``l[i]`` is NULL out of range)
    already does, so ragged vectors land in bucket 0 on BOTH engines
    instead of failing on one."""
    terms = " + ".join(
        f"({'' if h60(f'{plane}|{d}') & 1 else '-'}{elem(d + 1)})"
        for d in range(RP_DIM)
    )
    return f"(case when ({terms}) > 0 then 1 else 0 end)"


def rp_lsh_buckets(
    vectors: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(vec_id, bucket): bucket = sum over the ``RP_PLANES`` planes of
    sign_bit << plane."""
    def elem(i):
        return f"cast(try_element_at({vec_col}, {i}) as double)"

    bucket_expr = " + ".join(
        f"cast({hyperplane_sign_expr(p, elem)} as bigint) * {1 << p}"
        for p in range(RP_PLANES)
    )
    return vectors.select(
        F.col(id_col), F.expr(bucket_expr).alias("bucket")
    )


def ann_topk_lsh(
    vectors: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates restricted to same-bucket pairs
    (equi-join on bucket), then exact cosine + windowed rank within bucket."""
    vectors = ensure_min_parallelism(vectors)
    b = rp_lsh_buckets(vectors, id_col, vec_col)
    _, pairs = _bucket_pairs(vectors, b, "bucket", "qid != nid", id_col, vec_col)
    return _topk(pairs, k)


def embedding_near_dup_pairs(
    vectors: DataFrame,
    threshold: float = CLUSTER_THRESHOLD,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All pairs with cosine >= threshold — the reference's embedding-cosine
    duplicate criterion (clustering.py:169-185) as a relational self-join.
    Returns (id_a, id_b, cos_sim), a < b. Exact form for oracle checking;
    at scale feed rp_lsh_buckets candidates instead of the cross join."""
    n = with_norm(vectors, vec_col)
    return (
        _cos_pairs(n, n, "qid < nid", id_col, vec_col)
        .where(F.col("cos") >= F.lit(threshold))
        .select(
            F.col("qid").alias("id_a"),
            F.col("nid").alias("id_b"),
            F.col("cos").alias("cos_sim"),
        )
    )


def duplicate_ratio(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector max cosine vs the rest of the corpus — the reference's
    get_duplicate_ratio (clustering.py:169-185). (vec_id, dup_ratio)."""
    n = with_norm(vectors, vec_col)
    return (
        _cos_pairs(n, n, "qid != nid", id_col, vec_col)
        .groupBy(F.col("qid").alias("vec_id"))
        .agg(F.max("cos").alias("dup_ratio"))
    )


def duplicate_ratio_ann(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PRODUCTION duplicate-ratio: per-vector max cosine restricted to
    same-RP-LSH-bucket candidates (equi-join on bucket — shuffle hash join,
    AQE-splittable), vectors alone in their bucket get 0.0. This is the
    100 TB-safe wiring of the reference's get_duplicate_ratio
    (clustering.py:169-185): candidate space shrinks ~2^RP_PLANES vs the
    all-pairs ``duplicate_ratio`` (kept as the oracle-checkable exact spec).
    Returns (vec_id, dup_ratio) for EVERY input vector."""
    vectors = ensure_min_parallelism(vectors)
    b = rp_lsh_buckets(vectors, id_col, vec_col)
    _, pairs = _bucket_pairs(vectors, b, "bucket", "qid != nid", id_col, vec_col)
    max_cos = pairs.groupBy(F.col("qid").alias(id_col)).agg(
        F.max("cos").alias("_max_cos")
    )
    # the output spine is the GUARDED input (every id, one row each)
    return (
        vectors.select(id_col)
        .join(max_cos, id_col, "left")
        .select(
            id_col, F.coalesce("_max_cos", F.lit(0.0)).alias("dup_ratio")
        )
    )


def cluster_score_col(dup_ratio_col: str):
    """J3 cluster score (clustering.py:187-207) as a native Column, with
    thr = ``CLUSTER_THRESHOLD``:
      ratio >= thr: max(0, 0.2 * (1 - (ratio - thr)/(1 - thr)))
      else:        min(1, 0.8 + 0.2 * (1 - ratio/thr))
    """
    threshold = CLUSTER_THRESHOLD
    r = F.col(dup_ratio_col)
    over = F.greatest(
        F.lit(0.0),
        F.lit(0.2) * (F.lit(1.0) - (r - F.lit(threshold)) / F.lit(1.0 - threshold)),
    )
    under = F.least(
        F.lit(1.0), F.lit(0.8) + F.lit(0.2) * (F.lit(1.0) - r / F.lit(threshold))
    )
    return F.when(r >= F.lit(threshold), over).otherwise(under)


def quantize_int8(
    vectors: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric int8 quantization per vector (the storage path for
    billion-vector corpora: 4x smaller than float32, dot products stay
    SIMD-friendly): scale = max(|x|)/127, q_i = round(x_i/scale), plus the
    max reconstruction error. All native exprs (whole-stage codegen);
    zero vectors quantize to all-zero with scale 0. Returns
    (vec_id, scale, q: array<int>, max_err)."""
    mx = f"aggregate({vec_col}, cast(0.0 as double), (m, x) -> greatest(m, abs(cast(x as double))))"
    scale = f"({mx} / 127.0)"
    q = (
        f"transform({vec_col}, x -> cast(round(cast(x as double) / nullif({scale}, 0.0)) as int))"
    )
    # reconstruct and take the max absolute error (0 for zero vectors)
    err = (
        f"aggregate(zip_with({vec_col}, {q}, (x, qq) -> "
        f"abs(cast(x as double) - coalesce(qq, 0) * {scale})), "
        "cast(0.0 as double), (m, e) -> greatest(m, e))"
    )
    return vectors.select(
        F.col(id_col),
        F.expr(scale).alias("scale"),
        F.expr(f"transform({q}, v -> coalesce(v, 0))").alias("q"),
        F.expr(err).alias("max_err"),
    )


def seed_centroids(
    vectors: DataFrame,
    n_cells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic centroid seeds: the ``n_cells`` lowest-id vectors.
    orderBy+limit => TakeOrderedAndProject (per-partition top-k + driver
    merge of n_cells rows), NOT a global single-partition Window sort."""
    return (
        vectors.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("c"))
        .orderBy(F.col("cid").asc())
        .limit(n_cells)
    )


def assign_cells(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid assignment by squared L2 (argmin, centroid-id
    tie-break) against a broadcast ``(cid, c)`` centroid table. Returns
    (id_col, cell).

    The argmin is ``min(struct(d2, cid))`` — a HASH AGGREGATE with map-side
    partials, not a row_number window: the window form sorts the full
    n*k pair stream inside one shuffle (round-8 guide §2.4 — an aggregate
    keyed the same way needs no sort and partially combines map-side, so
    only ~n rows reach the reducer). Equivalence incl. NULL d2 is exact:
    struct comparison orders NULL fields first, identical to the window's
    ``orderBy(d2.asc)`` NULLS FIRST (pinned by tests/test_similarity_unroll
    .py::test_assign_cells_argmin_matches_window).

    The distance expression is unrolled to a whole-stage-codegen sum when
    both arrays are exactly ``_UNROLL_DIM`` long (same doctrine and
    bit-identity argument as :func:`_dot`); other shapes take the original
    interpreted fold."""
    dim = _UNROLL_DIM
    dist_hof = (
        "aggregate(zip_with(v, c, (x, y) -> (cast(x as double) - cast(y as double))"
        " * (cast(x as double) - cast(y as double))), cast(0.0 as double),"
        " (acc, d) -> acc + d)"
    )
    sq_terms = "".join(
        f" + ((cast(element_at(v, {i}) as double) - cast(element_at(c, {i}) as double))"
        f" * (cast(element_at(v, {i}) as double) - cast(element_at(c, {i}) as double)))"
        for i in range(1, dim + 1)
    )
    dist = (
        f"(case when size(v) = {dim} and size(c) = {dim} "
        f"then (cast(0.0 as double){sq_terms}) else {dist_hof} end)"
    )
    pairs = (
        vectors.select(F.col(id_col), F.col(vec_col).alias("v"))
        .crossJoin(F.broadcast(centroids))
        .withColumn("d2", F.expr(dist))
    )
    return (
        pairs.groupBy(id_col)
        .agg(F.min(F.struct(F.col("d2"), F.col("cid"))).alias("__am"))
        .select(F.col(id_col), F.col("__am.cid").alias("cell"))
    )


def ivf_assign(
    vectors: DataFrame,
    n_cells: int = IVF_CELLS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF cell assignment: centroids are the ``n_cells`` lowest-id vectors
    (deterministic, no training dependency); each vector goes to its nearest
    centroid by squared L2 (argmin, centroid-id tie-break). Returns
    (vec_id, cell).

    The scale path: centroids come from a proper sampled k-means in practice
    (``kmeans_fit``); the assignment/search plumbing (broadcast centroid
    table, argmin select, within-cell probe join) is identical and is what
    this operator establishes — deterministically, so the DuckDB oracle can
    check it."""
    return assign_cells(
        vectors, seed_centroids(vectors, n_cells, id_col, vec_col), id_col, vec_col
    )


def ivf_topk(
    vectors: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """IVF ANN: exact cosine top-``IVF_K`` restricted to same-cell
    candidates over ``IVF_CELLS`` cells."""
    vectors = ensure_min_parallelism(vectors)
    cells = ivf_assign(vectors, IVF_CELLS, id_col, vec_col)
    _, pairs = _bucket_pairs(vectors, cells, "cell", "qid != nid", id_col, vec_col)
    return _topk(pairs, IVF_K)


# Size-adaptive cutover of kmeans_fit (connected_components doctrine): at
# or below this many vectors the whole Lloyd loop runs as ONE Arrow collect
# + numpy on the driver instead of 2 jobs per iteration of distributed
# assignment/means — measured ~2 s per bench semdedup stage at 2000
# vectors, where the distributed loop is pure stage latency. At 100k rows
# x 64 dims the collect is ~50 MB, comfortably inside the driver budget
# (_cc_driver's 2M-edge doctrine); larger inputs take the distributed loop.
_KMEANS_DRIVER_MAX_N = 100_000


def _kmeans_driver(spark, src, k: int, iters: int, cent_schema: str):
    """Driver-side Lloyd over a collected (``__kid``, ``__v``) frame — the
    small-input arm of kmeans_fit's size-adaptive cutover (the
    connected_components doctrine: pick the physical strategy by runtime
    statistics). Rules are identical to the distributed path (lowest-id
    seeds, L2 argmin with centroid-id tie-break, empty cell keeps its
    previous centroid), so the result matches to float-summation order —
    exactly the operator's stated determinism contract, and byte-for-byte
    the reference the differential test compares against.

    Returns None when the collected vectors are irregular (NULL, ragged or
    NaN-bearing rows) — those carry engine-specific NULL/NaN semantics the
    distributed expressions define (Spark orders NaN above every double in
    the argmin struct; numpy's argmin stops at the first NaN), so the
    caller falls through to the Spark path. Arrow both ways, as in
    dedup._cc_driver."""
    import numpy as np
    import pyarrow.compute as pc

    tbl = src.toArrow()
    if tbl.num_rows == 0:
        return spark.createDataFrame([], cent_schema)
    lens = pc.list_value_length(tbl["__v"])
    if tbl["__v"].null_count or len(pc.unique(lens)) != 1:
        return None
    tbl = tbl.sort_by("__kid")
    ids = tbl["__kid"].to_pylist()
    # a NULL element inside a vector flattens to NaN: same fall-through
    vecs = pc.list_flatten(tbl["__v"]).to_numpy()
    vecs = vecs.reshape(tbl.num_rows, lens[0].as_py())
    if np.isnan(vecs).any():
        return None
    cids = ids[: int(k)]
    cents = vecs[: int(k)].copy()
    for _ in range(max(0, int(iters))):
        # |v - c|^2 via the expansion form: n x k memory instead of the
        # naive n x k x dim broadcast intermediate (5 GB at the 100k-row
        # threshold). Differs from the per-element form only in float
        # rounding ~1e-12 relative — inside the operator's determinism
        # contract (and the test tolerance).
        d2 = (
            (vecs * vecs).sum(axis=1)[:, None]
            + (cents * cents).sum(axis=1)[None, :]
            - 2.0 * (vecs @ cents.T)
        )
        assign = d2.argmin(axis=1)  # first occurrence == lowest cid
        for j in range(len(cids)):
            m = assign == j
            if m.any():
                cents[j] = vecs[m].mean(axis=0)
    return spark.createDataFrame(
        pa.table({"cid": cids, "c": list(cents)}), cent_schema
    )


def kmeans_fit(
    vectors: DataFrame,
    k: int = 8,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Distributed Lloyd k-means over an embedding column; returns the
    trained ``(cid, c)`` centroid table (k rows, ready for
    ``assign_cells``/``semdedup``). Deterministic: seeds are the k
    lowest-id vectors (``seed_centroids``), assignment ties break on
    centroid id, and an emptied cell keeps its previous centroid — so the
    result is a pure function of the input SET (no RNG, retry/partition
    independent up to float partial-sum order in avg; differential-tested
    against a driver-side numpy Lloyd with the same rules).

    Scale shape: the input is localCheckpointed ONCE (CLAUDE.md iterative-
    loop doctrine — without it every iteration re-executes the upstream
    lineage); each iteration is one broadcast crossJoin + argmin (map-side,
    k-row windows) and ONE shuffle whose reduce side is at most k*dim
    partial-mean rows (posexplode + groupBy(cell, dim) with map-side
    combine); the k*dim means come to the driver (tiny) and go back out as
    the next broadcast literal. Nothing vector-sized ever keys a shuffle.

    Inputs of at most ``_KMEANS_DRIVER_MAX_N`` vectors (the count rides
    the checkpoint job) run the same Lloyd loop on the driver instead
    (``_kmeans_driver``); irregular vectors fall through to the
    distributed loop.
    """
    vectors = ensure_min_parallelism(vectors)
    src, observed = checkpoint_observed(
        vectors.select(
            F.col(id_col).alias("__kid"),
            F.expr(f"transform({vec_col}, x -> cast(x as double))").alias("__v"),
        ),
        "kmeans_n",
    )
    # cid inherits the INPUT id type (review finding: forcing int()/bigint
    # crashed string-keyed corpora, which every sibling operator accepts)
    cid_type = vectors.schema[id_col].dataType.simpleString()
    cent_schema = f"cid {cid_type}, c array<double>"
    spark = vectors.sparkSession

    def table(cents):  # Arrow-built: a LocalRelation with statistics
        cols = {"cid": [i for i, _ in cents], "c": [c for _, c in cents]}
        return spark.createDataFrame(pa.table(cols), cent_schema)

    if observed["n"] <= _KMEANS_DRIVER_MAX_N:
        out = _kmeans_driver(spark, src, k, iters, cent_schema)
        if out is not None:
            return out
    cents = [
        (r["cid"], [float(x) for x in r["c"]])
        for r in seed_centroids(src, k, "__kid", "__v").collect()
    ]
    for _ in range(max(0, int(iters))):
        cdf = table(cents)
        # NOTE (round 8, measured): carrying the vector through the argmin
        # aggregate (a first(v) buffer) was tried and REJECTED —
        # an array-typed aggregation buffer drops the argmin out of the
        # fast hash aggregate, and the interleaved A/B read 7.5 s vs 4.1 s
        # for this join-back shape (BENCH note in OPTIMIZATION_r08.md).
        # The join stays: AQE broadcasts the slim (id, cell) side.
        assigned = assign_cells(src, cdf, "__kid", "__v").join(src, "__kid")
        # per-cell element-wise mean: one slim (cell, dim) shuffle. The
        # k*dim mean rows come straight to the driver and are assembled
        # into vectors in Python — the former second aggregation
        # (groupBy(cell) + sorted collect_list) was one more exchange per
        # Lloyd iteration spent re-grouping <= k*dim rows the driver
        # collects anyway (round 8; identical values, same per-cell
        # (cell, dim) averages).
        means = (
            assigned.select("cell", F.posexplode("__v").alias("__d", "__x"))
            .groupBy("cell", "__d")
            .agg(F.avg("__x").alias("__m"))
            .collect()
        )
        new: dict = {}
        for r in means:
            new.setdefault(r["cell"], {})[r["__d"]] = float(r["__m"])
        cents = [
            (
                cid,
                [v for _, v in sorted(new[cid].items())]
                if cid in new
                else c,
            )
            for cid, c in cents
        ]
    return table(cents)


def semdedup(
    vectors: DataFrame,
    n_cells: int = IVF_CELLS,
    tau: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by embedding — cluster the corpus, then inside each
    cluster drop every item whose cosine similarity to an EARLIER item
    (lower id — deterministic stand-in for the paper's keep-one rule)
    reaches ``tau``. The reference's own similarity matrix
    (/root/reference/utils/embed.py:58-82) is the driver-bound O(n^2)
    form of the same idea; clustering bounds the pair space to
    sum-of-cell-sizes squared.

    Returns (id_col, cell, max_prior_cos, semdedup_keep): the max cosine
    to any earlier same-cell item (NULL when the item is its cell's
    first) and the keep verdict ``max_prior_cos IS NULL OR < tau``.

    Gate form (``centroids=None``): deterministic lowest-id seeds
    (``ivf_assign``) so the DuckDB oracle can recompute the cells; the
    cosine fold is the proven index-ordered ``_dot`` so the float is
    bit-identical across engines. Production form: pass
    ``centroids=kmeans_fit(vectors, k, iters)`` with k sized so cells hold
    ~1-10k items (the paper grows k with n); the within-cell self-join is
    then n*cell_size work on slim (id, vector) rows, hot cells split by
    AQE skew handling, and the max-per-id aggregate is partial (map-side
    combine) so no cell's pair list ever materializes in one task."""
    vectors = ensure_min_parallelism(vectors)
    cells = (
        ivf_assign(vectors, n_cells, id_col, vec_col)
        if centroids is None
        else assign_cells(vectors, centroids, id_col, vec_col)
    )
    v, pairs = _bucket_pairs(vectors, cells, "cell", "nid < qid", id_col, vec_col)
    prior = pairs.groupBy(F.col("qid").alias("__qid")).agg(
        F.max("cos").alias("max_prior_cos")
    )
    # the (id, cell) side reads the SAME checkpointed frame — not `cells`,
    # whose lineage would re-run the whole assignment a second time
    ids = v.select(id_col, "cell")
    return ids.join(prior, ids[id_col] == prior["__qid"], "left").select(
        id_col,
        "cell",
        "max_prior_cos",
        (
            F.col("max_prior_cos").isNull()
            | (F.col("max_prior_cos") < F.lit(float(tau)))
        ).alias("semdedup_keep"),
    )
