"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
connected components.

This is the Spark-first re-expression of the reference's embedding-cosine
near-dup detection (/root/reference/text_quality_filter/utils/clustering.py:
50-90 DBSCAN over a full similarity matrix; check_duplicate :169-185 —
O(n^2), driver-bound) as the hash-join pipeline mandated by BASELINE.json's
north_rule: shingle -> MinHash signature -> banded LSH keys -> equi-join on
band key (shuffle hash join, AQE-skew-splittable) -> similarity filter ->
connected components (driver union-find, or min-label propagation with
pointer jumping at scale) -> representative election (min url/id per
component).

All hashes bottom out in the md5-based ``h60`` (functions/hashing.py) so the
DuckDB oracle can verify signatures, band keys, candidate pairs and SimHash
values exactly.

Scale notes (10^12 docs):
  * Signature computation is map-side only: one md5 per distinct shingle
    + the integer affine permutations in an Arrow-batched numpy UDF.
  * The LSH self-join shuffles on band_key; hot keys (boilerplate-identical
    pages from one host) are exactly the skew the north_rule calls out —
    handled by (a) AQE skew-join splitting and (b) an optional salting
    pre-pass exposed as ``salt_hot_keys``.
  * Connected components above the driver cutover runs min-label
    propagation plus pointer jumping as DataFrame joins, with a
    per-iteration localCheckpoint to truncate lineage; converges in
    O(log diameter) iterations.
  * Every size-adaptive arm (signature / increment broadcast, one-partition
    LSH chain, candidate-id prune, CC driver/distributed) is
    picked from a size the operator observed anyway — never from a caller
    option.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from ..config import DedupConfig
from ..functions.hashing import h60_sql
from .partitioning import checkpoint_observed, num_partitions

# Broadcast budget for a signature table (the est-Jaccard re-attach in
# minhash_similarity_pairs, the increment side of dedup_incremental_pairs):
# a row is num_hashes * 8 B plus its id, so 64 MB admits ~65k long-id rows
# at the production 128-hash config — far below the guide's
# few-hundred-MB broadcast comfort zone, and corpus-scale signature tables
# blow the bound and take the shuffled joins. The round-8 A/B
# (OPTIMIZATION_r08.md: 9.29 vs 10.61 s, then a wash) kept it for the
# plan shape.
_SIG_BCAST_BUDGET_BYTES = 64 << 20
_N_HUBS = 4  # hubs per oversized LSH bucket (lsh_candidate_pairs)
# connected_components cutover: the edges collect as two Arrow id columns
# (16 B per long-id edge) and the union-find keeps a few int64 arrays per
# node, so 2M edges stay far inside the default 4 GB driver. Raise it only
# with a bigger driver. Larger graphs take the distributed loop, capped at
# _CC_MAX_ITER min-label / pointer-jump rounds.
_CC_DRIVER_MAX_EDGES = 2_000_000
_CC_MAX_ITER = 20
# Gated parameters, one definition with the DuckDB oracles; DBSCAN's is
# the reference's min_samples (clustering.py:50-90)
JACCARD_K = 5
JACCARD_THRESHOLD = 0.5
SIMHASH_BANDS = 4
SIMHASH_MAX_HAMMING = 8
DBSCAN_MIN_SAMPLES = 3


def _checkpoint_signatures(
    sig_stage: DataFrame, id_col: str, cfg: DedupConfig, name: str
) -> tuple[DataFrame, int, float]:
    """Eager checkpoint of a signature frame (several branches scan it);
    returns ``(signed, n_rows, row_bytes)``. A row is ``8 * num_hashes``
    bytes plus its id: a string id's mean width comes from an
    ``octet_length`` sum observed on the same job (URL ids can outweigh a
    small signature several times over), any other id's from its type."""
    string_id = isinstance(sig_stage.schema[id_col].dataType, StringType)
    metrics = [F.count(F.lit(1)).alias("n")]
    if string_id:
        metrics.append(F.sum(F.octet_length(id_col)).alias("id_bytes"))
    signed, observed = checkpoint_observed(sig_stage, name, *metrics)
    n = observed["n"]
    if string_id:
        id_width = (observed["id_bytes"] or 0) / n if n else 0
    else:
        id_width = sig_stage._jdf.schema().apply(id_col).dataType().defaultSize()
    return signed, n, 8 * cfg.num_hashes + id_width


def _sig_fits_broadcast(n_rows: int, row_bytes: float) -> bool:
    """Whether a non-empty ``n_rows``-row signature table fits the
    broadcast budget."""
    return 0 < n_rows and n_rows * row_bytes <= _SIG_BCAST_BUDGET_BYTES


# ---------------------------------------------------------------- exact dedup


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact duplicate groups by md5(text): keep_id = min(id) per group.
    Pure hash aggregation — partial (map-side) + final, no UDFs."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("text_md5"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


# ------------------------------------------------------------- minhash + LSH


def _shingle_hash_expr(text_col: str, k: int) -> str:
    """array<bigint> of (h60(shingle) % P) over distinct char k-shingles."""
    from ..functions.hashing import MINHASH_P

    shingles = (
        f"case when length({text_col}) < {k} then array({text_col}) "
        f"else array_distinct(transform(sequence(1, length({text_col}) - {k} + 1),"
        f" i -> substring({text_col}, i, {k}))) end"
    )
    return f"transform({shingles}, s -> pmod({h60_sql('s')}, {MINHASH_P}))"


def with_minhash(
    docs: DataFrame,
    cfg: DedupConfig = DedupConfig(),
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Append ``minhash: array<long>`` and ``band_keys: array<long>``
    (plus ``keep_cols`` passed through — e.g. an event-time column for the
    streaming probe, which must survive this projection to carry the
    watermark).

    Hybrid plan chosen by measurement (2000-doc corpus, local[8]):
      * shingle extraction + one md5 per distinct shingle: native exprs in
        INTERPRETED ``transform`` lambdas (not codegen'd), still cheap
        JVM-side (169k shingles hashed in ~0.7 s in one warm task, 4 vCPU);
      * the num_hashes affine permutations + min fold: Arrow-batched numpy
        matrix op ((A*h + B) % P).min(axis=1) — 0.5s, vs 14s for the
        equivalent higher-order-function expression (Spark lambdas are
        interpreted, not codegen'd) and 5.9s for a 128-way min-aggregate
        (codegen falls back past spark.sql.codegen.maxFields);
      * band keys: h60 over the joined signature slice (32 tiny ops/doc).
    Semantics identical to functions/hashing.minhash_signature, and
    oracle-verified against DuckDB SQL (plans/oracles.py)."""
    import numpy as np
    from pyspark.sql.types import ArrayType, LongType

    from ..functions.hashing import MINHASH_P, minhash_params

    params = minhash_params(cfg.num_hashes)
    if cfg.num_hashes % cfg.num_bands:
        raise ValueError(
            f"num_hashes ({cfg.num_hashes}) must be divisible by "
            f"num_bands ({cfg.num_bands}) — a remainder silently drops "
            f"the trailing minhash slots from the band keys"
        )
    rows = cfg.num_hashes // cfg.num_bands
    A = np.array([a for a, _ in params], dtype=np.int64)[:, None]
    B = np.array([b for _, b in params], dtype=np.int64)[:, None]
    sentinel = np.full(cfg.num_hashes, MINHASH_P, dtype=np.int64)

    @F.pandas_udf(ArrayType(LongType()))
    def perm_min(hs: pd.Series) -> pd.Series:
        out = []
        for arr in hs:
            if arr is None or len(arr) == 0:
                out.append(sentinel)
                continue
            h = np.asarray(arr, dtype=np.int64)[None, :]
            out.append(((A * h + B) % MINHASH_P).min(axis=1))
        return pd.Series(out)

    bands = "transform(sequence(0, {nb1}), b -> {h})".format(
        nb1=cfg.num_bands - 1,
        h=h60_sql(
            "concat(cast(b as string), '|', "
            f"array_join(transform(slice(minhash, b * {rows} + 1, {rows}),"
            " v -> cast(v as string)), ','))"
        ),
    )
    return (
        docs.select(
            F.col(id_col),
            F.expr(_shingle_hash_expr(text_col, cfg.shingle_size)).alias("hs"),
            *(F.col(c) for c in keep_cols),
        )
        .withColumn("minhash", perm_min(F.col("hs")))
        .withColumn("band_keys", F.expr(bands))
        .drop("hs")
    )


def _band_self_join(rows: DataFrame) -> DataFrame:
    """(id_a < id_b) pairs of (id, band_key) rows sharing a band key."""
    return (
        rows.alias("l")
        .join(rows.alias("r"), on="band_key")
        .where(F.col("l.id") < F.col("r.id"))
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
    )


def lsh_candidate_pairs(
    signed: DataFrame,
    id_col: str = "doc_id",
    max_band_bucket: int | None = None,
) -> DataFrame:
    """Banded LSH: explode band keys, self-join on key, dedupe pairs.

    The join is a plain equi-join on ``band_key`` — Catalyst picks SMJ/SHJ and
    AQE splits skewed keys. Only (id, band_key) rows enter the join/shuffle;
    signature arrays are re-attached afterwards (carrying a 128-slot array
    through the pair shuffle dominated runtime in the first implementation).
    Pair order normalized (a < b).

    ``max_band_bucket``: a bucket of size m yields m^2/2 candidate pairs, so
    one boilerplate cluster (the SEO mill-page case) turns the join
    quadratic; exact dedup beforehand plus a bucket cap is the standard LSH
    mitigation at web scale. Buckets larger than the cap are NOT skipped
    outright (the pre-round-5 behaviour — it orphaned every doc whose only
    collisions sat in oversized buckets, the measured bulk of the cap's
    recall loss): they degrade to STAR candidates — min-id hub vs every
    member, m-1 pairs instead of m^2/2 — so a giant near-dup clique stays
    one connected component through the est-Jaccard filter at linear cost
    (members not est-similar to the hub specifically can still lose edges —
    the residual approximation; ``_N_HUBS`` hash-class hubs give each
    member that many est-match chances, no per-bucket sort so skew-safe).

    ABSOLUTE recall vs the exact uncapped form (BENCH/dedup_recall_abs.py,
    BASELINE.md round-6 notes, production 128/16/0.85 config): the capped
    pair surface is a proven SUBSET of the exact form's; post-CC duplicate-
    doc recall 98.78% at 100k / 97.65% at 400k for 65x / 262x fewer
    candidate pairs, and the ground-truth near-dup family pairs detected
    are IDENTICAL to the exact form's at both scales (the residual doc gap
    is confined to giant-clique members that est-match no hub). Relative
    history (BENCH/BASELINE.md round-5 lever sweep): at
    100k docs cap 64 finds 22,445 (4-hub) / 22,394 (1-hub) / 22,357 (skip)
    of cap-256's 22,700 duplicates with ~4.5x fewer candidates; at 1.6M
    docs 4-hub recovers 66% of the 1-hub cap's -7.4% recall gap. The
    rejected alternative — widening bands to 16 rows (128/8) — cut the same
    candidate volume but cost -3.8% duplicates, because it flattens the
    whole recall curve (P(candidate | J=0.85) drops 0.99 -> 0.46) instead
    of approximating only inside dense buckets. None = uncapped (the
    oracle-checked exact form)."""
    exploded = signed.select(
        F.col(id_col).alias("id"), F.explode("band_keys").alias("band_key")
    )
    pairs = _band_self_join(exploded)
    if max_band_bucket is None:
        return pairs.distinct()
    # The oversized-bucket probe only needs to learn WHICH keys exceed the
    # cap — and those are rare by construction (hard ceiling
    # n_rows/cap keys, typically a handful of boilerplate cliques after the
    # exact pass): aggregate sizes, keep only the > cap keys, BROADCAST
    # them, and split the exploded table with map-side anti/semi joins —
    # the full exploded table is never sort-merge-joined against the size
    # table. (The round-5 shape joined sizes back onto ALL exploded rows;
    # that join was the worst-scaling phase at 1.6M docs, eff ~0.41 —
    # BENCH/BASELINE.md round-6 notes, BENCH/band_join_ab_runs.jsonl;
    # candidate/duplicate sets are bit-identical across both shapes.)
    sizes = exploded.groupBy("band_key").agg(F.count(F.lit(1)).alias("_bsz"))
    big_keys = F.broadcast(
        sizes.where(F.col("_bsz") > max_band_bucket).select("band_key")
    )
    pairs = _band_self_join(exploded.join(big_keys, "band_key", "left_anti"))
    big_rows = exploded.join(big_keys, "band_key", "left_semi")
    # K-hub star: K deterministic hubs per oversized bucket (min id within
    # each of K content-hash classes — no per-bucket sort, so a million-row
    # boilerplate bucket never pins one reducer), every member joined to all
    # K hubs (K*m pairs, linear). K chances for a member to est-match a hub
    # instead of 1: measured at 1.6M docs this recovers the bulk of the
    # single-hub cap's recall loss (BENCH/BASELINE.md round-5 notes).
    hubs = (
        big_rows.groupBy(
            "band_key", F.pmod(F.xxhash64("id"), F.lit(_N_HUBS)).alias("_c")
        )
        .agg(F.min("id").alias("_hub"))
        .select("band_key", "_hub")
    )
    star = (
        big_rows.join(hubs, "band_key")
        .where(F.col("id") != F.col("_hub"))
        .select(
            F.least("_hub", "id").alias("id_a"),
            F.greatest("_hub", "id").alias("id_b"),
        )
    )
    return pairs.union(star).distinct()


def minhash_similarity_pairs(
    docs: DataFrame,
    cfg: DedupConfig = DedupConfig(),
    id_col: str = "doc_id",
    text_col: str = "text",
    max_band_bucket: int | None = None,
    precomputed: DataFrame | None = None,
    materialize: bool = True,
) -> DataFrame:
    """Candidate pairs with estimated Jaccard (fraction of agreeing minhash
    slots) >= cfg.similarity_threshold. Returns (id_a, id_b, est_jaccard).

    ``materialize=False`` (single-consumer callers whose next step is its
    own checkpoint, e.g. dedup_edges feeding connected_components) skips
    the small-signature fast path's output checkpoint — one Spark job
    fewer; multi-consumer callers (dbscan scans the result three times)
    keep the default so the LSH machinery never re-executes.

    ``precomputed``: an existing (id_col, minhash, band_keys) signature
    frame COMPUTED WITH THE SAME cfg (e.g. fold_into_index's checkpointed
    with_minhash output) — semi-join-restricted to ``docs``' ids and used
    instead of re-running the shingle+perm-min signature stage, the
    dominant map-side cost at corpus scale (review finding: fold's
    internal pass used to re-sign every remaining doc)."""
    # three downstream branches scan the signatures; without the checkpoint
    # the first job recomputes the signature stage once per branch
    sig_stage = (
        precomputed.join(docs.select(id_col), id_col, "left_semi")
        if precomputed is not None
        else with_minhash(docs, cfg, id_col, text_col)
    )
    signed, n_sigs, row_bytes = _checkpoint_signatures(
        sig_stage, id_col, cfg, "minhash_n_sigs"
    )
    # SMALL-SIGNATURE fast path (size-adaptive join strategy, guide §3.1,
    # decided from the free observed count): the whole signature table fits
    # the broadcast budget, so both re-attach joins become map-side hash
    # probes and the candidate-id prune below is moot. With exactly one
    # consumer chain left, the pair table needs NO checkpoint of its own —
    # the est output (threshold survivors, orders of magnitude smaller than
    # the candidate set) is checkpointed instead, so multi-consumer callers
    # (dbscan's three scans) never re-run the LSH machinery and the stage
    # costs one job fewer than the round-7 shape.
    fast = broadcast = _sig_fits_broadcast(n_sigs, row_bytes)
    # ONE-PARTITION chain: over a small checkpoint already at one partition
    # (AQE coalesced the distinct-text aggregate), coalesce(1) moves no data
    # but lets the planner drop the hash exchanges, each one a job, of the
    # candidate chain (3221 pairs: 8 -> 4 jobs; a join's go only while the
    # plan's size estimate is under spark.sql.maxSinglePartitionBytes).
    lsh_src = signed.coalesce(1) if fast and num_partitions(signed) == 1 else signed
    pairs = lsh_candidate_pairs(lsh_src, id_col, max_band_bucket)
    sig_src = signed
    if not fast:
        # CORPUS-SCALE path: materialize the candidate pairs once (the
        # est_jaccard join consumes them, and their id set may prune the
        # signature re-attach below).
        pairs, observed = checkpoint_observed(pairs, "lsh_n_pairs")
        n_pairs = observed["n"]
        # ADAPTIVE signature-re-attach prune (same runtime-statistics
        # doctrine as the connected_components cutover): the two joins below
        # shuffle the 128-slot signature table (~1 KB/doc), measured as the
        # dominant cost of the stage (DEDUP_BREAKDOWN.md). When few ids
        # appear in candidate pairs (the web-scale case: post-exact-dedup,
        # capped buckets), a semi-join against the candidate-id set prunes
        # most of that shuffle; when most ids are candidates (high-collision
        # corpora), the prune is pure overhead — one extra full shuffle — so
        # it is skipped. The decision is FREE: both row counts ride the two
        # checkpoint jobs, and distinct candidate ids <= 2 * n_pairs bounds
        # coverage from above (a conservative sufficient condition — prune
        # only when certainly sparse).
        sig_rows = n_sigs
        if n_sigs > 0 and 2 * n_pairs < 0.5 * n_sigs:
            cand_ids = (
                pairs.select(F.col("id_a").alias(id_col))
                .union(pairs.select(F.col("id_b").alias(id_col)))
                .distinct()
            )
            sig_src = signed.join(cand_ids, id_col, "leftsemi")
            sig_rows = min(n_sigs, 2 * n_pairs)
        # The post-prune table can still fit the broadcast budget in sparse
        # corpora (sig_rows <= 2 * n_pairs) — broadcast it then;
        # corpus-scale tables blow the bound and keep the shuffled joins.
        broadcast = _sig_fits_broadcast(sig_rows, row_bytes)
    sig_a = sig_src.select(F.col(id_col).alias("id_a"), F.col("minhash").alias("minhash_a"))
    sig_b = sig_src.select(F.col(id_col).alias("id_b"), F.col("minhash").alias("minhash_b"))
    if broadcast:
        sig_a = F.broadcast(sig_a)
        sig_b = F.broadcast(sig_b)
    # EXACT prefix prune: a pair needs >= k_min of num_hashes agreeing slots
    # to reach the threshold, so it needs >= k_min - (num_hashes - prefix)
    # agreements within the first `prefix` slots even if every remaining
    # slot agrees. Most candidates are band-collision junk (measured 41.4M
    # candidates -> 1.56M survivors at 1.6M docs) and die on the 32-slot
    # comparison; the AND short-circuits, so the full 128-slot zip_with
    # runs only on prefix survivors. Output set provably unchanged.
    # The interpreted-lambda form is KEPT on measurement (CLAUDE.md doctrine:
    # measure, don't guess; BENCH/BASELINE.md round 5) — relational min
    # 11.5 s vs Arrow+numpy pandas UDF 15.1 s at 400k docs / 5.25M
    # candidates @ local[8], identical output. The prefix prune
    # short-circuits most candidates JVM-side; the UDF must pay Arrow
    # transfer of both full signatures for every pair, and (1.6M phase
    # table, BENCH/BASELINE.md) the JVM form already scales at eff 1.00.
    cond, est_col = _est_jaccard_exprs(cfg)
    est = (
        pairs.join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .where(cond)
        .withColumn("est_jaccard", est_col)
        .select("id_a", "id_b", "est_jaccard")
    )
    return est.localCheckpoint(eager=True) if fast and materialize else est


def _est_jaccard_exprs(cfg: DedupConfig):
    """(filter_cond, est_jaccard_col) over columns minhash_a/minhash_b —
    the exact 32-slot prefix prune + full zip_with agreement fraction shared
    by minhash_similarity_pairs and dedup_incremental_pairs (see the prune
    derivation comment at the minhash_similarity_pairs call site).

    NOTE (round 8, measured): an element_at-unrolled codegen form of these
    agreement counts (the _dot doctrine) was tried and REVERTED — per-pair
    interpreted work here is already bounded by the 32-slot prefix prune,
    so the unroll's steady-state saving was ~nothing while its ~300-term
    generated code cost seconds of Janino compile per session (in-JVM
    toggle A/B: unroll [8.41, 5.97, 5.56, 6.24] vs fold [6.13, 5.57,
    6.18, 5.09] on the full 20k-doc dedup stage). The interpreted fold
    stays; the unroll remains the right call where a giant expression is
    evaluated millions of times per session (the cosine dot)."""
    nh = cfg.num_hashes
    k_min = next(k for k in range(nh + 1) if k / nh >= cfg.similarity_threshold)
    prefix = min(32, nh)
    need = k_min - (nh - prefix)
    full_agree = (
        "size(filter(zip_with(minhash_a, minhash_b, (x, y) -> x = y),"
        " v -> v))"
    )
    cond = F.expr(f"{full_agree} / size(minhash_a) >= {cfg.similarity_threshold}")
    if need > 0:
        prefix_agree = (
            f"size(filter(zip_with(slice(minhash_a, 1, {prefix}),"
            f" slice(minhash_b, 1, {prefix}), (x, y) -> x = y), v -> v))"
        )
        cond = F.expr(f"{prefix_agree} >= {need}") & cond
    return cond, F.expr(f"{full_agree} / size(minhash_a)")


# --------------------------------------------------- incremental (batch) dedup


def _sign_and_probe(
    new_docs: DataFrame,
    corpus_index: DataFrame | None,
    cfg: DedupConfig,
    id_col: str,
    text_col: str,
) -> tuple[DataFrame, DataFrame | None]:
    """Sign ``new_docs`` once (eager checkpoint, size observed on the same
    job) and, given an index, probe it (join shape: see
    dedup_incremental_pairs). Returns ``(signed_new, pairs)``; ``pairs`` is
    None without an index."""
    signed_new, n_new, row_bytes = _checkpoint_signatures(
        with_minhash(new_docs, cfg, id_col, text_col), id_col, cfg,
        "minhash_n_new",
    )
    if corpus_index is None:
        return signed_new, None
    broadcast_new = _sig_fits_broadcast(n_new, row_bytes)
    new_bands = signed_new.select(
        F.col(id_col).alias("new_id"), F.explode("band_keys").alias("band_key")
    )
    if broadcast_new:
        new_bands = F.broadcast(new_bands)
    corpus_bands = corpus_index.select(
        F.col(id_col).alias("corpus_id"),
        F.explode("band_keys").alias("band_key"),
    )
    cand = (
        corpus_bands.join(new_bands, "band_key")
        .select("new_id", "corpus_id")
        .distinct()
        .localCheckpoint(eager=True)
    )
    # corpus signatures are pruned to the candidate corpus ids BEFORE the
    # verify join — candidates are rare relative to the corpus, so the
    # 128-slot arrays of non-candidates never leave the scan
    corpus_sigs = corpus_index.select(
        F.col(id_col).alias("corpus_id"), F.col("minhash").alias("minhash_a")
    ).join(cand.select("corpus_id"), "corpus_id", "left_semi")
    new_sigs = signed_new.select(
        F.col(id_col).alias("new_id"), F.col("minhash").alias("minhash_b")
    )
    if broadcast_new:
        new_sigs = F.broadcast(new_sigs)
    cond, est_col = _est_jaccard_exprs(cfg)
    return signed_new, (
        cand.join(corpus_sigs, "corpus_id")
        .join(new_sigs, "new_id")
        .where(cond)
        .withColumn("est_jaccard", est_col)
        .select("new_id", "corpus_id", "est_jaccard")
    )


def dedup_incremental_pairs(
    new_docs: DataFrame,
    corpus_index: DataFrame,
    cfg: DedupConfig = DedupConfig(),
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-dup pairs between a NEW batch and an EXISTING corpus signature
    index — the shape a continuously-crawled 100 TB corpus actually runs:
    the corpus is hashed ONCE (``with_minhash`` persisted as a table of
    (id, minhash, band_keys)) and each increment is deduped against it
    without re-hashing or re-shuffling the corpus.

    An increment whose signature table fits the signature broadcast budget
    (its row count and id bytes ride the increment's own checkpoint job)
    has its exploded (new_id, band_key) rows and its signatures broadcast,
    so the ONLY work on the corpus side is a map-side hash probe of the
    band-key stream plus a semi-join-pruned signature fetch for the rare
    candidate ids — the corpus index crosses zero shuffles. A larger
    increment probes with a plain equi-join on band_key; Catalyst/AQE pick
    the strategy. Symmetric agreement estimate: fraction of agreeing minhash
    slots (same estimator, same exact prefix prune as
    minhash_similarity_pairs; reference clustering semantics
    text_quality_filter/clustering.py:25-27 re-expressed for MinHash-LSH).

    New-vs-new duplicates inside the batch are deliberately out of scope —
    run minhash_similarity_pairs on the batch (or fold the batch into the
    index afterwards with a union of the ``with_minhash`` output).

    Returns (new_id, corpus_id, est_jaccard), est >= cfg threshold —
    provably equal to minhash_similarity_pairs over the concatenated corpus
    restricted to cross-partition uncapped-LSH pairs
    (tests/test_dedup_spark.py pins the equality)."""
    return _sign_and_probe(new_docs, corpus_index, cfg, id_col, text_col)[1]


def dedup_incremental(
    new_docs: DataFrame,
    corpus_index: DataFrame,
    cfg: DedupConfig = DedupConfig(),
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-new-doc labels against the corpus index (see
    dedup_incremental_pairs for the join shape): (id, is_duplicate, dup_of,
    n_corpus_matches, max_est_jaccard) where dup_of is the MIN matching
    corpus id (deterministic representative, same min-id election as
    dedup_representatives) and non-matching docs carry
    (false, NULL, 0, NULL)."""
    signed_new, pairs = _sign_and_probe(
        new_docs, corpus_index, cfg, id_col, text_col
    )
    agg = pairs.groupBy("new_id").agg(
        F.min("corpus_id").alias("dup_of"),
        F.count(F.lit(1)).alias("_n"),
        F.max("est_jaccard").alias("max_est_jaccard"),
    )
    ids = signed_new.select(F.col(id_col).alias("id"))
    return ids.join(agg, ids["id"] == agg["new_id"], "left").select(
        "id",
        F.col("dup_of").isNotNull().alias("is_duplicate"),
        "dup_of",
        F.coalesce(F.col("_n"), F.lit(0)).alias("n_corpus_matches"),
        "max_est_jaccard",
    )


def fold_into_index(
    new_docs: DataFrame,
    corpus_index: DataFrame | None,
    cfg: DedupConfig = DedupConfig(),
    id_col: str = "doc_id",
    text_col: str = "text",
    max_band_bucket: int | None = 64,
) -> tuple[DataFrame, DataFrame]:
    """ONE full operational step of a continuously-crawled corpus — the
    loop dedup_incremental's docstring declared out of scope, closed:

      1. label every new doc against the persisted corpus signature index
         (dedup_incremental join shape: the corpus side crosses zero
         shuffles when the increment broadcasts);
      2. dedup the non-corpus-dup remainder against EACH OTHER
         (dedup_representatives semantics: exact md5 pass, capped banded
         LSH over distinct texts, connected components, min-id reps);
      3. append the SURVIVORS' signatures to the index.

    Returns ``(labels, new_index)``:

    * labels — (id, is_duplicate, dup_of, dup_source) per new doc;
      dup_source is 'corpus' (matched the index; dup_of = min matching
      corpus id), 'batch' (matched an earlier surviving new doc; dup_of =
      its component representative), or NULL for survivors.
    * new_index — corpus_index ∪ with_minhash(survivors), the input for
      the next increment. Signatures are computed ONCE per doc per step
      (checkpointed); at 100 TB the index is an append-only table and
      each step appends only its survivor rows.

    ``corpus_index=None`` bootstraps an empty index (step 1 skipped).

    Sequential-vs-concatenated equality: processing increments B1 then B2
    yields the same survivor set, index, and is_duplicate flags as one
    concatenated batch B1 ∪ B2, PROVIDED (a) ids are monotone across
    increments (a later increment never carries a smaller id than an
    earlier one — true for time-ordered crawl batches; otherwise the
    min-id election can pick a representative the sequential run already
    marked duplicate), (b) duplicate families are pairwise LSH-linked
    (members matching only through a REMOVED intermediate doc — a chain
    a~x, x~b with a!~b where x was deduped away — can split or merge
    differently, since removed docs' signatures are not folded), and
    (c) the same ``max_band_bucket`` cap is in force on both paths (the
    incremental probe is uncapped; pass None for the provable form).
    tests/test_dedup_spark.py pins the equality on the generator corpus.
    """
    signed_new, pairs = _sign_and_probe(
        new_docs, corpus_index, cfg, id_col, text_col
    )
    ids = signed_new.select(F.col(id_col).alias("id"))
    if pairs is not None:
        corpus_dup = pairs.groupBy("new_id").agg(
            F.min("corpus_id").alias("dup_of")
        )
        remaining = new_docs.join(
            corpus_dup.select(F.col("new_id").alias(id_col)),
            id_col,
            "left_anti",
        )
    else:
        corpus_dup = None
        remaining = new_docs
    internal = dedup_representatives(
        remaining, cfg, id_col, text_col, max_band_bucket,
        precomputed=signed_new,
    )
    batch_labels = internal.select(
        "id",
        F.col("is_duplicate").alias("__batch_dup"),
        F.when(F.col("is_duplicate"), F.col("component")).alias("__batch_of"),
    ).localCheckpoint(eager=True)
    lab = ids.join(batch_labels, "id", "left")
    if corpus_dup is not None:
        lab = lab.join(
            corpus_dup.withColumnRenamed("new_id", "id").withColumnRenamed(
                "dup_of", "__corpus_of"
            ),
            "id",
            "left",
        )
    else:
        # untyped NULL: coalesce resolves it to the id column's own type
        lab = lab.withColumn("__corpus_of", F.lit(None))
    labels = lab.select(
        "id",
        (
            F.col("__corpus_of").isNotNull()
            | F.coalesce(F.col("__batch_dup"), F.lit(False))
        ).alias("is_duplicate"),
        F.coalesce(F.col("__corpus_of"), F.col("__batch_of")).alias("dup_of"),
        F.when(F.col("__corpus_of").isNotNull(), F.lit("corpus"))
        .when(F.coalesce(F.col("__batch_dup"), F.lit(False)), F.lit("batch"))
        .alias("dup_source"),
    )
    survivors = batch_labels.where(~F.col("__batch_dup")).select(
        F.col("id").alias(id_col)
    )
    appended = signed_new.join(survivors, id_col, "left_semi")
    # unionByName, not positional union(): the index is documented as a
    # persisted table reloaded between steps — a reload with a different
    # column ORDER (both minhash and band_keys are array<bigint>, so a
    # positional swap types fine) would silently corrupt every appended
    # row and all future probes (review finding)
    new_index = (
        appended
        if corpus_index is None
        else corpus_index.unionByName(appended)
    )
    return labels, new_index


# ------------------------------------------------------- n-gram jaccard pairs


def shingle_explode(docs: DataFrame, k: int, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Distinct char k-shingles per doc, relationally (native exprs only):
    (id, shingle). Short texts contribute the whole text as one shingle."""
    return docs.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.when(
                F.length(text_col) < k, F.array(F.col(text_col))
            ).otherwise(
                F.array_distinct(
                    F.expr(
                        f"transform(sequence(1, length({text_col}) - {k} + 1),"
                        f" i -> substring({text_col}, i, {k}))"
                    )
                )
            )
        ).alias("shingle"),
    )


def ngram_jaccard_pairs(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact n-gram Jaccard via shingle equi-join (no UDFs) over char
    ``JACCARD_K``-shingles: |A ∩ B| from the join, |A|,|B| from per-doc
    counts. Returns (id_a, id_b, jaccard), jaccard >= ``JACCARD_THRESHOLD``.
    For bounded fan-out at scale, run on LSH candidates; this exact form
    is the oracle-checkable baseline."""
    sh = shingle_explode(docs, JACCARD_K, id_col, text_col)
    inter = (
        sh.alias("a")
        .join(sh.alias("b"), "shingle")
        .where(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return _jaccard_filter(inter, sh)


def _jaccard_filter(inter: DataFrame, sh: DataFrame) -> DataFrame:
    """(id_a, id_b, jaccard) from the pair intersections ``inter`` (id_a,
    id_b, n_inter) and the (id, shingle) rows ``sh`` they came from:
    |A|, |B| are per-doc shingle counts, jaccard = |A∩B| / |A∪B|, kept at
    or above ``JACCARD_THRESHOLD``."""
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_shingles"))
    return (
        inter.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_shingles", "n_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_shingles", "n_b"), "id_b")
        .withColumn("jaccard", F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")))
        .where(F.col("jaccard") >= F.lit(JACCARD_THRESHOLD))
        .select("id_a", "id_b", "jaccard")
    )


# ------------------------------------------------------------------- simhash


def simhash_df(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """60-bit SimHash over whitespace tokens, fully relational (no UDF):
    explode tokens -> h60 -> explode 60 bit positions -> sign-sum -> pack.

    At scale the bit-explode multiplies rows x60; the DuckDB oracle
    (catalog query ``simhash``) checks the values."""
    tokens = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.col(text_col), " ")).alias("tok"),
    ).withColumn(
        "h", F.expr(h60_sql("tok"))
    )
    bits = tokens.select(
        "id",
        F.explode(F.expr("sequence(0, 59)")).alias("bit"),
        F.col("h"),
    ).withColumn(
        "contrib", F.when(F.expr("shiftright(h, bit) % 2 = 1"), 1).otherwise(-1)
    )
    return (
        bits.groupBy("id", "bit")
        .agg(F.sum("contrib").alias("s"))
        .withColumn(
            "bitval",
            F.when(F.col("s") > 0, F.expr("shiftleft(cast(1 as bigint), bit)")).otherwise(F.lit(0)),
        )
        .groupBy("id")
        .agg(F.sum("bitval").alias("simhash"))
    )


def ngram_jaccard_on_candidates(
    docs: DataFrame,
    cfg: DedupConfig = DedupConfig(),
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """PRODUCTION wiring of exact n-gram Jaccard: computed only on MinHash-
    LSH candidate pairs instead of the all-pairs shingle self-join
    (ngram_jaccard_pairs, kept as the oracle-checkable exact form documents
    its own scale limit). Shape: candidate pairs (banded LSH equi-join,
    uncapped buckets) -> shingle-set intersection via explode+join
    restricted to candidates -> exact |A∩B| / |A∪B| filter, both as in
    :func:`ngram_jaccard_pairs`. Returns (id_a, id_b, jaccard)."""
    signed = with_minhash(docs, cfg, id_col, text_col).localCheckpoint(eager=True)
    cand = lsh_candidate_pairs(signed, id_col).localCheckpoint(eager=True)
    sh = shingle_explode(docs, JACCARD_K, id_col, text_col)
    # prune shingles to candidate ids (semi-join; AQE broadcasts the id set)
    ids = (
        cand.select(F.col("id_a").alias("id"))
        .union(cand.select(F.col("id_b").alias("id")))
        .distinct()
    )
    sh = sh.join(ids, "id", "leftsemi")
    inter = (
        sh.alias("a")
        .join(cand, F.col("a.id") == F.col("id_a"))
        .join(
            sh.alias("b"),
            (F.col("b.id") == F.col("id_b")) & (F.col("a.shingle") == F.col("b.shingle")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return _jaccard_filter(inter, sh)


def simhash_near_dup_pairs(
    simhashes: DataFrame, id_col: str = "id", sim_col: str = "simhash"
) -> DataFrame:
    """SimHash near-dup candidates the standard way at scale: split the
    60-bit fingerprint into ``SIMHASH_BANDS`` 15-bit bands; by pigeonhole,
    two fingerprints within hamming distance < SIMHASH_BANDS must agree on
    at least one whole band, so an equi-join on (band_idx, band_value)
    finds all such pairs — and MOST pairs at moderate distances — without
    an all-pairs scan. Candidates are then exact-filtered on
    bit_count(xor) <= ``SIMHASH_MAX_HAMMING``.
    Returns (id_a, id_b, hamming), id_a < id_b, deduped across bands.

    Pure native exprs (shift/mask/xor/bit_count are all in whole-stage
    codegen, and identical in DuckDB for the oracle). The band join is the
    same shuffle shape as the MinHash LSH join — AQE-skew-splittable."""
    width = 60 // SIMHASH_BANDS
    mask = (1 << width) - 1
    bands = simhashes.select(
        F.col(id_col).alias("id"),
        F.col(sim_col).alias("sh"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.expr(f"shiftright({sim_col}, {b * width}) & {mask}").alias(
                            "val"
                        ),
                    )
                    for b in range(SIMHASH_BANDS)
                ]
            )
        ).alias("bv"),
    ).select("id", "sh", F.col("bv.band").alias("band"), F.col("bv.val").alias("val"))
    left = bands.alias("l")
    right = bands.alias("r")
    return (
        left.join(right, ["band", "val"])
        .where(F.col("l.id") < F.col("r.id"))
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.expr("bit_count(l.sh ^ r.sh)").alias("hamming"),
        )
        .where(F.col("hamming") <= F.lit(SIMHASH_MAX_HAMMING))
        .distinct()
    )


# -------------------------------------------------- connected components (CC)


def connected_components(edges: DataFrame) -> DataFrame:
    """Connected components over an undirected edge list (id_a, id_b) ->
    (id, component) with component = min id reachable.

    Size-adaptive physical strategy (AQE philosophy — pick the plan by
    runtime statistics): at or below ``_CC_DRIVER_MAX_EDGES`` edges the
    graph is union-found on the driver in one pass (a 300k-edge graph
    costs ~1s there vs ~2 minutes of per-iteration job latency in the
    distributed loop); above it, iterative min-label propagation with
    pointer jumping as DataFrame joins, localCheckpointed per iteration to
    truncate lineage (SURVEY.md §4 item 4), converging in O(log diameter)
    within ``_CC_MAX_ITER`` iterations."""
    # materialize once: the threshold count and the chosen strategy both scan
    # the edge list; without this the upstream pair pipeline runs twice.
    # The cutover count rides the checkpoint job (the repo's zero-extra-jobs
    # doctrine; round 8 — the previous limit(threshold+1).count() was one
    # more full job per CC invocation).
    edges, observed = checkpoint_observed(edges, "cc_n_edges")
    if observed["n"] <= _CC_DRIVER_MAX_EDGES:
        return _cc_driver(edges)
    return _cc_distributed(edges)


def _cc_driver(edges: DataFrame) -> DataFrame:
    """Driver-side union-find (path compression + union by min id) over
    factorized int codes with min-ID-rank roots.

    Arrow both ways, whatever the session conf says: ``toArrow()`` in,
    ``createDataFrame(pa.Table)`` out (``toPandas()`` pickles rows while
    ``spark.sql.execution.arrow.pyspark.enabled`` is off, its default; the
    whole call 3.7-5.3 -> 2.4-2.8 s at 200k edges). The Arrow-built table
    is a LocalRelation with exact statistics, so the planner broadcasts it
    into the caller's ``docs ⋈ comp`` join under
    autoBroadcastJoinThreshold; above that the join shuffles."""
    import numpy as np
    import pyarrow as pa

    spark = edges.sparkSession
    schema_type = edges.schema["id_a"].dataType.simpleString()
    out_schema = f"id {schema_type}, comp {schema_type}"
    tbl = edges.select("id_a", "id_b").toArrow()
    if tbl.num_rows == 0:
        # derive the id type from the edges schema here too: a hardcoded
        # 'long' would type-mismatch downstream joins for string doc ids
        return spark.createDataFrame([], out_schema)
    codes, uniques = pd.factorize(
        np.concatenate([tbl["id_a"].to_numpy(), tbl["id_b"].to_numpy()]),
        sort=False,
    )
    uniq = np.asarray(uniques)
    n_edges = tbl.num_rows
    a, b = codes[:n_edges], codes[n_edges:]
    # rank = position in sorted id order; union-by-min-rank keeps the
    # smallest id of every merged set as its root, so the final label is
    # min(reachable id) — the same contract as the distributed path
    rank_of = np.empty(len(uniq), dtype=np.int64)
    rank_of[np.argsort(uniq, kind="stable")] = np.arange(len(uniq))
    parent = np.arange(len(uniq), dtype=np.int64)

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i in range(n_edges):
        ra, rb = find(a[i]), find(b[i])
        if ra != rb:
            if rank_of[ra] < rank_of[rb]:
                parent[rb] = ra
            else:
                parent[ra] = rb
    roots = np.array([find(i) for i in range(len(uniq))], dtype=np.int64)
    out = pa.table({"id": uniq, "comp": uniq[roots]})
    return spark.createDataFrame(out, out_schema)


def _cc_distributed(edges: DataFrame) -> DataFrame:
    # symmetric neighbor list — materialized once: every iteration scans it
    # twice, and without this the FULL upstream plan (LSH signature pipeline)
    # would re-execute per iteration (measured 625s -> ~20s at 20k docs)
    sym = (
        edges.select(F.col("id_a").alias("id"), F.col("id_b").alias("nbr"))
        .union(edges.select(F.col("id_b").alias("id"), F.col("id_a").alias("nbr")))
        .localCheckpoint(eager=True)
    )
    labels = sym.groupBy("id").agg(
        F.least(F.min("nbr"), F.col("id")).alias("comp")
    )
    for i in range(_CC_MAX_ITER):
        prev = labels.select("id", F.col("comp").alias("prev_comp"))
        # (1) propagate each node's label to neighbors; take the min seen
        prop = (
            sym.join(labels, "id")
            .groupBy(F.col("nbr").alias("id"))
            .agg(F.min("comp").alias("nbr_comp"))
        )
        step1 = prev.join(prop, "id", "left").select(
            "id",
            "prev_comp",
            F.least("prev_comp", F.coalesce("nbr_comp", "prev_comp")).alias("comp"),
        )
        # (2) pointer jumping: comp <- label(comp). Halves path lengths each
        # iteration => O(log diameter) convergence instead of O(diameter)
        parent = step1.select(
            F.col("id").alias("comp"), F.col("comp").alias("parent_comp")
        )
        step2 = step1.join(parent, "comp", "left").select(
            "id",
            "prev_comp",
            F.least(F.col("comp"), F.coalesce("parent_comp", "comp")).alias("comp"),
        )
        # convergence check piggybacks on the checkpoint job: zero extra
        # Spark jobs per iteration (the old per-iteration join+limit+count
        # added a full job each loop)
        labels, observed = checkpoint_observed(
            step2,
            f"cc_iter_{i}",
            F.sum((F.col("comp") != F.col("prev_comp")).cast("long")).alias(
                "n_changed"
            ),
        )
        if observed["n_changed"] == 0:
            break
    return labels.select("id", "comp")


def dedup_edges(
    docs: DataFrame,
    cfg: DedupConfig = DedupConfig(),
    id_col: str = "doc_id",
    text_col: str = "text",
    max_band_bucket: int | None = 64,
    precomputed: DataFrame | None = None,
) -> DataFrame:
    """The duplicate-graph edge list feeding connected_components: exact
    edges (member -> md5-group representative) unioned with banded-LSH
    near-dup edges over the distinct texts only. Exposed separately so plan
    tests can assert shuffle keys before the CC checkpoint truncates the
    lineage (see dedup_representatives for the shuffle contract)."""
    keyed = docs.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("text"),
        F.md5(F.encode(F.col(text_col), "UTF-8")).alias("h"),
    )
    # ONE text shuffle, zero extra joins: the group carries its (identical)
    # text as an aggregated VALUE — partial aggregation sends at most one
    # text per distinct digest per map partition, so ~distinct-texts bytes
    # cross the wire, never keyed on text. (The previous semi-join variant
    # re-fetched representative texts with an extra corpus-wide join — the
    # measured ~10% small-scale regression in the round-3 bench drift; this
    # shape beats both it and the text-keyed round-2 form at every scale.)
    # Lazy localCheckpoint (round 8): TWO branches consume this aggregate —
    # the exact-edge join-back and the representative table feeding MinHash.
    # Without it the full-corpus md5 hash aggregation (scan + digest + text
    # shuffle) executed once PER BRANCH; the checkpoint materializes it at
    # the first action and the second branch reads the stored blocks. The
    # storage cost is the distinct texts once — the same bytes the agg's
    # shuffle already wrote to local disk.
    groups = keyed.groupBy("h").agg(
        F.min("id").alias("rep"), F.first("text").alias("text")
    ).localCheckpoint(eager=False)
    exact_edges = (
        keyed.select("id", "h")
        .join(groups.select("h", "rep"), "h")
        .where(F.col("id") != F.col("rep"))
        .select(F.col("rep").alias("id_a"), F.col("id").alias("id_b"))
    )
    reps = groups.select(F.col("rep").alias("id"), "text")
    signed_pre = (
        precomputed.withColumnRenamed(id_col, "id")
        if precomputed is not None and id_col != "id"
        else precomputed
    )
    near_edges = minhash_similarity_pairs(
        reps, cfg, "id", "text", max_band_bucket, precomputed=signed_pre,
        materialize=False,
    ).select("id_a", "id_b")
    return near_edges.union(exact_edges)


def dedup_representatives(
    docs: DataFrame,
    cfg: DedupConfig = DedupConfig(),
    id_col: str = "doc_id",
    text_col: str = "text",
    max_band_bucket: int | None = 64,
    precomputed: DataFrame | None = None,
) -> DataFrame:
    """Full near-dup stage: (id, component, is_duplicate). Representative =
    min id per component (clustering.py:169-207 semantics re-expressed:
    dup iff similar to an earlier doc; J3 cluster score derivable from
    component size).

    Web-scale pipeline order: EXACT dedup first (hash agg on md5(text) —
    boilerplate-identical pages collapse to one representative, which is also
    what defuses the quadratic LSH buckets), then capped banded LSH over the
    distinct texts only, then connected components over the union of exact
    edges (member -> exact representative) and near-dup edges.

    The exact pass groups and joins on the 128-bit md5 DIGEST, never on the
    raw text: at corpus scale the group + join-back would otherwise shuffle
    every multi-KB document body twice as a key. Here only (id, digest)
    pairs cross those shuffles; the text column crosses exactly ONE shuffle
    (the digest ``groupBy``, which carries each group's text as an
    aggregated value to MinHash — see dedup_edges).

    Tradeoff (deliberate): digest keying makes the "exact" pass exact only
    up to md5 collisions — two distinct texts colliding on the 128-bit
    digest would silently merge into one component. The expected collision
    count at 10^12 docs is ~(10^12)^2 / 2^129 ≈ 1.5e-15 — negligible
    against the near-dup stage's own approximation — and the same digest
    family already keys the shingle MinHash. Swap F.md5 for
    sha2(·, 256) here if a zero-collision guarantee is ever required; the
    plan shape is unchanged."""
    comp = connected_components(
        dedup_edges(docs, cfg, id_col, text_col, max_band_bucket, precomputed)
    )
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(comp, "id", "left")
        .withColumn("component", F.coalesce("comp", "id"))
        .withColumn("is_duplicate", F.col("id") != F.col("component"))
        .select("id", "component", "is_duplicate")
    )


def dbscan_clusters(
    docs: DataFrame,
    cfg: DedupConfig = DedupConfig(),
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DBSCAN cluster inventory (reference utils/clustering.py:50-90:
    DBSCAN(eps=1-sim_threshold, min_samples=3, metric='precomputed') over a
    full cosine-similarity matrix) re-expressed for corpus scale: the
    neighborhood graph is the banded-LSH candidate graph at
    ``cfg.similarity_threshold`` (minhash_similarity_pairs, uncapped
    buckets) instead of the O(n^2) matrix, then DBSCAN's structure is pure
    relational algebra:

      * degree    — neighbor counts from the symmetric candidate edges;
      * core      — degree + 1 (the point itself, sklearn semantics)
                    >= ``DBSCAN_MIN_SAMPLES``;
      * clusters  — connected components over CORE-CORE edges (min-id label,
                    the same size-adaptive CC as dedup_representatives);
      * border    — non-core points adjacent to >= 1 core point, assigned
                    the MIN core-neighbor cluster (deterministic, vs
                    sklearn's scan-order-dependent first-claim);
      * noise     — everything else, cluster = -1 (the reference/sklearn
                    noise label).

    Returns (id, cluster, role) with role in {'core','border','noise'}.
    No full-matrix shuffle anywhere: degrees and border assignment are
    hash aggregations on the edge list; an isolated core point keeps its
    own id as a singleton cluster label."""
    pairs = minhash_similarity_pairs(docs, cfg, id_col, text_col).select(
        "id_a", "id_b"
    )
    nbr = pairs.select(
        F.col("id_a").alias("id"), F.col("id_b").alias("n")
    ).union(pairs.select(F.col("id_b").alias("id"), F.col("id_a").alias("n")))
    core = (
        nbr.groupBy("id")
        .agg(F.count(F.lit(1)).alias("nn"))
        .where(F.col("nn") + 1 >= F.lit(DBSCAN_MIN_SAMPLES))
        .select("id")
    )
    core_edges = (
        pairs.join(core.select(F.col("id").alias("id_a")), "id_a", "leftsemi")
        .join(core.select(F.col("id").alias("id_b")), "id_b", "leftsemi")
        .select("id_a", "id_b")
    )
    comp = connected_components(core_edges)
    corelab = (
        core.join(comp, "id", "left")
        .select("id", F.coalesce("comp", F.col("id")).alias("cluster"))
    )
    border = (
        nbr.join(
            corelab.select(
                F.col("id").alias("n"), F.col("cluster").alias("ncl")
            ),
            "n",
        )
        .join(core, "id", "left_anti")
        .groupBy("id")
        .agg(F.min("ncl").alias("cluster"))
    )
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(corelab.select("id", F.col("cluster").alias("c_core")), "id", "left")
        .join(border.select("id", F.col("cluster").alias("c_border")), "id", "left")
        .select(
            "id",
            F.coalesce("c_core", "c_border", F.lit(-1)).alias("cluster"),
            F.when(F.col("c_core").isNotNull(), F.lit("core"))
            .when(F.col("c_border").isNotNull(), F.lit("border"))
            .otherwise(F.lit("noise"))
            .alias("role"),
        )
    )


# -------------------------------------------------------------- skew salting


def salt_hot_keys(
    df: DataFrame,
    key_col: str,
    threshold: int,
    salt_buckets: int,
    salt_src_cols: list[str] | None = None,
) -> DataFrame:
    """Skew pre-pass (SURVEY.md §4 item 2): keys whose frequency exceeds
    ``threshold`` get a salted key ``key#<pmod(xxhash64(salt_src), S)>`` so one
    hot boilerplate page family spreads over S reducers; cold keys keep key#0.
    The hot-key table is tiny -> broadcast join.

    The salt is derived from STABLE row content (``salt_src_cols``, default:
    every column except the key), never from monotonically_increasing_id() or
    rand(): those change across task recomputation, so a retried upstream
    stage could re-salt rows after a downstream stage consumed the old salts —
    a correctness hazard under fault recovery. Deterministic salting keeps the
    plan replayable (same doctrine as plans/oracles.py).

    LIMITATION: byte-identical duplicate rows all hash to the same bucket, so
    content-derived salting degrades to a no-op exactly when a hot key is
    composed of verbatim copies. When the table carries a unique discriminator
    (a doc_id / url column), pass it as ``salt_src_cols`` — a unique column
    spreads even identical payloads uniformly. The dedup pipeline itself is
    not exposed: its exact-dup pre-pass (dedup_representatives) collapses
    verbatim copies via the md5 hash-agg BEFORE any salted join runs."""
    if salt_src_cols is None:
        salt_src_cols = [c for c in df.columns if c != key_col]
    if not salt_src_cols:
        salt_src_cols = [key_col]
    hot = (
        df.groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") > threshold)
        .select(key_col)
        .withColumn("is_hot", F.lit(True))
    )
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in salt_src_cols]), F.lit(salt_buckets))
    return (
        df.join(F.broadcast(hot), key_col, "left")
        .withColumn(
            "salted_key",
            F.when(
                F.col("is_hot").isNotNull(),
                F.concat_ws("#", F.col(key_col).cast("string"), salt.cast("string")),
            ).otherwise(F.concat(F.col(key_col).cast("string"), F.lit("#0"))),
        )
        .drop("is_hot")
    )
