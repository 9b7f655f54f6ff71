"""Deterministic stratified sampling — training-mix curation.

A training-data pipeline rarely consumes a cleaned corpus whole: the mix is
curated per stratum (source x language, quality band, domain), with a quota
per cell. Spark's `sampleBy` gives *Bernoulli* fractions — nondeterministic
row counts, seed-and-partitioning dependent. This operator gives the other
contract curation needs: an EXACT per-stratum quota, fully deterministic
(same corpus -> same sample, independent of partitioning, retries, or
cluster size), because the "random" order is a content hash (md5-derived
h60 of the document id — the repo's proven cross-engine primitive,
functions/hashing.h60_sql) rather than an RNG stream.

Scale shape (the reason this is not one `Window.partitionBy(stratum)`):
a plain per-stratum window ships EVERY row of a stratum to one task — a
hot stratum (one language dominating a crawl) becomes a single-reducer
straggler at 100 TB. Two phases instead:

  1. local top-k per (stratum, salt): salt = pmod(xxhash64(id), B) is
     content-derived (deterministic under retries, CLAUDE.md doctrine);
     each first-phase group is ~1/B of the hottest stratum, and its output
     is bounded at k rows.
  2. global top-k per stratum over the <= B*k surviving rows per stratum —
     trivially small regardless of corpus size.

min-k of a total order is associative, so the two-phase sample SET is
identical to the naive single-window form (test-asserted, and invariant to
``salt_buckets``). Ties cannot occur: the order key is (h60(id), id) and
id is unique per row.

The reference has no sampling stage (its segment sampler, clear_quality.py,
samples WITHIN a document for perplexity — P7, functions/cleaning.py);
this is corpus-level curation beyond the reference, per the build brief.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import h60_sql
from ..functions.spam import PY_WS_CLASS
from .partitioning import num_partitions

__all__ = [
    "stratified_sample",
    "pack_sequences",
    "token_count_sql",
    "source_mix",
    "hash_split",
]


# U+4E00..U+9FFF (CJK Unified Ideographs) with LITERAL endpoint characters:
# Java regex and RE2 agree on literal codepoint ranges in classes, while the
# \uXXXX / \x{...} spellings are dialect-split (CLAUDE.md portable-regex
# rule; same device as textanalysis.C4_TERMINAL_RE).
_CJK_CLASS = "[一-鿿]"

# Residue words are runs of NON-whitespace, with "whitespace" = the exact
# Python-\s codepoint set (spam.PY_WS_CLASS — includes U+3000 ideographic
# space and NBSP, both common in Chinese webtext; Java/RE2 \s is ASCII-only
# so the class is explicit). This expression is spliced into a Spark SQL
# string literal, where backslashes must be doubled ('\\x{09}' lexes to the
# regex \x{09}); the DuckDB oracle twin splices spam.PY_WS_CLASS as-is
# (standard-conforming strings keep backslashes literal).
_NONWS_RUN_SPARK = (
    "[^" + PY_WS_CLASS[1:].replace("\\", "\\\\") + "+"
)


def _sql_str_lit(s: str) -> str:
    """Spark SQL string literal for an untrusted Python string.

    salt/seed/split labels are user-supplied and are spliced into SQL
    expression text; a bare f-string would let a quote or backslash
    produce malformed SQL (AnalysisException at plan time) or silently
    altered semantics (review finding). Spark's default lexer
    (escapedStringLiterals=false) treats backslash as an escape inside
    '...' — escape it first, then the quote. Same hazard the repo's
    bpe_apply_merge avoids by binding Columns; here the value must live
    inside a larger ``F.expr`` string, so escape instead.
    """
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def token_count_sql(text_col: str, mode: str = "cjk") -> str:
    """Portable (Spark SQL) token-count expression over ``text_col``.

    ``mode='cjk'`` (the default the packing/export path needs): each CJK
    Unified Ideograph counts as one token, and the non-CJK residue is
    counted in whitespace words (CJK chars are replaced by a space first,
    so ``abc中def`` is 1 + 2, not 1 + 1). Unsegmented Chinese text is ~1
    whitespace token per LINE — a "2048-token" shard packed by whitespace
    count would carry hundreds of thousands of Chinese characters; the
    reference itself tokenizes Chinese (jieba) for its LM (SURVEY §2.9), so
    chars-for-CJK + words-elsewhere is the reference-consistent budget unit
    (≈ jieba token count within a small constant factor, with zero
    segmenter dependency). Match counting (``regexp_count``) is used
    instead of length arithmetic so the DuckDB oracle twin
    (len(regexp_extract_all(...))) agrees per-codepoint regardless of the
    engines' grapheme-vs-codepoint length() semantics.

    ``mode='whitespace'``: the original ``size(split(text, ' '))`` count
    (token_stats semantics — NULL behaves as '', which is ONE empty
    token). Kept for parity with pre-round-7 shard layouts.

    Residue words are counted as runs of non-whitespace over the FULL
    Python-\\s separator set (``_NONWS_RUN_SPARK``), not literal spaces:
    curation text is newline-joined (clean_text/paragraph joins), so a
    space-only split would count a phantom token per newline in CJK text
    and merge words across line breaks in Latin text.
    """
    t = f"coalesce({text_col}, '')"
    if mode == "whitespace":
        return f"size(split({t}, ' '))"
    if mode != "cjk":
        raise ValueError(f"unknown token count mode: {mode!r}")
    resid = f"regexp_replace({t}, '{_CJK_CLASS}', ' ')"
    return (
        f"regexp_count({t}, '{_CJK_CLASS}') + "
        f"regexp_count({resid}, '{_NONWS_RUN_SPARK}')"
    )


def stratified_sample(
    docs: DataFrame,
    stratum_cols: Sequence[str] = ("source", "lang"),
    k: int = 3,
    id_col: str = "doc_id",
    salt_buckets: int = 16,
) -> DataFrame:
    """Exactly min(k, |stratum|) rows per stratum, deterministically.

    Returns the input columns plus ``sample_rank`` (1..k within each
    stratum, dense from 1, in h60-of-id order). Rank 1 of each stratum is
    a stable "representative document" for inspection dashboards; taking
    ``sample_rank <= j`` for any j <= k is itself a valid smaller quota
    sample (prefix-stability — an RNG-based sampler does not have this).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if salt_buckets < 1:
        raise ValueError("salt_buckets must be >= 1")
    reserved = {"sample_rank", "__h", "__salt", "__r"}
    clash = reserved & set(docs.columns)
    if clash:
        raise ValueError(
            f"stratified_sample: input columns collide with the "
            f"operator's output/internal names {sorted(clash)} — rename "
            f"them first (a silent withColumn would clobber them; "
            f"review finding)"
        )
    strata = [F.col(c) for c in stratum_cols]
    h = F.expr(h60_sql(f"cast({id_col} as string)"))
    base = (
        docs.withColumn("__h", h)
        .withColumn(
            "__salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt_buckets))
        )
    )
    w_local = Window.partitionBy(*strata, F.col("__salt")).orderBy(
        F.col("__h"), F.col(id_col)
    )
    survivors = (
        base.withColumn("__r", F.row_number().over(w_local))
        .where(F.col("__r") <= k)
        .drop("__r", "__salt")
    )
    w_global = Window.partitionBy(*strata).orderBy(F.col("__h"), F.col(id_col))
    return (
        survivors.withColumn("sample_rank", F.row_number().over(w_global))
        .where(F.col("sample_rank") <= k)
        .drop("__h")
    )


def pack_sequences(
    docs: DataFrame,
    budget: int = 2048,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int | None = None,
    token_count: str = "cjk",
    token_count_expr: str | None = None,
) -> DataFrame:
    """Sequence packing / token-budget sharding — the export-stage operator
    of an LLM training pipeline (GPT/Megatron-style packing: concatenate
    documents in a deterministic pseudo-random order and split the token
    stream into fixed-``budget`` training shards). Every doc gets its shard
    span and start offset from the GLOBAL cumulative token count over the
    (h60(id), id) order.

    Deterministic and partitioning/retry-independent: the order key is a
    content hash, never an RNG or zipWithIndex (whose assignment depends on
    physical partitioning); all arithmetic is bigint — no float anywhere.

    Scale shape (same design language as stratified_sample): a naive global
    window would range-partition and fully sort the corpus. Instead the h60
    key is pre-bucketed by its TOP bits (``b = h >> (60 - log2 n_buckets)``
    — bucket boundaries are compile-time constants, and bucket order equals
    h order, so concatenating buckets reproduces the global order), the
    within-bucket cumulative sum windows over (b)-partitions of slim
    (id, h, n_tokens) rows, and the per-bucket totals (``n_buckets`` rows)
    prefix-cumulate in one tiny window and broadcast back as offsets. One
    bounded hash exchange on b — no rangepartitioning, no global sort, and
    the text column never leaves the map side.

    Returns (id, n_tokens, cum_tokens, shard_first, shard_last,
    offset_in_shard): the doc's tokens occupy shards
    [shard_first, shard_last] of width ``budget`` (a doc MAY straddle
    shards — standard packing splits at sequence boundaries), starting at
    ``offset_in_shard`` inside shard_first.

    n_tokens defaults to the CJK-aware count (``token_count_sql('cjk')``:
    one token per CJK ideograph + whitespace words over the residue) —
    the budget unit that is actually meaningful for the Chinese corpus
    this engine targets. ``token_count='whitespace'`` restores the pre-
    round-7 whitespace split; ``token_count_expr`` accepts any bigint-
    valued SQL expression over the input columns (e.g. a precomputed
    tokenizer count column) and overrides ``token_count``.

    ``n_buckets`` (power of 2) caps the within-bucket window parallelism
    and sets corpus/n_buckets rows per cumsum task. Default None derives
    it from the input: the next power of two >= max(64, input partition
    count) — at 100 TB the scan parallelism (tens of thousands of file
    splits) carries through, while small inputs keep the 64-way floor.
    The value is a PHYSICAL knob only: any n_buckets yields identical
    output (test-asserted), so an explicit setting is always safe.
    """
    if budget < 1:
        raise ValueError("budget must be >= 1")
    if n_buckets is None:
        target = max(64, num_partitions(docs))
        n_buckets = 1 << (target - 1).bit_length()
    if n_buckets < 1 or n_buckets & (n_buckets - 1):
        raise ValueError("n_buckets must be a power of 2")
    shift = 60 - (n_buckets.bit_length() - 1)
    n_expr = token_count_expr or token_count_sql(text_col, token_count)
    # localCheckpoint: BOTH the within-bucket window and the bucket-total
    # offsets scan this table — without it the token-count regexes + h60
    # over the full text run twice per action (the repo's reused-input
    # landmine; review finding). Lazy: materializes at first action.
    slim = (
        docs.select(
            F.col(id_col),
            F.expr(n_expr).cast("long").alias("n_tokens"),
            F.expr(h60_sql(f"cast({id_col} as string)")).alias("__h"),
        )
        .withColumn("__b", F.shiftright(F.col("__h"), shift))
        .localCheckpoint(eager=False)
    )
    w_in = (
        Window.partitionBy("__b")
        .orderBy("__h", id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = slim.withColumn("__wcum", F.sum("n_tokens").over(w_in))
    # n_buckets rows total: the single-partition window is deliberate
    w_off = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        slim.groupBy("__b")
        .agg(F.sum("n_tokens").alias("__bt"))
        .withColumn("__off", F.coalesce(F.sum("__bt").over(w_off), F.lit(0)))
        .select("__b", "__off")
    )
    cum = F.col("__off") + F.col("__wcum")
    # div = bigint floor division. Zero-token docs (NULL/empty text) get
    # the EMPTY span [shard_first, shard_first - 1 + (n>0)] collapsed to
    # shard_last = shard_first: the old unconditional (cum - 1) div b
    # emitted -1 for a leading empty doc and an inverted span at exact
    # shard boundaries (review finding); with the case arm every operand
    # is non-negative (n > 0 implies cum >= 1).
    return within.join(F.broadcast(offsets), "__b").select(
        id_col,
        "n_tokens",
        cum.alias("cum_tokens"),
        F.expr(f"(__off + __wcum - n_tokens) div {budget}").alias("shard_first"),
        F.expr(
            f"case when n_tokens = 0 then (__off + __wcum) div {budget} "
            f"else (__off + __wcum - 1) div {budget} end"
        ).alias("shard_last"),
        ((cum - F.col("n_tokens")) % F.lit(budget)).alias("offset_in_shard"),
    )


# ---------------------------------------------------------------------------
# Temperature-weighted source mixing (the "data recipe" stage)
# ---------------------------------------------------------------------------

# Exact power-of-two weight scale: multiplying a double by 2^20 only shifts
# the exponent (never rounds), so floor(sqrt(n) * _W_SCALE) is bit-identical
# on every IEEE-754 engine — sqrt is correctly rounded by spec (Java
# Math.sqrt, C libm sqrt, DuckDB), unlike pow().
_W_SCALE = 1 << 20

# dyadic alpha -> how many/which correctly-rounded sqrt factors compose it
_DYADIC_ALPHAS = (0.0, 0.25, 0.5, 0.75, 1.0)


def _weight_sql(n: str, alpha: float) -> str:
    """bigint temperature weight ``floor(n^alpha * 2^20)`` for dyadic alpha.

    Every step is IEEE-deterministic: int->double conversion (round to
    nearest), sqrt (correctly rounded by the standard), one optional
    multiply of two correctly-rounded doubles (one correctly-rounded op),
    exponent-shift by 2^20 (exact), floor (exact), cast of an integral
    double (exact). No pow(), no float SUM — the two cross-engine hazards
    the oracle doctrine (plans/oracles.py) bans from decision paths.
    """
    if alpha == 0.0:
        return str(_W_SCALE)
    if alpha == 1.0:
        return f"({n} * {_W_SCALE})"
    d = f"cast({n} as double)"
    if alpha == 0.5:
        w = f"sqrt({d})"
    elif alpha == 0.25:
        w = f"sqrt(sqrt({d}))"
    elif alpha == 0.75:
        w = f"(sqrt({d}) * sqrt(sqrt({d})))"
    else:
        raise ValueError(
            f"alpha must be one of {_DYADIC_ALPHAS} for the deterministic "
            f"path (got {alpha!r}); arbitrary exponents need pow(), whose "
            "last-ulp rounding is engine-specific"
        )
    return f"cast(floor({w} * {_W_SCALE}) as bigint)"


def source_mix(
    docs: DataFrame,
    budget: int,
    alpha: float = 0.5,
    source_col: str = "source",
    id_col: str = "doc_id",
    seed: str = "mix",
) -> DataFrame:
    """Temperature-weighted source mixing — the corpus "data recipe" stage.

    Every public LLM corpus re-weights its sources instead of sampling
    proportionally: GPT-3 samples curated sources far above their byte
    share (Brown et al. 2020 table 2.2), The Pile assigns per-source
    epochs (Gao et al. 2020), and mT5/CCNet draw languages with
    ``p_s ∝ n_s^alpha`` (temperature sampling, Xue et al. 2021 §3.1;
    Wenzek et al. 2020). This operator is the ``n_s^alpha`` form: given a
    token/doc ``budget``, source ``s`` with ``n_s`` docs is sampled at

        p_s = min(1, budget * w_s / (sum_w * n_s)),   w_s = n_s^alpha

    so alpha=1 is proportional sampling, alpha=0 is uniform-over-sources,
    and 0<alpha<1 flattens the mix toward rare sources. Expected kept
    docs = budget when nothing clamps (clamped heads shift mass to the
    unclamped tail only in expectation terms — documented, not
    redistributed; re-run with a larger budget if exactness matters).

    The keep decision is fully deterministic and partitioning/retry
    independent: ``h60(seed || '|' || id) < floor(p_s * 2^60)`` — a pure
    bigint compare against a threshold whose arithmetic is bit-identical
    across engines (see ``_weight_sql``; the rate expression is a fixed
    operation-order double chain over *integer* aggregates, so there is no
    float-sum-ordering hazard anywhere). Re-running the recipe on the same
    corpus reproduces the same sample; changing ``seed`` draws an
    independent one.

    Scale shape: the per-source count is the only shuffle, and it moves
    one slim ``source`` column with map-side partial aggregation; the
    rate table (|sources| rows) broadcasts back, so the document side —
    text included — crosses ZERO shuffles (plan-asserted in
    tests/test_plan_quality.py). NULL sources form their own group
    (null-safe join), matching the ppl_buckets doctrine.

    Returns the input columns plus ``mix_n`` (source size), ``mix_rate``
    (the double p_s, for audit), and ``sampled``. Filter ``sampled`` for
    the recipe output; keeping both halves makes the decision auditable
    and lets the gate hash-check dropped docs too.

    Beyond the reference (its pipeline has no corpus-level mixing stage);
    public basis cited above.
    """
    if budget < 0:
        raise ValueError("budget must be >= 0")
    if alpha not in _DYADIC_ALPHAS:
        _weight_sql("n", alpha)  # raises with the full message
    reserved = {"mix_n", "mix_rate", "sampled"}
    clash = reserved & set(docs.columns)
    if clash:
        raise ValueError(
            f"source_mix: input columns collide with the operator's "
            f"output names {sorted(clash)} — rename them first (the "
            f"output select would otherwise carry duplicate names; "
            f"review finding)"
        )
    counts = docs.groupBy(F.col(source_col).alias("__src")).agg(
        F.count(F.lit(1)).alias("__n")
    )
    w = _weight_sql("__n", alpha)
    weighted = counts.withColumn("__w", F.expr(w))
    # bigint total via a full-frame window over the TINY counts table
    # (<= #sources rows): the previous separate agg + crossJoin embedded
    # the corpus-count subtree twice in one plan, re-running the
    # groupBy(source) scan per consumer (review finding); order-free sum
    # of bigints either way
    # fixed-op-order double chain, mirrored verbatim in the DuckDB oracle
    rate = (
        f"least(cast(1.0 as double), (cast({budget} as double) * "
        f"cast(__w as double)) / (cast(__sum_w as double) * "
        f"cast(__n as double)))"
    )
    rates = (
        weighted.withColumn(
            "__sum_w", F.sum("__w").over(Window.partitionBy())
        )
        .withColumn("__p", F.expr(rate))
        .withColumn(
            "__thr",
            F.expr(f"cast(floor(__p * cast({1 << 60} as double)) as bigint)"),
        )
        .select("__src", "__n", "__p", "__thr")
    )
    h = h60_sql(f"concat({_sql_str_lit(seed)}, '|', cast({id_col} as string))")
    return (
        docs.join(
            F.broadcast(rates),
            F.col(source_col).eqNullSafe(F.col("__src")),
            "left",
        )
        .drop("__src")
        .select(
            *docs.columns,
            F.col("__n").alias("mix_n"),
            F.col("__p").alias("mix_rate"),
            (F.expr(h) < F.col("__thr")).alias("sampled"),
        )
    )


def hash_split(
    docs: DataFrame,
    weights: Sequence[tuple[str, int]] = (
        ("train", 98),
        ("valid", 1),
        ("test", 1),
    ),
    id_col: str = "doc_id",
    salt: str = "split",
) -> DataFrame:
    """Deterministic train/valid/test assignment by content hash.

    ``randomSplit`` (and any RNG split) assigns by partition-local draw:
    the same document lands in different splits across runs, partitionings,
    and corpus versions — eval-set leakage waiting to happen when the
    corpus is re-filtered and re-split. The hash split is a pure function
    of (id, salt, weights): ``bucket = h60(salt || '|' || id) mod
    total_weight``, assigned to the label whose cumulative weight range
    contains the bucket. Properties a training pipeline needs, each
    test-asserted:

    - stable: adding or removing OTHER documents never moves a doc's
      assignment (subset-invariance) — the valid/test sets stay fixed as
      the corpus grows;
    - partitioning/retry independent (content hash, no RNG stream);
    - exhaustive and disjoint: exactly one label per doc;
    - proportions converge to weights/total (h60 is uniform);
    - ``salt`` keys the experiment: a different salt draws an independent
      split without touching the data.

    Pure integer arithmetic end-to-end and a pure map — no shuffle, no
    float, trivially cross-engine (gated with a DuckDB oracle). This is
    the split-by-hash practice of large-corpus tooling (e.g. TFDS
    subsplits by deterministic hashing); beyond the reference.
    """
    if not weights:
        raise ValueError("weights must be non-empty")
    clash = {"split", "__bucket"} & set(docs.columns)
    if clash:
        raise ValueError(
            f"hash_split: input columns collide with the operator's "
            f"output/internal names {sorted(clash)} — rename them first"
        )
    labels = [l for l, _ in weights]
    if len(set(labels)) != len(labels):
        raise ValueError("duplicate split labels")
    if any(w <= 0 for _, w in weights):
        raise ValueError("weights must be positive integers")
    total = sum(w for _, w in weights)
    if len(weights) == 1:
        return docs.withColumn("split", F.lit(labels[0]))
    h = h60_sql(f"concat({_sql_str_lit(salt)}, '|', cast({id_col} as string))")
    # the hash is computed ONCE into a bucket column, then dropped — the
    # CASE arms compare a bigint, not re-derive md5 per arm
    arms, cum = [], 0
    for label, wt in weights[:-1]:
        cum += wt
        arms.append(f"when __bucket < {cum} then {_sql_str_lit(label)}")
    expr = f"case {' '.join(arms)} else {_sql_str_lit(labels[-1])} end"
    return (
        docs.withColumn("__bucket", F.expr(f"pmod({h}, {total})"))
        .withColumn("split", F.expr(expr))
        .drop("__bucket")
    )
