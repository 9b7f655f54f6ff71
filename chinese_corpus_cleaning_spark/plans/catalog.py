"""Query catalog: every implemented operator exposed as a (spark_fn,
oracle_sql) pair for the driver's correctness gate.

Each ``queries()[name]`` takes (spark, sf_dir) and returns a DataFrame; each
``oracle_sql()[name]`` is ANSI-ish SQL DuckDB runs on the same parquet tables.
Column names/ordering are aligned on both sides; doubles are rounded
identically before output so order-insensitive value hashing matches.

Dialect notes (why some things look explicit):
  * All content hashing uses the md5-h60 primitive (functions/hashing.py),
    identical in Spark SQL (conv/substr/md5) and DuckDB (hex-cast).
  * Regex classes are written portably (explicit ranges); Python-re-specific
    semantics (unicode \\w) live only in the pandas-UDF pipeline whose parity
    is established against the reference by tests/test_functions_differential.
  * Floating expressions are written with identical operation order in both
    dialects so IEEE doubles agree bit-for-bit before rounding.

The English mini-lexicon below exists because the driver's ``documents``
table is ASCII word-salad; it exercises the REAL DFA/scrub UDF path against
a SQL-expressible oracle (the words are chosen with no cross-word overlaps so
DFA shortest-match scan == sequential replace, provably).

NOT oracle-expressible (and deliberately absent here — verified instead by
differential tests that EXECUTE the reference as the oracle,
tests/test_functions_differential.py):
  * P1 HTML->text (tool.py:38-63): stateful tag-subtree parsing — no SQL
    twin exists in DuckDB; byte-parity unit/differential tested.
  * P4 long-repeat removal (clear_redundancy.py:104-170): suffix-automaton
    with interval merging — inherently iterative; byte-exact diff-fuzzed
    within the work budget (fell-back docs flagged, see functions/cleaning).
  * AC match POSITIONS (feature_words.py:96-101): reproduce the reference's
    depth-of-merged-node quirk, unreachable from SQL; the match-count gate
    entry (feature_ac_matches) covers the multiset, the diff fuzz covers
    positions.
P3 (whitelist_clean), K7/A3 (merge_wordlists), and J1 (extract_is_zh) ARE
gated below: their Python-re semantics reduce to portable \\x{..} classes
(functions/cleaning.py, functions/spam.py) identical in Java regex and RE2.
K1 (writers) stays file-side-effect-tested (tests/test_pipeline_spark.py).
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT, WEIGHT_CLUSTERING, WEIGHT_PERPLEXITY, DedupConfig
from ..functions.dfa import build_trie
from ..operators import dedup, perplexity, similarity, textanalysis
from ..operators.quality import scrub_udf, with_quality

_SMALL_MINHASH = DedupConfig(
    similarity_threshold=0.5, shingle_size=5, num_hashes=16, num_bands=4
)

# lexicon for SQL-checkable DFA/scrub queries (see module docstring)
EN_LEXICON = ("spark", "vector", "window", "stream", "customer")

# lexicon for the W2 Aho-Corasick gate query: deliberately OVERLAPPING and
# NESTED patterns (substrings/suffixes of each other, one crossing a token
# boundary) so the all-matches semantics differ from the DFA shortest-match
# engine. Every pattern is border-free (no proper prefix == suffix), so its
# total occurrence count equals the non-overlapping literal count — which is
# what makes the DuckDB oracle exact.
AC_LEXICON = (
    "spark", "park", "ark", "spa",
    "stream", "tre", "ream",
    "custom", "tom", "ust", "me",
    "win", "ind", "dow",
    "a", "e t",
)

def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --------------------------------------------------------------------------
# portable regex fragments written with \x{...} codepoint syntax, which both
# Java regex (Spark) and RE2 (DuckDB) accept with identical range semantics;
# Python-re-specific behaviour lives only in the UDF pipeline (differential-
# tested against the reference). Shared with plans/oracles.py.
RX_CJK = "[\\x{4e00}-\\x{9fff}]"
RX_SYMBOL = "[^\\w\\s\\x{4e00}-\\x{9fff}]"
RX_URL = "https?://\\S+|www\\.\\S+|[a-zA-Z0-9][a-zA-Z0-9-]{1,61}[a-zA-Z0-9]\\.[a-zA-Z]{2,}"
_EMOJI_RANGES = [
    ("1F600", "1F64F"), ("1F300", "1F5FF"), ("1F680", "1F6FF"),
    ("1F700", "1F77F"), ("1F780", "1F7FF"), ("1F800", "1F8FF"),
    ("1F900", "1F9FF"), ("1FA00", "1FA6F"), ("1FA70", "1FAFF"),
    ("2702", "27B0"), ("24C2", "1F251"),
]
RX_EMOJI = "[" + "".join(f"\\x{{{a}}}-\\x{{{b}}}" for a, b in _EMOJI_RANGES) + "]+"


# ------------------------------------------------------------------ queries


def q_rule_length(spark, sf_dir):
    """F1 min-length check (rule_filter.py:34-45) as native exprs."""
    return load(spark, sf_dir, "documents").select(
        "doc_id",
        F.length("text").cast("bigint").alias("text_len"),
        (F.length("text") >= DEFAULT.rule.min_text_length).alias("pass_length"),
    )


def q_rule_avg_line_length(spark, sf_dir):
    """F2 avg non-empty-line length (rule_filter.py:47-63), native."""
    lines = "filter(split(text, '\\n'), l -> trim(l) <> '')"
    avg = (
        f"case when size({lines}) > 0 then "
        f"cast(aggregate({lines}, 0, (acc, l) -> acc + length(l)) as double)"
        f" / size({lines}) else 0.0 end"
    )
    return load(spark, sf_dir, "documents").select(
        "doc_id",
        F.round(F.expr(avg), 9).alias("avg_line_len"),
        F.expr(
            f"size({lines}) > 0 and ({avg}) >= {DEFAULT.rule.min_avg_line_length}"
        ).alias("pass_avg_line"),
    )


def q_rule_char_ratios(spark, sf_dir):
    """F3/F4/F6/F7 character-class ratios (rule_filter.py:65-139), native.
    Patterns passed via lit() (no SQL-literal escaping); counts via
    regexp_count == Python findall length (non-overlapping)."""
    d = load(spark, sf_dir, "documents")
    n = F.length("text")
    cjk = F.regexp_count("text", F.lit(RX_CJK))
    sym = F.regexp_count("text", F.lit(RX_SYMBOL))
    vbar = F.length("text") - F.length(F.replace(F.col("text"), F.lit("|"), F.lit("")))
    comma = F.length("text") - F.length(F.replace(F.col("text"), F.lit(","), F.lit("")))
    return d.select(
        "doc_id",
        F.round(cjk / n, 9).alias("chinese_ratio"),
        F.round(sym / n, 9).alias("symbol_ratio"),
        F.round(vbar / n, 9).alias("vbar_ratio"),
        F.round(comma / n, 9).alias("comma_ratio"),
        ((n > 0) & (cjk / n >= DEFAULT.rule.min_chinese_ratio)).alias("pass_chinese"),
        ((n > 0) & (sym / n <= DEFAULT.rule.max_symbol_ratio)).alias("pass_symbol"),
        ((n > 0) & (vbar / n <= DEFAULT.rule.max_vertical_bar_ratio)).alias("pass_vbar"),
        ((n > 0) & (comma / n <= DEFAULT.rule.max_comma_ratio)).alias("pass_comma"),
    )


def q_rule_url_emoji(spark, sf_dir):
    """F8 URL density + F9 emoji-run ratio (rule_filter.py:141-177). The
    emoji pattern keeps the reference's trailing '+' — it counts RUNS."""
    d = load(spark, sf_dir, "documents")
    n = F.length("text")
    urls = F.regexp_count("text", F.lit(RX_URL))
    emoji = F.regexp_count("text", F.lit(RX_EMOJI))
    return d.select(
        "doc_id",
        F.round(urls / n, 9).alias("url_density"),
        F.round(emoji / n, 9).alias("emoji_ratio"),
        ((n > 0) & (urls / n <= DEFAULT.rule.max_url_density)).alias("pass_url"),
        ((n > 0) & (emoji / n <= DEFAULT.rule.max_emoji_ratio)).alias("pass_emoji"),
    )


def q_rule_dup13(spark, sf_dir):
    """F5 13-gram internal duplication (rule_filter.py:179-204), native."""
    grams = "transform(sequence(1, length(text) - 12), i -> substring(text, i, 13))"
    dup = (
        f"case when length(text) >= 13 then "
        f"1.0 - cast(size(array_distinct({grams})) as double) / size({grams}) "
        f"else 0.0 end"
    )
    return load(spark, sf_dir, "documents").select(
        "doc_id",
        F.round(F.expr(dup), 9).alias("dup13_ratio"),
        F.expr(f"({dup}) <= {DEFAULT.rule.max_internal_dup_ratio}").alias("pass_dup13"),
    )


def q_scrub_text(spark, sf_dir):
    """DFA scrub (sensitive_filter.py:72-104) through the REAL pandas UDF
    with the overlap-free English lexicon; oracle = chained replace."""
    d = load(spark, sf_dir, "documents")
    bc = d.sparkSession.sparkContext.broadcast(build_trie(EN_LEXICON))
    return d.select("doc_id", scrub_udf(bc)(F.col("text")).alias("scrubbed_text"))


def q_feature_eval(spark, sf_dir):
    """Feature density + banded score (feature_words.py:170-314) through the
    REAL quality UDF with the English lexicon."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    bc = d.sparkSession.sparkContext.broadcast(build_trie(EN_LEXICON))
    out = with_quality(d, bc, DEFAULT)
    return out.select(
        "doc_id",
        F.col("feature_count").cast("bigint").alias("feature_count"),
        F.round("avg_feature_per_line", 9).alias("avg_feature_per_line"),
        F.col("feature_passed"),
        F.col("feature_score"),
    )


def q_quality_keep(spark, sf_dir):
    """FLAGSHIP: full keep/drop decision (main.py:135-251) through the real
    pipeline UDF; the oracle recomputes every partial score in SQL."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    bc = d.sparkSession.sparkContext.broadcast(build_trie(EN_LEXICON))
    out = with_quality(d, bc, DEFAULT)
    return out.select(
        "doc_id",
        F.col("rule_passed"),
        F.round("rule_score", 9).alias("rule_score"),
        F.col("feature_score"),
        F.round("quality_score", 9).alias("quality_score"),
        F.col("keep"),
    )


def q_dedup_exact(spark, sf_dir):
    return dedup.exact_dedup(load(spark, sf_dir, "documents")).select(
        "text_md5", F.col("keep_id").cast("bigint").alias("keep_id"),
        F.col("n_docs").cast("bigint").alias("n_docs"),
    )


def q_ngram_jaccard(spark, sf_dir):
    return dedup.ngram_jaccard_pairs(load(spark, sf_dir, "documents")).select(
        F.col("id_a").cast("bigint"), F.col("id_b").cast("bigint"),
        F.round("jaccard", 9).alias("jaccard"),
    )


def q_minhash_signatures(spark, sf_dir):
    """MinHash signature rows (doc_id, slot, minhash) — UDF path, h60-seeded;
    16 slots keep the oracle tractable."""
    d = load(spark, sf_dir, "documents")
    signed = dedup.with_minhash(d, _SMALL_MINHASH)
    return signed.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.posexplode("minhash").alias("slot", "minhash"),
    ).select("doc_id", F.col("slot").cast("bigint"), "minhash")


def q_lsh_band_keys(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    signed = dedup.with_minhash(d, _SMALL_MINHASH)
    return signed.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.posexplode("band_keys").alias("band", "band_key"),
    ).select("doc_id", F.col("band").cast("bigint"), "band_key")


def q_dedup_minhash_pairs(spark, sf_dir):
    return dedup.minhash_similarity_pairs(
        load(spark, sf_dir, "documents"), _SMALL_MINHASH
    ).select(
        F.col("id_a").cast("bigint"), F.col("id_b").cast("bigint"),
        F.round("est_jaccard", 9).alias("est_jaccard"),
    )


def q_simhash(spark, sf_dir):
    return dedup.simhash_df(load(spark, sf_dir, "documents")).select(
        F.col("id").cast("bigint").alias("doc_id"), "simhash"
    )


def q_fingerprint(spark, sf_dir):
    return textanalysis.fingerprint_winnow(load(spark, sf_dir, "documents")).select(
        F.col("doc_id").cast("bigint"), "fingerprint"
    )


def q_token_stats(spark, sf_dir):
    t = textanalysis.token_stats(load(spark, sf_dir, "documents"))
    return t.select(
        F.col("doc_id").cast("bigint"),
        F.col("n_tokens").cast("bigint"),
        F.col("n_distinct_tokens").cast("bigint"),
        F.round("avg_token_len", 9).alias("avg_token_len"),
    )


def q_langid(spark, sf_dir):
    t = textanalysis.langid_relational(load(spark, sf_dir, "documents"))
    return t.select(
        F.col("doc_id").cast("bigint"), "lang_pred",
        F.col("top_hits").cast("bigint"), F.col("n_tokens").cast("bigint"),
    )


def q_ngram_train(spark, sf_dir):
    return perplexity.ngram_counts(load(spark, sf_dir, "documents")).select(
        "context", "word", F.col("cnt").cast("bigint").alias("cnt")
    )


def q_ngram_perplexity(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    model = perplexity.ngram_counts(docs)
    return perplexity.perplexity_relational(docs, model).select(
        F.col("doc_id").cast("bigint"),
        F.round("ppl", 2).alias("ppl"),
        F.round("neg_avg_log2p", 7).alias("neg_avg_log2p"),
    )


_COSINE_K = 5


def q_cosine_topk(spark, sf_dir):
    return similarity.cosine_topk(
        load(spark, sf_dir, "embeddings"), k=_COSINE_K
    ).select(
        F.col("vec_id").cast("bigint"), F.col("neighbor_id").cast("bigint"),
        F.round("cos_sim", 6).alias("cos_sim"), F.col("rank").cast("bigint"),
    )


def q_ann_buckets(spark, sf_dir):
    return similarity.rp_lsh_buckets(load(spark, sf_dir, "embeddings")).select(
        F.col("vec_id").cast("bigint"), F.col("bucket").cast("bigint")
    )


def q_quality_rollup(spark, sf_dir):
    r = textanalysis.quality_stats_rollup(load(spark, sf_dir, "documents"))
    return r.select(
        "lang", "source", F.col("n_docs").cast("bigint"),
        F.col("total_chars").cast("bigint"),
        F.round("avg_chars", 9).alias("avg_chars"),
        F.col("min_chars").cast("bigint"), F.col("max_chars").cast("bigint"),
    )


def q_binary_meta(spark, sf_dir):
    """Multimodal plumbing: opaque binary column + typed metadata (the decode
    step itself is stubbed — see operators/multimodal.py)."""
    return load(spark, sf_dir, "documents").select(
        "doc_id",
        F.length(F.encode("text", "UTF-8")).cast("bigint").alias("n_bytes"),
        F.md5(F.encode("text", "UTF-8")).alias("content_md5"),
    )


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "rule_length_check": q_rule_length,
    "rule_avg_line_length": q_rule_avg_line_length,
    "rule_char_ratios": q_rule_char_ratios,
    "rule_url_emoji": q_rule_url_emoji,
    "rule_dup13": q_rule_dup13,
    "scrub_text": q_scrub_text,
    "feature_eval": q_feature_eval,
    "quality_keep": q_quality_keep,
    "dedup_exact": q_dedup_exact,
    "ngram_jaccard_pairs": q_ngram_jaccard,
    "minhash_signatures": q_minhash_signatures,
    "lsh_band_keys": q_lsh_band_keys,
    "dedup_minhash_pairs": q_dedup_minhash_pairs,
    "simhash": q_simhash,
    "fingerprint_winnow": q_fingerprint,
    "token_stats": q_token_stats,
    "langid_stopwords": q_langid,
    "ngram_lm_train": q_ngram_train,
    "ngram_perplexity": q_ngram_perplexity,
    "cosine_topk": q_cosine_topk,
    "ann_lsh_buckets": q_ann_buckets,
    "quality_stats_rollup": q_quality_rollup,
    "binary_meta": q_binary_meta,
}


# ---- events analytics, embedding near-dup, full 4-component composite ----

from ..operators import events as _events  # noqa: E402
from ..operators import similarity as _sim  # noqa: E402


def q_events_sessionize(spark, sf_dir):
    s = _events.sessionize(load(spark, sf_dir, "events"))
    return s.select(
        F.col("user_id").cast("bigint"),
        F.col("session_id").cast("bigint"),
        F.col("n_events").cast("bigint"),
        "session_start",
        "session_end",
        F.round("total_value", 6).alias("total_value"),
    )


def q_embedding_near_dup_pairs(spark, sf_dir):
    p = _sim.embedding_near_dup_pairs(load(spark, sf_dir, "embeddings"))
    return p.select(
        F.col("id_a").cast("bigint"), F.col("id_b").cast("bigint"),
        F.round("cos_sim", 6).alias("cos_sim"),
    )


def q_embedding_cluster_score(spark, sf_dir):
    d = _sim.duplicate_ratio(load(spark, sf_dir, "embeddings"))
    return d.select(
        F.col("vec_id").cast("bigint"),
        F.round("dup_ratio", 6).alias("dup_ratio"),
        F.round(_sim.cluster_score_col("dup_ratio"), 6).alias("cluster_score"),
    )


# python-computed weight literals, inlined identically into the oracle SQL
W_FULL_TOTAL = (
    DEFAULT.weight_rule
    + DEFAULT.weight_feature
    + WEIGHT_PERPLEXITY
    + WEIGHT_CLUSTERING
)


def q_quality_keep_full(spark, sf_dir):
    """Full 4-component composite (main.py:219-251 with every component
    enabled): rule + feature from the real UDF pipeline, perplexity from the
    relational n-gram scorer, clustering from embedding duplicate-ratio
    (docs joined to embeddings on doc_id = vec_id for the fixture corpus)."""
    from ..operators import perplexity as _ppl

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    bc = d.sparkSession.sparkContext.broadcast(build_trie(EN_LEXICON))
    base = with_quality(d, bc, DEFAULT).select(
        "doc_id", "rule_score", "feature_score"
    )
    model = _ppl.ngram_counts(d)
    ppl = _ppl.perplexity_relational(d, model).select(
        "doc_id", _ppl.ppl_score_col("ppl").alias("ppl_score")
    )
    clus = _sim.duplicate_ratio(load(spark, sf_dir, "embeddings")).select(
        F.col("vec_id").alias("doc_id"),
        _sim.cluster_score_col("dup_ratio").alias("cluster_score"),
    )
    joined = base.join(ppl, "doc_id").join(clus, "doc_id")
    score = (
        F.col("rule_score") * F.lit(DEFAULT.weight_rule)
        + F.col("feature_score") * F.lit(DEFAULT.weight_feature)
        + F.col("ppl_score") * F.lit(WEIGHT_PERPLEXITY)
        + F.col("cluster_score") * F.lit(WEIGHT_CLUSTERING)
    ) / F.lit(W_FULL_TOTAL)
    return joined.select(
        F.col("doc_id").cast("bigint"),
        F.round("ppl_score", 6).alias("ppl_score"),
        F.round("cluster_score", 6).alias("cluster_score"),
        F.round(score, 6).alias("quality_score_full"),
        (score >= F.lit(DEFAULT.quality_threshold)).alias("keep_full"),
    )


QUERIES.update(
    {
        "events_sessionize": q_events_sessionize,
        "embedding_near_dup_pairs": q_embedding_near_dup_pairs,
        "embedding_cluster_score": q_embedding_cluster_score,
        "quality_keep_full": q_quality_keep_full,
    }
)


def q_dedup_tokens(spark, sf_dir):
    """Within-document first-occurrence dedup (the J4 exact-line-dedup
    semantics, clear_redundancy.py:172-190, applied to whitespace tokens —
    the documents fixture is single-line). Native array_distinct preserves
    first-occurrence order."""
    return load(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr("array_join(array_distinct(split(text, ' ')), ' ')").alias(
            "deduped_text"
        ),
    )


QUERIES["dedup_tokens"] = q_dedup_tokens


_ANN_K = 3


def q_ann_topk(spark, sf_dir):
    """Approximate NN: exact cosine top-``_ANN_K`` restricted to
    same-RP-LSH-bucket candidates (the scale path for similarity search)."""
    t = _sim.ann_topk_lsh(load(spark, sf_dir, "embeddings"), k=_ANN_K)
    return t.select(
        F.col("vec_id").cast("bigint"),
        F.col("neighbor_id").cast("bigint"),
        F.round("cos_sim", 6).alias("cos_sim"),
        F.col("rank").cast("bigint"),
    )


QUERIES["ann_topk_lsh"] = q_ann_topk


def q_lineitem_pricing_summary(spark, sf_dir):
    """TPC-H Q1-shaped pricing summary (relational breadth: filter pushdown +
    grouped decimal aggregation). Filter on l_shipdate reaches the parquet
    scan as a PushedFilter (asserted in tests/test_plan_quality.py)."""
    li = load(spark, sf_dir, "lineitem")
    d = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    q = F.col("l_quantity").cast("decimal(18,2)")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(q).cast("double").alias("sum_qty"),
            F.sum(d).cast("double").alias("sum_base_price"),
            F.sum(d * (F.lit(1).cast("decimal(18,2)") - disc))
            .cast("double")
            .alias("sum_disc_price"),
            F.count(F.lit(1)).cast("bigint").alias("count_order"),
        )
        .select(
            "l_returnflag", "l_linestatus", "sum_qty", "sum_base_price",
            "sum_disc_price", "count_order",
        )
    )


QUERIES["lineitem_pricing_summary"] = q_lineitem_pricing_summary


def q_ivf_cells(spark, sf_dir):
    c = _sim.ivf_assign(load(spark, sf_dir, "embeddings"))
    return c.select(F.col("vec_id").cast("bigint"), F.col("cell").cast("bigint"))


def q_ivf_topk(spark, sf_dir):
    t = _sim.ivf_topk(load(spark, sf_dir, "embeddings"))
    return t.select(
        F.col("vec_id").cast("bigint"), F.col("neighbor_id").cast("bigint"),
        F.round("cos_sim", 6).alias("cos_sim"), F.col("rank").cast("bigint"),
    )


QUERIES["ivf_cells"] = q_ivf_cells
QUERIES["ivf_topk"] = q_ivf_topk


def q_feature_ac_matches(spark, sf_dir):
    """W2 Aho-Corasick all-overlapping matches (feature_words.py:12-103)
    through the REAL broadcast automaton + pandas UDF, on a nested/overlapping
    lexicon. The oracle recounts per-pattern literal occurrences (exact for
    border-free patterns). Match POSITIONS (incl. the reference's
    depth-of-merged-node quirk) are covered by the differential fuzz suite
    (tests/test_aho_corasick_differential.py) — not SQL-expressible."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    out = textanalysis.feature_ac_matches(d, AC_LEXICON)
    return out.select(
        F.col("doc_id").cast("bigint"),
        F.col("n_matches").cast("bigint").alias("n_matches"),
        F.col("n_distinct_patterns").cast("bigint").alias("n_distinct_patterns"),
    )


QUERIES["feature_ac_matches"] = q_feature_ac_matches


def q_ppl_spam_adjust(spark, sf_dir):
    """lmppl spam-pattern perplexity contract (lmppl_perplexity.py:83-85,
    :204-206) on top of the n-gram scorer: docs with doc_id % 7 == 0 get a
    spam marker appended (deterministically, on BOTH engines) so the
    inflation branch ppl' = max(ppl*1.5, 1.2*thr) and the hard-fail are
    exercised; the flag itself runs the full 12-regex + pipe-ratio +
    punct-ratio detector (functions/spam.py)."""
    from ..functions import spam as _spam
    from ..operators import perplexity as _ppl

    thr = _spam.SPAM_PPL_THRESHOLD
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    model = _ppl.ngram_counts(docs)
    ppl = _ppl.perplexity_relational(docs, model).select("doc_id", "ppl")
    flagged = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 7 == 0, F.lit(" 在线 播放")).otherwise(
                F.lit("")
            ),
        ).alias("text2"),
    ).withColumn("has_spam", _spam.has_spam_col("text2"))
    joined = ppl.join(flagged.select("doc_id", "has_spam"), "doc_id")
    adj = _spam.adjusted_ppl_col("ppl", "has_spam")
    return joined.select(
        F.col("doc_id").cast("bigint"),
        F.col("has_spam"),
        F.round(adj, 2).alias("adj_ppl"),
        ((adj <= F.lit(thr)) & ~F.col("has_spam")).alias("ppl_pass"),
    )


QUERIES["ngram_ppl_spam_adjust"] = q_ppl_spam_adjust


def q_quality_keep_full_ann(spark, sf_dir):
    """PRODUCTION 4-component composite: identical to quality_keep_full
    except the clustering component derives dup_ratio from RP-LSH-bucketed
    candidates (similarity.duplicate_ratio_ann — equi-join on bucket, no
    crossJoin) instead of the O(n^2) all-pairs form. The exact form stays in
    the catalog as the oracle-checkable spec (quality_keep_full); THIS is the
    plan shape that runs at 100 TB — asserted CartesianProduct-free in
    tests/test_plan_quality.py."""
    from ..operators import perplexity as _ppl

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    bc = d.sparkSession.sparkContext.broadcast(build_trie(EN_LEXICON))
    base = with_quality(d, bc, DEFAULT).select(
        "doc_id", "rule_score", "feature_score"
    )
    model = _ppl.ngram_counts(d)
    ppl = _ppl.perplexity_relational(d, model).select(
        "doc_id", _ppl.ppl_score_col("ppl").alias("ppl_score")
    )
    clus = _sim.duplicate_ratio_ann(load(spark, sf_dir, "embeddings")).select(
        F.col("vec_id").alias("doc_id"),
        _sim.cluster_score_col("dup_ratio").alias("cluster_score"),
    )
    joined = base.join(ppl, "doc_id").join(clus, "doc_id")
    score = (
        F.col("rule_score") * F.lit(DEFAULT.weight_rule)
        + F.col("feature_score") * F.lit(DEFAULT.weight_feature)
        + F.col("ppl_score") * F.lit(WEIGHT_PERPLEXITY)
        + F.col("cluster_score") * F.lit(WEIGHT_CLUSTERING)
    ) / F.lit(W_FULL_TOTAL)
    return joined.select(
        F.col("doc_id").cast("bigint"),
        F.round("ppl_score", 6).alias("ppl_score"),
        F.round("cluster_score", 6).alias("cluster_score"),
        F.round(score, 6).alias("quality_score_full"),
        (score >= F.lit(DEFAULT.quality_threshold)).alias("keep_full"),
    )


QUERIES["quality_keep_full_ann"] = q_quality_keep_full_ann


def _string_udf(fn):
    """Arrow-batched wrapper for a str -> str library function."""
    from pyspark.sql.types import StringType

    @F.pandas_udf(StringType())
    def u(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: fn(t or ""))

    return u


# deterministic messiness injected on BOTH engines: the fixture text is
# clean single-line ASCII, so the cleanup operators would otherwise be
# identity maps and the oracle would prove nothing
_MESSY_SPARK = (
    "concat('  ', replace(text, ' ', concat(char(9), ' ')), char(7), '  ')"
)
_P7_SUFFIX = " see http://ex.com/a?b=1 wow!!! fine...... ok"


def q_clean_text(spark, sf_dir):
    """P2 whitespace/control cleanup (tool.py:8-14) through the REAL python
    function (functions/cleaning.clean_text) on deliberately messied text:
    tabs injected between tokens, a BEL control char and padding appended.
    Oracle = the same regexp chain in DuckDB (explicit ASCII whitespace
    class — the fixture contains no unicode whitespace, where Python \\s and
    RE2 \\s would diverge). Note the reference collapses whitespace BEFORE
    removing control chars, so ' \\x07 ' leaves a double space — kept."""
    from ..functions.cleaning import clean_text as _ct

    d = load(spark, sf_dir, "documents")
    messy = F.expr(_MESSY_SPARK)
    return d.select(
        "doc_id", _string_udf(_ct)(messy).alias("cleaned_text")
    )


def q_ppl_preprocess(spark, sf_dir):
    """P7 perplexity preprocessing (lmppl_perplexity.py:92-125) through the
    REAL python function: whitespace collapse -> URL -> [URL] -> !?-run
    collapse -> dot-run collapse -> emoji strip. URLs/bangs/dots injected
    for doc_id % 5 == 0 so every rewrite fires."""
    from ..functions.cleaning import preprocess_for_ppl as _pp

    d = load(spark, sf_dir, "documents")
    t2 = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 5 == 0, F.lit(_P7_SUFFIX)).otherwise(F.lit("")),
    )
    return d.select("doc_id", _string_udf(_pp)(t2).alias("ppl_text"))


def q_dedup_lines(spark, sf_dir):
    """J4 first-occurrence line dedup (clear_redundancy.py:172-190) through
    the REAL python function on a multi-line rendering of the fixture
    (spaces -> newlines, so lines = tokens and duplicate lines exist)."""
    from ..functions.cleaning import dedup_lines as _dl

    d = load(spark, sf_dir, "documents")
    t2 = F.replace(F.col("text"), F.lit(" "), F.lit("\n"))
    return d.select("doc_id", _string_udf(_dl)(t2).alias("deduped_lines"))


QUERIES["clean_text"] = q_clean_text
QUERIES["ppl_preprocess"] = q_ppl_preprocess
QUERIES["dedup_lines"] = q_dedup_lines


_NGRAM_MIN_COUNT = 2


def q_ngram_train_pruned(spark, sf_dir):
    """min_count-pruned n-gram model (the scale lever that keeps the model
    broadcastable: singleton n-grams dominate web-crawl trigram tables)."""
    return perplexity.ngram_counts(
        load(spark, sf_dir, "documents"), min_count=_NGRAM_MIN_COUNT
    ).select("context", "word", F.col("cnt").cast("bigint").alias("cnt"))


QUERIES["ngram_lm_train_pruned"] = q_ngram_train_pruned


def q_simhash_near_dup(spark, sf_dir):
    """SimHash-banded near-dup pairs: 4x15-bit band equi-join (pigeonhole:
    any pair within hamming < 4 must share a band) + exact bit_count(xor)
    filter. The scale-shape companion to MinHash LSH for token-level dups."""
    sims = dedup.simhash_df(load(spark, sf_dir, "documents"))
    pairs = dedup.simhash_near_dup_pairs(sims)
    return pairs.select(
        F.col("id_a").cast("bigint"),
        F.col("id_b").cast("bigint"),
        F.col("hamming").cast("bigint"),
    )


QUERIES["simhash_near_dup_pairs"] = q_simhash_near_dup


def q_segment_sample(spark, sf_dir):
    """P7b head/middle/tail sentence sampling (lmppl_perplexity.py:127-154)
    through the REAL python function on a multi-sentence rendering of the
    fixture (' the ' -> '. ' so sentence counts vary per doc)."""
    from ..functions.cleaning import extract_meaningful_segments as _ems

    d = load(spark, sf_dir, "documents")
    t2 = F.replace(F.col("text"), F.lit(" the "), F.lit(". "))
    return d.select("doc_id", _string_udf(_ems)(t2).alias("sampled_text"))


QUERIES["segment_sample"] = q_segment_sample


def q_dedup_representatives(spark, sf_dir):
    """END-TO-END near-dup stage in the gate: exact dedup + banded-LSH
    candidate pairs + similarity filter + connected components +
    representative election (operators/dedup.dedup_representatives). The
    DuckDB oracle recomputes the whole chain, closing components with a
    recursive-CTE transitive closure (tractable at fixture scale; Spark runs
    the adaptive union-find/min-label loop)."""
    reps = dedup.dedup_representatives(
        load(spark, sf_dir, "documents"),
        _SMALL_MINHASH,
        "doc_id",
        "text",
        max_band_bucket=None,
    )
    return reps.select(
        F.col("id").cast("bigint").alias("doc_id"),
        F.col("component").cast("bigint").alias("component"),
        F.col("is_duplicate"),
    )


QUERIES["dedup_representatives"] = q_dedup_representatives


def q_ngram_jaccard_candidates(spark, sf_dir):
    """PRODUCTION n-gram Jaccard: exact Jaccard restricted to MinHash-LSH
    candidate pairs (all-pairs form stays as the oracle-checkable spec)."""
    p = dedup.ngram_jaccard_on_candidates(
        load(spark, sf_dir, "documents"), _SMALL_MINHASH
    )
    return p.select(
        F.col("id_a").cast("bigint"),
        F.col("id_b").cast("bigint"),
        F.round("jaccard", 9).alias("jaccard"),
    )


_VOCAB_K = 25


def q_vocab_topk(spark, sf_dir):
    t = textanalysis.vocab_topk(load(spark, sf_dir, "documents"), k=_VOCAB_K)
    return t.select(
        "token", F.col("cnt").cast("bigint"), F.col("rank").cast("bigint")
    )


def q_doc_length_histogram(spark, sf_dir):
    h = textanalysis.doc_length_histogram(load(spark, sf_dir, "documents"))
    return h.select(
        F.col("bucket_lo").cast("bigint"),
        F.col("n_docs").cast("bigint"),
        F.col("total_chars").cast("bigint"),
    )


QUERIES["ngram_jaccard_candidates"] = q_ngram_jaccard_candidates
QUERIES["vocab_topk"] = q_vocab_topk
QUERIES["doc_length_histogram"] = q_doc_length_histogram


def q_host_rollup(spark, sf_dir):
    """Skew-salted two-phase per-host rollup (textanalysis.host_rollup) over
    urls synthesized deterministically from doc_id (the documents fixture
    has no url column; both engines derive the same one). Verifies the
    salted partial+merge equals a direct groupBy."""
    d = load(spark, sf_dir, "documents").select(
        F.concat(
            F.lit("https://host"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.com/p/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        "text",
    )
    r = textanalysis.host_rollup(d)
    return r.select(
        "host",
        F.col("n_docs").cast("bigint"),
        F.col("total_chars").cast("bigint"),
        F.round("avg_chars", 9).alias("avg_chars"),
    )


QUERIES["host_rollup"] = q_host_rollup


def q_embedding_quantize(spark, sf_dir):
    """Symmetric int8 vector quantization (similarity.quantize_int8): the
    storage path for billion-vector corpora. Emitted exploded per-dimension
    so the value hash checks every quantized component."""
    qd = _sim.quantize_int8(load(spark, sf_dir, "embeddings"))
    return qd.select(
        F.col("vec_id").cast("bigint"),
        F.round("scale", 9).alias("scale"),
        F.round("max_err", 9).alias("max_err"),
        F.posexplode("q").alias("dim_idx", "qv"),
    ).select(
        "vec_id", "scale", "max_err",
        F.col("dim_idx").cast("bigint"), F.col("qv").cast("bigint"),
    )


def q_quality_percentiles(spark, sf_dir):
    """Adaptive-threshold primitive: exact percentiles of the composite
    quality score over the corpus (keep the top X% instead of a fixed 0.8).
    Spark percentile() vs DuckDB quantile_cont — both R-7 interpolation over
    bit-identical scores."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    bc = d.sparkSession.sparkContext.broadcast(build_trie(EN_LEXICON))
    scored = with_quality(d, bc, DEFAULT).select("quality_score")
    return scored.agg(
        *[
            F.round(
                F.expr(f"percentile(quality_score, {p})"), 6
            ).alias(f"p{int(p * 100)}")
            for p in (0.10, 0.50, 0.90, 0.99)
        ]
    )


QUERIES["embedding_quantize_int8"] = q_embedding_quantize
QUERIES["quality_percentiles"] = q_quality_percentiles


_DECON_N = 8


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: docs with doc_id % 97 == 0 act as the
    "eval set"; every corpus doc sharing any token 8-gram with it is
    flagged (broadcast n-gram-hash semi-join — the test-set-leakage guard
    of a training-data pipeline). Docs with doc_id % 13 == 0 are truncated
    to 3 tokens (deterministically, on BOTH engines) so the gate exercises
    the short-doc path: fewer than n tokens -> zero n-grams, not a
    sequence(n, size)-descending crash."""
    d = load(spark, sf_dir, "documents").withColumn(
        "text",
        F.when(
            F.col("doc_id") % 13 == 0,
            F.array_join(F.slice(F.split(F.col("text"), " "), 1, 3), " "),
        ).otherwise(F.col("text")),
    )
    bench = d.where(F.col("doc_id") % 97 == 0)
    out = textanalysis.decontaminate_overlap(d, bench, n=_DECON_N)
    return out.select(
        F.col("doc_id").cast("bigint"),
        F.col("n_overlap").cast("bigint"),
        F.col("contaminated"),
    )


QUERIES["decontaminate_overlap"] = q_decontaminate


# ---- round-3 gate additions: P3 whitelist clean, K7/A3 merge, J1 is_zh ----

# deterministic decoration so the ASCII word-salad fixture exercises the
# emoji/CJK/forbidden-char paths; IDENTICAL literal in the DuckDB oracle
WHITELIST_DECOR = " 😀🌀⛄➿🚀中文测试！，。【】§é①△\nabc  12 "


def q_whitelist_clean(spark, sf_dir):
    """P3 charset-whitelist clean (clear_redundancy.py:15-51) as a native
    Column chain (functions/cleaning.clean_whitelist_col): emoji-range strip,
    per-codepoint whitelist filter, multi-space collapse + trim."""
    from ..functions.cleaning import clean_whitelist_col

    d = load(spark, sf_dir, "documents").withColumn(
        "text2",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.col("text"), F.lit(WHITELIST_DECOR)),
        ).otherwise(F.col("text")),
    )
    return d.select(
        F.col("doc_id").cast("bigint"),
        clean_whitelist_col(F.col("text2")).alias("cleaned"),
    )


def q_merge_wordlists(spark, sf_dir):
    """K7/A3 word-list merge (merge_all_sensitive_words.py:33-71): union ->
    trim -> drop-empty -> distinct -> orderBy over two table-derived token
    lists plus the SMALL_LEXICON; rank pins the sort order into the
    order-insensitive value hash."""
    from pyspark.sql.window import Window

    from ..sources.wordlists import SMALL_LEXICON, merge_wordlist_dfs

    docs = load(spark, sf_dir, "documents")
    a = docs.where(F.col("doc_id") % 2 == 0).select(
        F.explode(F.split("text", " ")).alias("value")
    )
    b = docs.where(F.col("doc_id") % 2 == 1).select(
        F.explode(F.split("text", " ")).alias("value")
    )
    c = spark.createDataFrame([(w,) for w in SMALL_LEXICON], ["value"])
    merged = merge_wordlist_dfs([a, b, c])
    return merged.select(
        "word",
        F.row_number().over(Window.orderBy("word")).cast("bigint").alias("rank"),
    )


def q_extract_is_zh(spark, sf_dir):
    """J1 offset-membership boolean (subsample_warc_warc.py:46-87) as the
    relational langid twin (operators/extract.is_zh_relational). Decoration:
    doc_id%11 -> sub-min_chars short doc; doc_id%4 -> CJK-prefixed doc with a
    ratio that crosses ZH_THRESHOLD as doc_id%9 grows."""
    from ..operators.extract import is_zh_relational

    d = load(spark, sf_dir, "documents").withColumn(
        "text2",
        F.when(F.col("doc_id") % 11 == 0, F.lit("短"))
        .when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.expr("repeat('中文内容', cast(doc_id % 9 as int) + 1)"),
                F.lit(" "),
                F.substring(F.col("text"), 1, 12),
            ),
        )
        .otherwise(F.col("text")),
    )
    out = is_zh_relational(d, id_col="doc_id", text_col="text2")
    return out.select(
        F.col("doc_id").cast("bigint"),
        "lang",
        F.round("conf", 7).alias("conf"),
        "is_zh",
    )


def q_dbscan_clusters(spark, sf_dir):
    """DBSCAN cluster inventory (clustering.py:50-90) over the banded-LSH
    candidate graph: core/border/noise roles + min-id cluster labels
    (operators/dedup.dbscan_clusters). The oracle replays the identical
    LSH CTE chain and a recursive-CTE closure over core-core edges."""
    d = load(spark, sf_dir, "documents")
    out = dedup.dbscan_clusters(d, _SMALL_MINHASH)
    return out.select(
        F.col("id").cast("bigint").alias("doc_id"),
        F.col("cluster").cast("bigint"),
        "role",
    )


QUERIES["whitelist_clean"] = q_whitelist_clean
QUERIES["merge_wordlists"] = q_merge_wordlists
QUERIES["extract_is_zh"] = q_extract_is_zh
QUERIES["dbscan_clusters"] = q_dbscan_clusters


# ---- round-4 additions (inside the driver's 50-row window as of round 5 —
# ---- the single _GATE_TAIL reorder now lives at the END of this module)


def q_repetition_signals(spark, sf_dir):
    """Gopher-style repetition quality signals (operators/textanalysis.
    repetition_signals): dup-line / dup-line-char / top-bigram / dup-trigram
    fractions. Decoration: doc_id%3==0 -> one token per line (dup lines from
    repeated tokens); %3==1 -> two duplicated tail lines appended."""
    from ..operators.textanalysis import repetition_signals

    d = load(spark, sf_dir, "documents").withColumn(
        "text",
        F.expr(
            "case when doc_id % 3 = 0 then replace(text, ' ', chr(10)) "
            "when doc_id % 3 = 1 then text || chr(10) || substring(text, 1, 30)"
            " || chr(10) || substring(text, 1, 30) "
            "else text end"
        ),
    )
    out = repetition_signals(d)
    return out.select(
        F.col("doc_id").cast("bigint"),
        "n_lines",
        F.round("dup_line_frac", 9).alias("dup_line_frac"),
        F.round("dup_line_char_frac", 9).alias("dup_line_char_frac"),
        F.round("top_bigram_frac", 9).alias("top_bigram_frac"),
        F.round("dup_trigram_frac", 9).alias("dup_trigram_frac"),
    )


QUERIES["repetition_signals"] = q_repetition_signals


_URL_DECOR = (
    "case when doc_id % 5 = 0 then 'HTTP://Host' || cast(doc_id % 7 as string)"
    " || '.Example.com:80/p/' || cast(doc_id as string) || '/' "
    "when doc_id % 5 = 1 then 'http://HOST' || cast((doc_id - 1) % 7 as string)"
    " || '.EXAMPLE.COM/p/' || cast(doc_id - 1 as string) "
    "when doc_id % 5 = 2 then 'https://host' || cast(doc_id % 7 as string)"
    " || '.example.com:443/p/' || cast(doc_id as string) || '#frag' "
    "when doc_id % 5 = 3 then 'ftp://Host' || cast(doc_id % 7 as string)"
    " || '.example.com:80/p/' || cast(doc_id as string) "
    "else 'https://host' || cast(doc_id % 7 as string) || '.example.com/p/'"
    " || cast(doc_id as string) || '//' end"
)


def q_url_dedup(spark, sf_dir):
    """Crawl URL canonicalization + first-occurrence dedup
    (operators/textanalysis.canonical_url_col / url_dedup). Decoration
    builds messy URL variants: %5==0 (upper-case scheme/host, :80, trailing
    slash) and %5==1 (case-mangled host, clean path for doc_id-1) CANONICALIZE
    IDENTICALLY -> adjacent-id duplicate pairs; %5==2 drops :443 + fragment;
    %5==3 (ftp) must KEEP its :80; %5==4 trims doubled trailing slashes."""
    from ..operators.textanalysis import url_dedup

    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_URL_DECOR).alias("url")
    )
    out = url_dedup(d)
    return out.select(
        F.col("doc_id").cast("bigint"),
        "canon_url",
        F.col("keep_id").cast("bigint"),
        "is_duplicate_url",
    )


QUERIES["url_dedup"] = q_url_dedup


# ---- round-5 additions ---------------------------------------------------


_BOILERPLATE_DECOR = (
    "text || chr(10) || 'COPYRIGHT 2025 CORPUS FOOTER' || chr(10) || "
    "case when doc_id % 2 = 0 then 'follow us on social media' "
    "else 'tail ' || cast(doc_id as string) end"
)
_BOILERPLATE_FRAC = 0.3


def q_boilerplate_removal(spark, sf_dir):
    """Corpus-level boilerplate-line removal (operators/textanalysis.
    remove_boilerplate — the cross-document generalization of the
    reference's per-file commoncrawl_dedupe pipe, clear_redundancy.py:
    172-190). Decoration plants a footer line in EVERY doc and a social
    line in half of them; at min_doc_frac=_BOILERPLATE_FRAC (0.3) both are
    boilerplate while each doc's unique lines (including the per-doc
    'tail N') survive."""
    from ..operators.textanalysis import remove_boilerplate

    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_BOILERPLATE_DECOR).alias("text")
    )
    out = remove_boilerplate(d, min_doc_frac=_BOILERPLATE_FRAC)
    return out.select(
        F.col("doc_id").cast("bigint"), "clean_text", "n_lines_removed"
    )


def q_quality_keep_full_gopher(spark, sf_dir):
    """Production composite with the Gopher repetition cuts AND'd into the
    keep decision (Rae et al. 2021 table A1: dup_line_frac <= 0.30,
    top_bigram_frac <= 0.18, dup_trigram_frac <= 0.30) — the point of
    repetition signals is the keep/drop cut, not a standalone table. Cuts
    compare the 9-dp-rounded fractions so the boolean is bit-identical
    cross-engine."""
    from ..operators.textanalysis import gopher_pass_col, repetition_signals

    base = q_quality_keep_full(spark, sf_dir).select("doc_id", "keep_full")
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    rep = repetition_signals(d)
    gp = gopher_pass_col()
    return base.join(rep, "doc_id").select(
        F.col("doc_id").cast("bigint"),
        F.round("dup_line_frac", 9).alias("dup_line_frac"),
        F.round("top_bigram_frac", 9).alias("top_bigram_frac"),
        F.round("dup_trigram_frac", 9).alias("dup_trigram_frac"),
        gp.alias("gopher_pass"),
        "keep_full",
        (F.col("keep_full") & gp).alias("keep_gopher"),
    )


def q_crawl_frontier_dedup(spark, sf_dir):
    """Canonical-URL dedup + per-host frontier rollup in one pass
    (operators/textanalysis.crawl_frontier_dedup): the dedup keys on
    high-cardinality canon_url, the host rollup on salted (host, salt) so a
    hot host never pins one reducer. Same messy-URL decoration as
    url_dedup."""
    from ..operators.textanalysis import crawl_frontier_dedup

    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_URL_DECOR).alias("url")
    )
    out = crawl_frontier_dedup(d)
    return out.select(
        "host",
        F.col("n_urls").cast("bigint"),
        F.col("n_dup").cast("bigint"),
        F.col("n_unique").cast("bigint"),
    )


QUERIES["boilerplate_removal"] = q_boilerplate_removal
QUERIES["quality_keep_full_gopher"] = q_quality_keep_full_gopher
QUERIES["crawl_frontier_dedup"] = q_crawl_frontier_dedup


# Shared-passage decoration for the span-dup gate query: the SAME ~115-char
# paragraph lands appended (doc_id%3==0) or PREPENDED (doc_id%3==1) — i.e.
# at a different character offset in every doc — so the query also proves
# the mod-p selection's alignment robustness (a stride-aligned windowing
# would find nothing here).
_SPAN_DECOR = (
    "case when doc_id % 3 = 0 then text || ' ' || "
    "'this promotional passage repeats verbatim across many pages of the"
    " crawl and span fingerprints must catch it at any offset' "
    "when doc_id % 3 = 1 then "
    "'this promotional passage repeats verbatim across many pages of the"
    " crawl and span fingerprints must catch it at any offset' || ' ' || text "
    "else text end"
)


def q_cross_doc_span_dup(spark, sf_dir):
    """Cross-document duplicate-span signal (operators/textanalysis.
    cross_doc_span_dup): Manber mod-p fingerprints of char 16-grams,
    doc-frequency >= 2 marks a span duplicated across documents — the
    substring-level modality between boilerplate lines and whole-doc
    MinHash (Lee et al. 2021 ExactSubstr motivation). Decoration plants one
    shared paragraph at a DIFFERENT offset per doc (append vs prepend)."""
    from ..operators.textanalysis import cross_doc_span_dup

    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_SPAN_DECOR).alias("text")
    )
    return cross_doc_span_dup(d).select(
        F.col("doc_id").cast("bigint"),
        "n_fingerprints",
        "n_dup_fingerprints",
        "dup_span_frac",
    )


QUERIES["cross_doc_span_dup"] = q_cross_doc_span_dup


_STRATUM_K = 3


def q_stratified_sample(spark, sf_dir):
    """Deterministic per-stratum quota sample (operators/sampling.
    stratified_sample): exactly min(3, |stratum|) docs per (source, lang)
    cell, ordered by md5-h60 of the id — the training-mix curation op
    (exact quotas + determinism, unlike Bernoulli sampleBy). The testdata
    strata span sizes 2-10, so both the k-capped and the
    smaller-than-k paths execute. Two-phase salted top-k inside the
    operator; the sampled set is provably identical to the naive
    single-window form the oracle expresses."""
    from ..operators.sampling import stratified_sample

    d = load(spark, sf_dir, "documents").select("doc_id", "source", "lang")
    return stratified_sample(d, ("source", "lang"), k=_STRATUM_K).select(
        "source",
        "lang",
        F.col("doc_id").cast("bigint"),
        F.col("sample_rank").cast("bigint"),
    )


QUERIES["stratified_sample"] = q_stratified_sample


# ---- round-6 additions ---------------------------------------------------

# Deterministic PII plants over the word-salad docs (the sf fixtures carry no
# real PII): ASCII phone + www-URL with CJK context (%5==0 — the reference's
# own ad fixture shape, test_filter.py:104), FULL-WIDTH phone (%5==1 — the
# \p{Nd} landmine: width-fold must mask it), 18-digit resident ID whose check
# char alternates X/digit (%5==2 — 'X' exercises the post-scrub lowercase
# path), https + bare-domain URLs (%5==3), and NO plant (%5==4 — empty
# pii_reasons). Both engines build the identical string.
_PII_PHONE_EXPR = (
    "'1' || cast(3 + doc_id % 7 as string)"
    " || lpad(cast(doc_id * 37 % 1000000000 as string), 9, '0')"
)
_PII_ID_EXPR = (
    "'11010119' || cast(90 + doc_id % 10 as string)"
    " || '0' || cast(1 + doc_id % 9 as string)"
    " || '1' || cast(doc_id % 10 as string)"
    " || lpad(cast(doc_id % 1000 as string), 3, '0')"
    # full-width Ｘ on even ids: exercises the PII fold's X arm (a real
    # full-width ID writes its check char full-width too; review finding)
    " || case when doc_id % 2 = 0 then 'Ｘ' else '7' end"
)
_PII_DECOR = (
    "text || case when doc_id % 7 = 0 then"
    f" ' 联系电话：' || {_PII_PHONE_EXPR} || '，访问www.promo'"
    " || cast(doc_id % 9 as string) || '.example.com了解详情'"
    " when doc_id % 7 = 1 then"
    f" ' 电话' || translate({_PII_PHONE_EXPR},"
    " '0123456789', '０１２３４５６７８９') || '句末'"
    " when doc_id % 7 = 2 then"
    f" ' 身份证' || {_PII_ID_EXPR} || '。'"
    # inner modulus 9 is coprime with the arm's 7 so decorated docs cycle
    # through promo0..promo8 hosts (an inner %7 inside the %7=3 arm is the
    # CONSTANT '3' — a silent single-host narrowing; review finding)
    " when doc_id % 7 = 3 then"
    " ' see https://promo' || cast(doc_id % 9 as string)"
    " || '.example.com/p/' || cast(doc_id as string)"
    " || ' or visit promo-site.cn today'"
    " when doc_id % 7 = 4 then"
    " ' 邮箱contact' || cast(doc_id % 9 as string) || '@mail'"
    " || cast(doc_id % 4 as string) || '.example-mail.com 了解更多'"
    " when doc_id % 7 = 5 then"
    " ' 服务器10.' || cast(doc_id % 200 as string) || '.'"
    " || cast(doc_id % 250 as string) || '.1在线'"
    " else '' end"
)


def q_pii_scrub(spark, sf_dir):
    """Regex PII scrub (operators/quality.pii_scrub) COMPOSED AFTER the
    byte-parity DFA scrub — the north-star 'regex-based PII scrub (phone,
    ID-number, URL)' (reference fixtures: test_filter.py:104,117 plant
    13917340054 / www.example.com; URL shape generalizes
    rule_filter.py:31), extended round 7 with the remaining Dolma classes
    (email, IPv4 — decoration arms %7==4/5 exercise both, incl. the
    email-before-URL ordering that keeps the bare-domain arm off an
    email's domain part). The DFA pass (real pandas UDF, EN_LEXICON trie)
    lowercases + star-masks first, exactly as in scrub_text; the PII pass
    is a pure native-Column projection on its output, so DFA byte-parity
    is untouched by construction. pii_reasons is array_join'd — the gate
    hash compares strings, not lists."""
    from ..operators.quality import pii_scrub

    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_PII_DECOR).alias("text")
    )
    bc = spark.sparkContext.broadcast(build_trie(EN_LEXICON))
    scrubbed = d.select(
        "doc_id", scrub_udf(bc)(F.col("text")).alias("scrubbed_text")
    )
    out = pii_scrub(scrubbed, "doc_id", "scrubbed_text")
    return out.select(
        F.col("doc_id").cast("bigint"),
        "pii_text",
        F.array_join("pii_reasons", ",").alias("pii_reasons"),
        "n_phone",
        "n_id_number",
        "n_url",
        "n_email",
        "n_ip",
    )


QUERIES["pii_scrub"] = q_pii_scrub


def q_media_dims(spark, sf_dir):
    """Multimodal header decode through the REAL pure-stdlib kernel
    (operators/multimodal.parse_image_dims inside the mapInPandas
    iterator): deterministic PNG/JPEG/GIF header blobs are synthesized
    from doc_id (sources/gen.image_blob_for — spec-conformant bytes), the
    kernel parses magic + pixel dimensions back out, and the oracle
    recomputes the dimensions from the shared doc_id formulas
    (gen.MEDIA_W/MEDIA_H) — so the row only matches if the byte-level
    parse is right. Pixel decode remains behind decode_image's
    NotImplementedError (codec libraries only)."""
    from ..operators.multimodal import media_dims
    from ..sources.gen import media_blob_udf

    d = load(spark, sf_dir, "documents").select("doc_id")
    blobs = d.withColumn("blob", media_blob_udf()(F.col("doc_id")))
    out = media_dims(blobs, "doc_id", "blob")
    return out.select(
        F.col("media_id").cast("bigint").alias("doc_id"),
        "magic",
        "width",
        "height",
    )


QUERIES["media_dims"] = q_media_dims


# ---- composed curation pipeline (round 6): decoration plants, on top of
# the word-salad corpus, every artifact each stage must act on —
#   * doc_id % 7 == 0  ->  one FIXED Chinese document (keeps at q=0.986,
#     carries a phone line) so the dedup stage sees a large exact-dup
#     group collapsing to the min-id representative;
#   * an ASCII footer on EVERY doc and a social line on evens -> corpus
#     boilerplate above the 0.3 doc-frac threshold;
#   * a bare phone line on doc_id % 5 (the bare number: '联系电话' itself
#     would zero the feature score) -> PII masking visible in clean_text.
# Shared verbatim with the DuckDB oracle (chr(10) and || are portable).
_CURATION_FIXED_SQL = " || chr(10) || ".join(
    f"'{ln}'"
    for ln in (
        "质量检验合格的中文正文第一行内容充实信息丰富结构完整表述清晰",
        "第二行继续提供真实有效的中文内容保证字符比例满足规则阈值要求",
        "第三行文字保持自然语言风格避免重复片段与广告词汇干扰评分",
        "客服热线13917340054随时致电第四行收尾用于精确重复检测样例",
    )
)
_CURATION_FOOTER = "'COPYRIGHT 2025 CORPUS FOOTER'"
_CURATION_DECOR = (
    f"case when doc_id % 7 = 0 then {_CURATION_FIXED_SQL}"
    f" || chr(10) || {_CURATION_FOOTER} "
    f"else text || chr(10) || {_CURATION_FOOTER} || chr(10) || "
    "case when doc_id % 2 = 0 then 'follow us on social media' "
    "else 'tail ' || cast(doc_id as string) end || "
    "case when doc_id % 5 = 0 then chr(10) || '13917340054' "
    "else '' end end"
)


def q_curation_total(spark, sf_dir):
    """The curation mega-pipeline composed as ONE plan (plans/curation.py):
    quality keep + DFA scrub + PII mask -> exact/near-dup dedup (gate pins
    the exact uncapped LSH form) -> corpus boilerplate removal over the
    masked text -> deterministic per-(source,lang) quota sample. Every
    stage is individually gated elsewhere; THIS row proves their
    composition — keep filtering feeds dedup on original text, survivors
    feed the boilerplate frequency pass, sampling ranks the cleaned rows.
    The oracle recomputes all four stages as one CTE chain."""
    from ..plans.curation import curation_run

    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_CURATION_DECOR).alias("text"), "source", "lang"
    )
    bc = d.sparkSession.sparkContext.broadcast(build_trie(EN_LEXICON))
    curated, _obs = curation_run(
        d,
        bc,
        dedup_cfg=_SMALL_MINHASH,
        strata=("source", "lang"),
        k_per_stratum=_STRATUM_K,
        max_band_bucket=None,
    )
    return curated.select(
        F.col("doc_id").cast("bigint"),
        "clean_text",
        F.col("n_lines_removed").cast("bigint"),
        "source",
        "lang",
        F.col("sample_rank").cast("bigint"),
    )


QUERIES["curation_total"] = q_curation_total


# v2 decoration: the v1 corpus plus a URL (the url_blocklist gate's own
# decoration, defined below) and one extra PER-DOC-UNIQUE C4 keeper line
# (terminal punct + >= 3 words; unique so the boilerplate stage cannot
# remove it first — v1's 'tail N' line is already the C4-reject case:
# unique, no terminal punct). Shared verbatim with the DuckDB oracle.
_CURATION_V2_TAIL = "'page ' || cast(doc_id as string) || ' end marker line.'"


def q_curation_v2(spark, sf_dir):
    """The round-7 curation composition (plans/curation.py with both
    opt-in stages): URL domain blocklist (stage 0, cheapest cut first) ->
    quality/scrub/PII -> dedup -> boilerplate removal -> C4 line cleanup
    -> stratified sample, as ONE plan. Beyond curation_total this row
    verifies that blocked docs never reach the text stages and that the
    C4 stage's line drops and page flags act on the BOILERPLATE-CLEANED
    text (the reject line vanishes from every surviving clean_text;
    min_lines_kept=1 because the decorated bodies are single-line)."""
    from ..plans.curation import curation_run

    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(f"({_CURATION_DECOR}) || chr(10) || {_CURATION_V2_TAIL}").alias(
            "text"
        ),
        F.expr(_BL_DECOR).alias("url"),
        "source",
        "lang",
    )
    bc = d.sparkSession.sparkContext.broadcast(build_trie(EN_LEXICON))
    curated, _obs = curation_run(
        d,
        bc,
        dedup_cfg=_SMALL_MINHASH,
        strata=("source", "lang"),
        k_per_stratum=_STRATUM_K,
        max_band_bucket=None,
        blocklist=_BLOCKLIST,
        c4_lines=True,
        c4_min_lines_kept=1,
    )
    return curated.select(
        F.col("doc_id").cast("bigint"),
        "clean_text",
        F.col("n_lines_removed").cast("bigint"),
        "source",
        "lang",
        F.col("sample_rank").cast("bigint"),
    )


QUERIES["curation_v2"] = q_curation_v2


def q_incremental_dedup(spark, sf_dir):
    """Incremental dedup of a NEW batch against a PERSISTED corpus signature
    index (operators/dedup.dedup_incremental) — the continuous-crawl shape:
    corpus = even doc_ids hashed once via with_minhash (at 100 TB this index
    is a table the increment probes map-side; the corpus crosses zero
    shuffles), new batch = odd doc_ids. The generator's near-dup families
    span consecutive ids, so cross-split matches exist by construction.
    Labels per new doc: (doc_id, is_duplicate, dup_of = min matching corpus
    id, n_corpus_matches, max_est_jaccard), plus the round-7 index-fold
    column ``in_index_after`` (dedup.fold_into_index): true iff the doc's
    signatures join the folded index — not a corpus dup AND the min-id
    representative of its batch-internal component. The oracle recomputes
    the internal components with the same recursive-CTE machinery as
    dedup_representatives, restricted to non-corpus-dup new docs."""
    d = load(spark, sf_dir, "documents")
    # localCheckpoint: dedup_incremental scans the index twice (band probe +
    # signature fetch); without materialization the corpus MinHash would
    # recompute per scan — the "hashed once" contract of a persisted index
    corpus_index = dedup.with_minhash(
        d.where("doc_id % 2 = 0"), _SMALL_MINHASH
    ).localCheckpoint(eager=True)
    new = d.where("doc_id % 2 = 1")
    out = dedup.dedup_incremental(new, corpus_index, _SMALL_MINHASH)
    _labels, new_index = dedup.fold_into_index(
        new, corpus_index, _SMALL_MINHASH, max_band_bucket=None
    )
    folded = new_index.where("doc_id % 2 = 1").select(
        F.col("doc_id").alias("id"), F.lit(True).alias("in_index_after")
    )
    return out.join(folded, "id", "left").select(
        F.col("id").cast("bigint").alias("doc_id"),
        "is_duplicate",
        F.col("dup_of").cast("bigint"),
        F.col("n_corpus_matches").cast("bigint"),
        F.round("max_est_jaccard", 9).alias("max_est_jaccard"),
        F.coalesce("in_index_after", F.lit(False)).alias("in_index_after"),
    )


QUERIES["incremental_dedup"] = q_incremental_dedup


def q_ppl_buckets(spark, sf_dir):
    """CCNet head/middle/tail perplexity partitioning (operators/perplexity.
    ppl_buckets, Wenzek et al. 2020): per-language tertile cutoffs on the
    2-dp ppl histogram with integer-exact cumulative arithmetic, labels via
    a broadcast cutoff join. Subsumes ngram_perplexity's surface: the same
    trigram self-model and scorer chain, with (doc_id, ppl@2dp,
    neg_avg_log2p@7dp) a column subset of this output."""
    docs = load(spark, sf_dir, "documents")
    out = perplexity.ppl_buckets(docs)
    return out.select(
        F.col("doc_id").cast("bigint"),
        "lang",
        "ppl",
        F.round("neg_avg_log2p", 7).alias("neg_avg_log2p"),
        "ppl_bucket",
        "t_head",
        "t_middle",
    )


QUERIES["ppl_buckets"] = q_ppl_buckets


_BL_DECOR = (
    "case when doc_id % 6 = 0 then 'https://ads.example.com/x/' || cast(doc_id as string) "
    "when doc_id % 6 = 1 then 'https://tracker.host' || cast(doc_id % 7 as string)"
    " || '.example.com/y/' || cast(doc_id as string) "
    "when doc_id % 6 = 2 then 'https://host' || cast(doc_id % 7 as string)"
    " || '.example.com/p/' || cast(doc_id as string) "
    "when doc_id % 6 = 3 then 'HTTPS://ADS.EXAMPLE.COM:443/u/' || cast(doc_id as string) "
    "when doc_id % 6 = 4 then 'https://badsite' || cast(doc_id % 5 as string)"
    " || '.org/z/' || cast(doc_id as string) "
    "else 'not a url ' || cast(doc_id as string) end"
)

_BLOCKLIST = ["ads.example.com", "host3.example.com", "badsite1.org"]


def q_url_blocklist(spark, sf_dir):
    """UT1-style domain blocklist filter (operators/textanalysis.
    url_blocklist_filter). Decoration: %6==0 exact blocklist host; %6==1
    blocked only via PARENT-suffix when doc_id%7==3 (tracker.host3...);
    %6==2 exact host3 when doc_id%7==3, clean otherwise; %6==3 upper-case
    scheme/host + :443 port must still block; %6==4 blocked only when
    doc_id%5==1 (badsite1.org; %5 is coprime to 6 so the branch exercises
    BOTH outcomes — clean badsite{0,2,3,4}.org rows pin that a bare .org
    TLD suffix matches nothing); %6==5 malformed URL -> NULL host, never
    blocked (try_parse_url tolerance)."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_BL_DECOR).alias("url")
    )
    out = textanalysis.url_blocklist_filter(docs, _BLOCKLIST)
    return out.select(
        F.col("doc_id").cast("bigint"), "host", "blocked_domain", "is_blocked"
    )


QUERIES["url_blocklist"] = q_url_blocklist


_C4_TOKS = "split(text, ' ')"
# six deterministic lines per doc: two sliced keepers, a CJK-terminal
# keeper, a min-words reject, a no-terminal-punct reject, and a %4 page
# variant (lorem-ipsum / brace / javascript-line / clean)
_C4_DECOR = (
    "concat_ws(chr(10), "
    f"array_join(slice({_C4_TOKS}, 1, 4), ' ') || ' end.', "
    f"array_join(slice({_C4_TOKS}, 5, 4), ' ') || ' tail!', "
    "'中文 行 结束 。', "
    "'too short.', "
    f"array_join(slice({_C4_TOKS}, 9, 3), ' '), "
    "case cast(doc_id % 4 as int) when 0 then 'has lorem ipsum mark.' "
    "when 1 then 'brace { marker here.' "
    "when 2 then 'enable javascript now please.' "
    "else 'extra fine sentence here.' end)"
)


def q_c4_line_filter(spark, sf_dir):
    """C4-style line-level cleanup (operators/textanalysis.c4_line_filter,
    Raffel et al. 2020): terminal-punctuation line keep (CJK marks
    included), min-words-per-line, page flags for lorem-ipsum / brace /
    too-few-kept-lines. Decoration: %4==0 poisoned by 'lorem ipsum',
    %4==1 by '{' (its brace line still passes the LINE filter — page-level
    rejection only), %4==2 loses its javascript line to the line filter
    (3 keepers left -> page_keep true), %4==3 clean with 4 keepers."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_C4_DECOR).alias("text")
    )
    out = textanalysis.c4_line_filter(d)
    return out.select(
        F.col("doc_id").cast("bigint"),
        "clean_text",
        F.col("n_lines").cast("bigint"),
        F.col("n_lines_kept").cast("bigint"),
        "page_keep",
    )


QUERIES["c4_line_filter"] = q_c4_line_filter


def q_pack_sequences(spark, sf_dir):
    """Sequence packing / token-budget sharding (operators/sampling.
    pack_sequences): global cumulative token counts over the (h60(id), id)
    order via the two-phase bucket-prefix form (no global sort); shard
    span + offset per doc in pure bigint arithmetic. Token counts are the
    CJK-aware default (one token per CJK ideograph + whitespace words over
    the residue — sampling.token_count_sql); the oracle recomputes the
    same count per-codepoint and applies the naive single-window spec the
    two-phase form provably equals."""
    from ..operators.sampling import pack_sequences

    out = pack_sequences(
        load(spark, sf_dir, "documents"), budget=512, n_buckets=16
    )
    return out.select(
        F.col("doc_id").cast("bigint"),
        "n_tokens",
        "cum_tokens",
        "shard_first",
        "shard_last",
        "offset_in_shard",
    )


QUERIES["pack_sequences"] = q_pack_sequences


# Deterministic class markers for the learned-classifier gate query: the
# documents table is unlabeled word-salad, so labels are synthesized from
# doc_id parity and each class gets a distinctive appended char pattern the
# hashed-3-gram model must LEARN to separate (the oracle re-learns the same
# weights relationally — the whole train+score path is verified, not just
# a fixed dot product).
_CLF_GOOD_MARK = "新闻报道内容研究分析结果表明该页面质量良好可供训练使用"
_CLF_SPAM_MARK = "点击进入赌场发票代开中奖彩票立即下载安装注册领取红包"
_CLF_DECOR = (
    f"text || case when doc_id % 2 = 1 then ' {_CLF_GOOD_MARK}' "
    f"else ' {_CLF_SPAM_MARK}' end"
)
_CLF_BUCKETS = 4096


def q_quality_classifier(spark, sf_dir):
    """Learned quality classifier (operators/classifier.py): Naive-Bayes
    log-odds weights over hashed char 3-grams (md5-h60 pmod 4096) trained
    IN-QUERY on the parity-labeled decoration, then the exact-decimal
    margin scorer. Verifies the full supervised path end-to-end: feature
    hashing, closed-form training, broadcast-join scoring. The iterative
    logistic trainer shares every relational kernel with this path and is
    pytest-verified on held-out accuracy (tests/test_classifier.py)."""
    from ..operators.classifier import classifier_score, nb_logodds_weights

    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(_CLF_DECOR).alias("text"),
        (F.col("doc_id") % 2 == 1).alias("label"),
    )
    w = nb_logodds_weights(d, n_buckets=_CLF_BUCKETS)
    out = classifier_score(d, w, n_buckets=_CLF_BUCKETS)
    # classifier_score returns the slim labels frame (text never enters a
    # shuffle); the parity label re-derives from the id, no join needed
    return out.select(
        F.col("id").cast("bigint").alias("doc_id"),
        (F.col("id") % 2 == 1).alias("label"),
        F.col("margin").cast("decimal(38,6)").alias("margin"),
        "clf_keep",
    )


QUERIES["quality_classifier"] = q_quality_classifier


def q_source_mix(spark, sf_dir):
    """Temperature-weighted source mixing (operators/sampling.source_mix):
    the GPT-3/Pile/mT5 "data recipe" stage — p_s = min(1, budget * n_s^0.5
    / (sum_w * n_s)) with a deterministic h60 keep decision. The fixture's
    source column is uniform, so the query derives a SKEWED source from
    doc_id (one 400-doc head, three ~32-doc rares — both engines derive
    the same) to exercise the flattening + the p=1 clamp on both sides of
    the temperature. Weight arithmetic is the dyadic-sqrt integer-domain
    form (bit-identical across engines; no pow, no float sum)."""
    from ..operators.sampling import source_mix

    d = load(spark, sf_dir, "documents").withColumn(
        "mix_source",
        F.expr("concat('s', cast(least(doc_id % 16, 3) as string))"),
    )
    out = source_mix(
        d, budget=200, alpha=0.5, source_col="mix_source", id_col="doc_id"
    )
    return out.select(
        F.col("doc_id").cast("bigint"),
        "mix_source",
        F.col("mix_n").cast("bigint"),
        F.round("mix_rate", 9).alias("mix_rate"),
        "sampled",
    )


def q_hash_split(spark, sf_dir):
    """Deterministic train/valid/test assignment by content hash
    (operators/sampling.hash_split): bucket = h60('split|' || id) mod 100
    against cumulative 90/5/5 bounds — pure integer arithmetic, stable
    under corpus growth (a doc's split never moves when other docs are
    added/removed; the anti-leakage property randomSplit lacks)."""
    from ..operators.sampling import hash_split

    out = hash_split(
        load(spark, sf_dir, "documents"),
        weights=(("train", 90), ("valid", 5), ("test", 5)),
    )
    return out.select(F.col("doc_id").cast("bigint"), "split")


QUERIES["source_mix"] = q_source_mix
QUERIES["hash_split"] = q_hash_split


# Domain-quality decoration: five synthesized hosts with engineered bad
# rates plus the parser edge cases. %11==3 malformed (NULL host, never
# flagged); %5==3 UPPERCASE scheme/host + trailing FQDN dot + :8443 port
# (must normalize to s3.example.cn and aggregate/join under it); %5==4 a
# distinct rare<doc_id> host per doc (below min_docs even when bad);
# %5 in {0,1,2} plain hosts s0/s1/s2.
_DQ_DECOR = (
    "case when doc_id % 11 = 3 then 'not a url ' || cast(doc_id as string) "
    "when doc_id % 5 = 3 then 'HTTPS://S3.Example.CN.:8443/p/' || cast(doc_id as string) "
    "when doc_id % 5 = 4 then 'https://rare' || cast(doc_id as string) || '.example.cn/q' "
    "else 'https://s' || cast(doc_id % 5 as string) || '.example.cn/r/' || cast(doc_id as string) end"
)
# bad rates by host: s0/s1/s3 100 % (flagged), s2 ~14 % (doc_id%7 only,
# stays under the 50 % bar), rare* 100 % but n=1 < min_docs.
_DQ_BAD = "doc_id % 7 = 0 or doc_id % 5 <= 1 or doc_id % 5 = 3"


def q_domain_quality(spark, sf_dir):
    """Domain-level quality filter (operators/textanalysis.
    domain_quality_filter): flag WHOLE hosts whose bad-doc fraction
    strictly exceeds max_bad_pct with at least min_docs docs — the
    RefinedWeb/FineWeb content-farm cut. Pure-integer decision
    (n_bad*100 > n*pct on bigint counts; no float ratio to diverge
    between engines). Decoration per _DQ_DECOR: s0/s1 flagged plain,
    s3 flagged THROUGH host normalization (uppercase + trailing dot +
    port), s2 under the bar, rare hosts under min_docs, malformed URLs
    NULL-host and never flagged."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_DQ_DECOR).alias("url")
    )
    out = textanalysis.domain_quality_filter(
        docs, bad_expr=_DQ_BAD, min_docs=5, max_bad_pct=50
    )
    return out.select(
        F.col("doc_id").cast("bigint"),
        "host",
        F.col("domain_n").cast("bigint"),
        F.col("domain_bad").cast("bigint"),
        "domain_flagged",
    )


QUERIES["domain_quality"] = q_domain_quality


_SEMDEDUP_TAU = 0.3


def q_semdedup(spark, sf_dir):
    """SemDeDup semantic pruning (operators/similarity.semdedup — Abbas
    et al. 2023): cluster by embedding, drop items whose cosine to an
    EARLIER same-cell item reaches tau. Gate form: deterministic
    lowest-id-seed cells (the gated ivf machinery) and tau=0.3 — the
    synthetic embeddings are near-orthogonal (max pairwise cos ~0.49,
    median max-prior ~0.28), so 0.3 exercises keep=true, keep=false AND
    the NULL first-of-cell arm; near-1.0 duplicate planting is covered
    in tests/test_semdedup.py, the kmeans_fit production path there
    too."""
    out = _sim.semdedup(load(spark, sf_dir, "embeddings"), tau=_SEMDEDUP_TAU)
    return out.select(
        F.col("vec_id").cast("bigint"),
        F.col("cell").cast("bigint"),
        F.round("max_prior_cos", 6).alias("max_prior_cos"),
        "semdedup_keep",
    )


QUERIES["semdedup"] = q_semdedup


# paragraph_dedup decoration: a promo block shared by every doc_id % 7
# cohort (~1/7 of the corpus each — only the h60-first occurrence
# survives), a newsletter line in every third doc, and a per-doc unique
# tail that must never be dropped. Shared verbatim with the DuckDB oracle.
_PARA_DECOR = (
    "text || chr(10) || 'shared promo block ' || cast(doc_id % 7 as string)"
    " || chr(10) || case when doc_id % 3 = 0 then"
    " 'subscribe to our newsletter today' else 'unique tail ' ||"
    " cast(doc_id as string) end"
)


def q_paragraph_dedup(spark, sf_dir):
    """Corpus-wide exact paragraph dedup (operators/textanalysis.
    paragraph_dedup — MassiveText §A1.2 / Dolma): every paragraph keeps
    only its first occurrence in (h60(id), id, idx) corpus order. The
    decoration (_PARA_DECOR) plants cross-doc duplicate paragraphs at two
    frequencies plus an undroppable unique tail; the generated corpus's
    own duplicate families add naturally-colliding base paragraphs on
    top. Text bodies never key a shuffle (slim hash rows decide, a
    map-side filter rebuilds)."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_PARA_DECOR).alias("text")
    )
    out = textanalysis.paragraph_dedup(d)
    return out.select(
        F.col("doc_id").cast("bigint"),
        "text",
        F.col("n_paras").cast("bigint").alias("n_paras"),
        F.col("n_dropped").cast("bigint").alias("n_dropped"),
    )


QUERIES["paragraph_dedup"] = q_paragraph_dedup


_DSIR_K = 100
_DSIR_BUCKETS = 4096


def q_dsir_select(spark, sf_dir):
    """DSIR importance resampling (operators/selection.dsir_select — Xie
    et al. 2023): raw corpus = documents, target = the doc_id % 17 == 0
    subset; hashed char-3-gram log-ratio weights (the gated NB log-odds
    arithmetic with target/raw as the classes), exact-decimal per-doc
    log-weights (the gated classifier margin), deterministic Gumbel
    top-``_DSIR_K`` over (h60-derived uniform, fixed per-doc op order). The
    oracle recomputes the full chain including the two-window-free rank
    (its single row_number equals the Spark two-phase form because min-k
    of a total order is associative)."""
    from ..operators import selection

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    target = docs.where("doc_id % 17 = 0")
    out = selection.dsir_select(
        docs, target, k=_DSIR_K, n_buckets=_DSIR_BUCKETS
    )
    return out.select(
        F.col("doc_id").cast("bigint"),
        F.col("logw").cast("decimal(38,6)").alias("logw"),
        F.round("gumbel_key", 6).alias("gumbel_key"),
        F.col("sel_rank").cast("bigint").alias("sel_rank"),
    )


QUERIES["dsir_select"] = q_dsir_select


_BPE_TOP = 25


def q_bpe_pair_counts(spark, sf_dir):
    """One BPE merge iteration's statistics (operators/tokenizer.py —
    Sennrich et al. 2016): whitespace-token vocabulary (explicit ASCII
    class, the Java/RE2 \\s split rule) -> freq-weighted adjacent
    symbol-pair counts -> top-25 by (cnt desc, left, right). The
    iterative trainer (bpe_train) is not SQL-expressible (each argmax
    feeds the next iteration's expression) and is differential-tested
    against a driver-side reference BPE in tests/test_bpe.py; this gates
    its per-iteration kernel end-to-end. Rank assignment runs on 25 rows
    (orderBy+limit => TakeOrdered, then a bounded window)."""
    from ..operators import tokenizer

    v = tokenizer.bpe_vocab(load(spark, sf_dir, "documents"))
    top = (
        tokenizer.bpe_pair_counts(v)
        .orderBy(F.col("cnt").desc(), F.col("left").asc(), F.col("right").asc())
        .limit(_BPE_TOP)
    )
    from pyspark.sql.window import Window

    w = Window.orderBy(
        F.col("cnt").desc(), F.col("left").asc(), F.col("right").asc()
    )
    return top.select(
        "left",
        "right",
        F.col("cnt").cast("bigint").alias("cnt"),
        F.row_number().over(w).cast("bigint").alias("rank"),
    )


QUERIES["bpe_pair_counts"] = q_bpe_pair_counts


_BM25_K = 25


def q_bm25_topk(spark, sf_dir):
    """BM25 ranked retrieval (operators/retrieval.py, Robertson & Zaragoza
    2009; Lucene's positive-idf form): top-25 docs for a three-term query
    over the corpus. The single-query zero-wide-shuffle path — per-term tf
    and dl map-side from the token array, one-row corpus statistics
    broadcast back, TakeOrdered top-k. Every per-term contribution is
    quantized to decimal(18,6) before the fixed-order sum (the
    classifier-margin doctrine), so score, the match filter, and the
    (score desc, doc_id) rank are bit-identical cross-engine. The batch
    path (bm25_topk_batch) is pinned bit-equal to this one in
    tests/test_retrieval.py."""
    from ..operators import retrieval

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    out = retrieval.bm25_topk(d, ["spark", "customer", "vector"], k=_BM25_K)
    return out.select(
        F.col("doc_id").cast("bigint"),
        F.col("score").cast("decimal(18,6)").alias("score"),
        F.col("rank").cast("bigint").alias("rank"),
    )


QUERIES["bm25_topk"] = q_bm25_topk


# Decorations for the unicode_normalize gate: one arm per normalization
# axis (full-width fold / combining-mark composition), one arm untouched.
# Spelled with escapes so the source stays editor-safe; the oracle embeds
# the SAME constants (imported from here).
_UNORM_WIDTH = (
    " Ｗｉｄｔｈ：１２３！　ok"
)  # " Ｗｉｄｔｈ：１２３！　ok"
_UNORM_MARKS = " café dejà vu"  # combining acute/grave


def q_unicode_normalize(spark, sf_dir):
    """Unicode canonicalization (functions/unicode_norm.py): full-width →
    ASCII fold (native translate over the FF01–FF5E block + U+3000, the
    NFKC mapping for that block) then NFC composition (Arrow pandas UDF —
    Spark has no built-in normalizer). Decoration puts both axes on the
    corpus: doc_id%3==0 appends full-width letters/digits/punct +
    ideographic space (fold changes them, same char count), %3==1 appends
    decomposed combining sequences (NFC composes them, char count drops),
    else untouched (changed=false arm). The oracle recomputes natively as
    nfc_normalize(translate(...)) — utf8proc NFC vs Python unicodedata
    NFC pinned equal on real composition work."""
    from ..functions import unicode_norm as _un

    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 3 == 0, F.lit(_UNORM_WIDTH))
            .when(F.col("doc_id") % 3 == 1, F.lit(_UNORM_MARKS))
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    out = _un.normalize_text(d)
    return out.select(
        F.col("doc_id").cast("bigint"),
        "norm_text",
        F.length("text").cast("bigint").alias("n_before"),
        F.length("norm_text").cast("bigint").alias("n_after"),
        (F.col("norm_text") != F.col("text")).alias("changed"),
    )


QUERIES["unicode_normalize"] = q_unicode_normalize


# Planted eval passage for the decontaminate_remove gate (10 tokens -> 3
# 8-grams); imported by the DuckDB oracle so both engines decorate alike.
_DECON_PASSAGE = "alpha beta gamma delta epsilon zeta eta theta iota kappa"


def q_decontaminate_remove(spark, sf_dir):
    """Decontamination REMOVAL form (textanalysis.decontaminate_remove,
    GPT-3 appendix C token-space variant): contaminated spans are cut out
    (mask = matched 8-gram starts expanded by pad=2 tokens, unioned),
    text rebuilt from surviving tokens. Decoration arms: doc_id%13==0
    truncated to 3 tokens (short-doc path), %97==0 joins the eval set
    with the planted passage appended (self-match -> full mask), %29==0
    gets the passage SPLICED after its first five tokens (partial mask,
    pad eats two salad tokens each side), everyone else untouched. The
    oracle recomputes the whole rewrite relationally (gram hashes ->
    range-mask via EXISTS -> lag-window span runs -> ordered string_agg);
    cleaned_text is compared byte-exact."""
    from ..operators.textanalysis import decontaminate_remove

    p = _DECON_PASSAGE
    s = F.split(F.col("text"), " ")
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 13 == 0,
            F.array_join(F.slice(s, 1, 3), " "),
        )
        .when(F.col("doc_id") % 97 == 0, F.concat(F.col("text"), F.lit(" " + p)))
        .when(
            (F.col("doc_id") % 29 == 0) & (F.size(s) >= 6),
            F.concat(
                F.array_join(F.slice(s, 1, 5), " "),
                F.lit(" " + p + " "),
                F.array_join(
                    F.expr("slice(split(text, ' '), 6, size(split(text, ' ')) - 5)"),
                    " ",
                ),
            ),
        )
        .when(F.col("doc_id") % 29 == 0, F.concat(F.col("text"), F.lit(" " + p)))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    bench = d.where(F.col("doc_id") % 97 == 0)
    out = decontaminate_remove(d, bench, n=_DECON_N, pad=2)
    return out.select(
        F.col("doc_id").cast("bigint"),
        "cleaned_text",
        F.col("n_matches").cast("bigint"),
        F.col("n_spans_removed").cast("bigint"),
        F.col("n_tokens_removed").cast("bigint"),
        "contaminated",
    )


QUERIES["decontaminate_remove"] = q_decontaminate_remove


# The driver's correctness gate snapshots the FIRST 50 catalog entries; the
# local replica (tests/test_oracle_parity.py) runs all of them. This reorder
# is the LAST statement touching QUERIES (CLAUDE.md invariant: every distinct
# operator's query stays inside the first 50; new queries displace a
# redundant one into the tail, or go to the tail themselves if subsumed).
# Tail entries and what subsumes each:
#   quality_keep           -> quality_keep_full (D1/D3/D4 superset)
#   ngram_jaccard_pairs    -> ngram_jaccard_candidates (same metric, prod form)
#   minhash_signatures     -> dedup_minhash_pairs (consumes the signatures)
#   lsh_band_keys          -> dedup_minhash_pairs (consumes the band keys)
#   simhash                -> simhash_near_dup_pairs (consumes the signatures)
#   ann_lsh_buckets        -> ann_topk_lsh (consumes the buckets; since
#                             ann_topk_lsh's own round-7 demotion, the
#                             chain terminates in ivf_topk +
#                             simhash_near_dup_pairs — see that entry)
#   ivf_cells              -> ivf_topk (consumes the cells)
#   ngram_lm_train         -> ngram_lm_train_pruned (+ ppl_buckets, which
#                             consumes the trained counts via its scorer)
#   dedup_tokens           -> dedup_lines (same first-occurrence J4 kernel)
#   segment_sample         -> ppl_preprocess (same P7 sampling kernel)
# round-5 demotions (admitting repetition_signals, url_dedup, and the three
# round-5 operators into the window):
#   doc_length_histogram   -> quality_stats_rollup (length-shape diagnostics
#                             subsumed by its grouped char stats)
#   embedding_near_dup_pairs -> embedding_cluster_score (duplicate_ratio
#                             consumes the same exact-cosine pair kernel and
#                             reports dup_ratio per vector)
# round-5 late demotion (admitting stratified_sample into the window):
#   dedup_exact            -> dedup_representatives (the md5-keyed exact
#                             pass is its FIRST PHASE — exact-duplicate
#                             groups surface as components and their
#                             members as is_duplicate rows; the standalone
#                             query re-checks the same hash-groupBy kernel
#                             the pipeline's gated row already executes)
# round-6 demotion (admitting pii_scrub into the window):
#   host_rollup            -> crawl_frontier_dedup (the identical salted
#                             (key, salt) partial + merge two-phase rollup
#                             kernel, keyed on the same synthesized hosts —
#                             the frontier query additionally exercises the
#                             canonicalization + dedup stage in front of it)
# round-6 demotions (admitting media_dims and curation_total):
#   binary_meta            -> media_dims (same opaque-binary metadata
#                             contract, but through the REAL mapInPandas
#                             kernel over real header bytes with a parsed-
#                             dimensions check; binary_meta's n_bytes/md5
#                             are native exprs the other 49 rows exercise
#                             constantly)
#   stratified_sample      -> curation_total (final stage IS the same
#                             operator at the same k=3 quota over the same
#                             (source, lang) strata and h60-of-id order —
#                             now fed by the composed pipeline instead of
#                             the raw table, which additionally proves the
#                             sampler on a derived, filtered input)
# round-6 late demotion (admitting incremental_dedup into the window):
#   url_dedup              -> crawl_frontier_dedup (same canonical_url_col
#                             kernel + min-id first-occurrence dedup over
#                             the SAME messy-URL decoration; the frontier
#                             query's per-host n_dup/n_unique counts are
#                             functions of the canon_url equivalence
#                             classes, and it additionally exercises the
#                             salted rollup behind them; per-row canon
#                             strings stay verified in the local replica)
# round-6 late demotion (admitting ppl_buckets into the window):
#   ngram_perplexity       -> ppl_buckets (the identical trigram self-model
#                             + perplexity_relational scorer chain; its
#                             full output (doc_id, ppl@2dp,
#                             neg_avg_log2p@7dp) is a column SUBSET of
#                             ppl_buckets' gated output, which additionally
#                             verifies the CCNet tertile cutoffs and labels)
# round-6 late demotion (admitting url_blocklist into the window):
#   cosine_topk            -> embedding_cluster_score (the same exact
#                             all-pairs cosine kernel — norms, dot product,
#                             self-pair exclusion — feeds its dup_ratio) +
#                             ann_topk_lsh / ivf_topk (the same per-vector
#                             rank-over-cosine top-k, in the production
#                             ANN forms; cosine_topk is the labeled
#                             oracle-spec brute-force twin and stays
#                             verified per-row in the local replica)
# round-6 late demotion (admitting c4_line_filter into the window):
#   token_stats            -> its three columns are the native
#                             split/size/aggregate-lambda kernels the
#                             window exercises constantly: n_tokens is
#                             langid_stopwords' column of the same name
#                             (same split), distinct/array counting runs
#                             inside repetition_signals and vocab_topk,
#                             and the aggregate-lambda length arithmetic
#                             is rule_avg_line_length's kernel; per-row
#                             values stay verified in the local replica
# round-6 late demotion (admitting pack_sequences into the window):
#   fingerprint_winnow     -> cross_doc_span_dup (the same char-n-gram
#                             md5-h60 fingerprint kernel with a selection
#                             rule — winnow keeps bottom-1, Manber keeps
#                             mod-p == 0; span_dup is the strictly richer
#                             exercise: multi-fingerprint per doc plus the
#                             cross-doc df>=2 join; per-row bottom-1
#                             values stay verified in the local replica)
# round-7 demotions (admitting quality_classifier and curation_v2):
#   curation_total         -> curation_v2 (the SAME six-stage chain with
#                             stage 0 URL blocklist and stage 3.5 C4 line
#                             cleanup spliced in — the v2 oracle is the v1
#                             CTE chain with those two fragments added, so
#                             every v1 stage is executed and verified
#                             inside v2; identical output columns; the v1
#                             form stays verified per-row in the local
#                             replica)
#   dedup_minhash_pairs    -> dedup_representatives + incremental_dedup
#                             (representatives' gated components are the
#                             connected components OF this pair surface —
#                             its recursive-CTE oracle recomputes the same
#                             shingle/signature/band CTEs and the same
#                             candidate join; incremental_dedup gates the
#                             slot-agreement est_jaccard arithmetic per
#                             pair via max_est_jaccard on the cross-split
#                             pair subset; per-pair est values on the full
#                             surface stay verified in the local replica)
# round-7 late demotions (admitting source_mix and hash_split):
#   vocab_topk             -> ngram_lm_train_pruned (the identical
#                             explode-tokens -> hash-agg count kernel, on
#                             the strictly richer n-gram-context key with
#                             the min_count prune on top) + ann_topk_lsh /
#                             ivf_topk (the same rank-over-window top-k
#                             selection); per-token counts/ranks stay
#                             verified in the local replica
#   quality_percentiles    -> ppl_buckets (the distribution-cutoff
#                             primitive in its scale-correct form:
#                             integer-exact tertile cutoffs over a bigint
#                             histogram instead of interpolated
#                             percentile() over raw rows) + quality_keep_
#                             full (gates the composite score the
#                             percentiles are taken over); the R-7
#                             interpolation twin stays verified in the
#                             local replica
# round-7 late demotion (admitting bpe_pair_counts into the window):
#   langid_stopwords       -> extract_is_zh gates the production language
#                             decision (the reference's is_zh gate, J1/P5
#                             — the one the pipeline actually consumes);
#                             the stopword-profile argmax is the engine's
#                             beyond-reference relational diagnostic whose
#                             membership-count kernel (size(filter(toks,
#                             in set))) also runs inside c4_line_filter's
#                             gated filter lambdas; per-row predictions
#                             stay verified in the local replica
# round-7 late demotion (admitting dsir_select into the window):
#   embedding_cluster_score -> its two kernels each stay gated: the exact
#                             per-vector max-cosine (duplicate_ratio) is
#                             semdedup's max_prior_cos arithmetic (same
#                             _dot fold, same max agg — semdedup gates it
#                             per cell over the SAME vectors) and
#                             quality_keep_full_ann gates the banded
#                             cluster-score case-expr composed into the
#                             production composite; per-row banded scores
#                             stay verified in the local replica
# round-7 late demotion (admitting decontaminate_remove into the window):
#   decontaminate_overlap  -> decontaminate_remove's first phase IS the
#                             detect kernel (same md5-h60 token-8-gram
#                             hashing, same benchmark gram-set build on
#                             the same %97 eval split incl. the %13
#                             short-doc truncation arm; its contaminated
#                             flag == n_matches > 0 is a column of the
#                             removal gate); per-doc overlap COUNTS
#                             (n_overlap counts distinct grams, n_matches
#                             counts match positions) stay verified in
#                             the local replica, and the zero-shuffle
#                             bloom twin keeps its own differential suite
# round-7 late demotion (admitting unicode_normalize into the window):
#   repetition_signals     -> quality_keep_full_gopher runs the SAME
#                             operator (textanalysis.repetition_signals)
#                             on the same corpus and gates its
#                             dup_line/top_bigram/dup_trigram fractions
#                             at the same 9-dp rounding, composed into
#                             the production keep cut (the point of the
#                             signals); the standalone query's decoration
#                             arms, n_lines, and dup_line_char_frac stay
#                             verified in the local replica
# round-7 late demotion (admitting bm25_topk into the window):
#   ann_topk_lsh           -> the second of two ANN top-k gates in the
#                             window; its two kernels each stay gated:
#                             the within-bucket exact-cosine + (cos desc,
#                             id) rank via ivf_topk (same _dot fold, same
#                             rank window, same vectors — only the
#                             bucketing differs), and the random-
#                             hyperplane sign-bit hashing via
#                             simhash_near_dup_pairs (the same sign-bit
#                             plane arithmetic over hashed-gram vectors);
#                             per-row RP-LSH neighbors stay verified in
#                             the local replica
_GATE_TAIL = [
    "decontaminate_overlap",
    "repetition_signals",
    "ann_topk_lsh",
    "langid_stopwords",
    "embedding_cluster_score",
    "vocab_topk",
    "quality_percentiles",
    "curation_total",
    "dedup_minhash_pairs",
    "ngram_perplexity",
    "cosine_topk",
    "token_stats",
    "fingerprint_winnow",
    "url_dedup",
    "stratified_sample",
    "binary_meta",
    "host_rollup",
    "dedup_exact",
    "quality_keep",
    "ngram_jaccard_pairs",
    "minhash_signatures",
    "lsh_band_keys",
    "simhash",
    "ann_lsh_buckets",
    "ivf_cells",
    "ngram_lm_train",
    "dedup_tokens",
    "segment_sample",
    "doc_length_histogram",
    "embedding_near_dup_pairs",
]
assert set(_GATE_TAIL) <= set(QUERIES)
_reordered = {k: v for k, v in QUERIES.items() if k not in _GATE_TAIL}
_reordered.update({k: QUERIES[k] for k in _GATE_TAIL})
QUERIES.clear()
QUERIES.update(_reordered)
del _reordered
