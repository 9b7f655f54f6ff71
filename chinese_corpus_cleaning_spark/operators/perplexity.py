"""Distributed n-gram LM training + perplexity scoring.

Training (SURVEY.md §2.7 A2): explode (context, word) n-grams relationally ->
groupBy(context, word).count() — Spark's partial+final hash aggregation does
the heavy lifting; the model table is tiny relative to the corpus.

Scoring (relational): explode the document's n-grams, broadcast-join the
counts table, Lidstone-smooth, agg log2 probs per doc — fully
oracle-checkable and shuffle-light (model side broadcast). It reproduces the
arithmetic of the reference's recovered NgramModel (SURVEY.md §2.9):
P = (c+α)/(C+α|V|), ppl = 2^(−mean log2 P), log floor −100.

Tokenization is whitespace-delimited (split natively). For raw Chinese text,
pre-tokenize with functions/ngram_lm.tokenize (jieba when available,
CJK-per-char fallback) and space-join BEFORE training/scoring — the CLI
'train' path (api.train_models) does exactly this; feeding unsegmented
text directly makes every document one giant token and scores everything
at the smoothing floor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.ngram_lm import BOS, EOS, LIDSTONE_ALPHA, LOG_FLOOR
from ..functions.ngram_lm import PPL_MAX, PPL_THRESHOLD

_SEP = "\x1f"  # context-token joiner inside the flat model table
# the relational LM's n-gram order (trigrams), shared with the DuckDB oracles
LM_ORDER = 3


def _padded_tokens_expr(text_col: str, n: int) -> str:
    """Native expr for the padded whitespace token array
    (<s>*(n-1) ++ split(text) ++ <\\s> — ngram_lm.ngrams semantics)."""
    pads = ", ".join([f"'{BOS}'"] * (n - 1))
    return (
        f"concat(array({pads}), split({text_col}, ' '), array('{EOS}'))"
        if n > 1
        else f"concat(split({text_col}, ' '), array('{EOS}'))"
    )


def _ngrams_over_tokens_expr(toks_col: str, n: int) -> str:
    """array<struct<context:string, word:string>> over an ALREADY-MATERIALIZED
    padded token array column.

    ``toks_col`` MUST be a plain column reference, never the padding
    expression spliced inline: transform/slice/element_at are interpreted
    (CodegenFallback), and an inline sub-expression inside the lambda body
    is re-evaluated PER ELEMENT — the concat+split would run once per
    n-gram, making the explode O(tokens^2) per document (measured 8x on the
    sf0.1 trigram explode, round-8 notes). Against a column reference the
    array is built once per row and each lambda step is O(n)."""
    return (
        f"transform(sequence({n}, size({toks_col})), "
        f"i -> struct(array_join(slice({toks_col}, i - {n - 1}, {n - 1}), '{_SEP}') as context, "
        f"element_at({toks_col}, i) as word))"
    )


def _ngram_expr(text_col: str, n: int) -> str:
    """One-expression form (kept for external callers); prefer projecting
    ``_padded_tokens_expr`` to a column first — see _ngrams_over_tokens_expr
    for why the inline splice is quadratic."""
    toks = _padded_tokens_expr(text_col, n)
    return (
        f"transform(sequence({n}, size({toks})), "
        f"i -> struct(array_join(slice({toks}, i - {n - 1}, {n - 1}), '{_SEP}') as context, "
        f"element_at({toks}, i) as word))"
    )


def ngram_counts(
    docs: DataFrame, n: int = LM_ORDER, text_col: str = "text", min_count: int = 1
) -> DataFrame:
    """Model table: (context, word, cnt). Pure native explode + hash agg.

    ``min_count`` > 1 prunes rare n-grams AFTER aggregation (a HAVING, so the
    counts themselves are exact). This is the scale lever for 10^12-doc
    corpora: the raw trigram table of a web crawl is dominated by singletons
    (typically >70%); min_count=2 shrinks the model several-fold so it stays
    broadcastable (perplexity_relational always broadcasts it) far longer.
    Downstream smoothing treats pruned pairs as unseen — the standard
    count-cutoff LM approximation."""
    from .partitioning import ensure_min_parallelism

    counts = (
        ensure_min_parallelism(docs)
        .select(F.expr(_padded_tokens_expr(text_col, n)).alias("__toks"))
        .select(F.explode(F.expr(_ngrams_over_tokens_expr("__toks", n))).alias("g"))
        .select("g.context", "g.word")
        .groupBy("context", "word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    if min_count > 1:
        counts = counts.where(F.col("cnt") >= F.lit(min_count))
    return counts


def vocab_size(docs: DataFrame, text_col: str = "text") -> DataFrame:
    return docs.select(
        F.explode(F.split(F.col(text_col), " ")).alias("tok")
    ).agg(F.countDistinct("tok").alias("v"))


def perplexity_relational(
    docs: DataFrame,
    model: DataFrame,
    n: int = LM_ORDER,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, ppl): explode doc n-grams, join model counts, smooth
    (Lidstone, ``LIDSTONE_ALPHA``), aggregate. The vocab size stays IN the
    plan as a broadcast one-row cross join (no driver round trip — the
    whole scorer remains a single lazy composable plan).

    The model joins are hinted broadcast: the model must fit executor
    memory (``ngram_counts(min_count=...)`` prunes it to fit), and the
    corpus side then stays map-side and shuffle-free."""
    ctx_tot = F.broadcast(
        model.groupBy("context").agg(F.sum("cnt").alias("ctx_cnt"))
    )
    model = F.broadcast(model)
    from .partitioning import ensure_min_parallelism

    grams = (
        ensure_min_parallelism(docs)
        .select(
            F.col(id_col),
            F.expr(_padded_tokens_expr(text_col, n)).alias("__toks"),
        )
        .select(
            F.col(id_col),
            F.explode(F.expr(_ngrams_over_tokens_expr("__toks", n))).alias("g"),
        )
        .select(id_col, "g.context", "g.word")
    )
    joined = (
        grams.join(model, ["context", "word"], "left")
        .join(ctx_tot, ["context"], "left")
        .crossJoin(F.broadcast(vocab_size(docs, text_col)))
    )
    alpha = F.lit(LIDSTONE_ALPHA)
    joined = joined.withColumn(
        "log2p",
        F.log2(
            (F.coalesce(F.col("cnt"), F.lit(0)) + alpha)
            / (F.coalesce(F.col("ctx_cnt"), F.lit(0)) + alpha * F.col("v"))
        ),
    ).withColumn("log2p", F.greatest(F.col("log2p"), F.lit(LOG_FLOOR)))
    return joined.groupBy(id_col).agg(
        F.pow(F.lit(2.0), -F.avg("log2p")).alias("ppl"),
        (-F.avg("log2p")).alias("neg_avg_log2p"),
    )


def ppl_buckets(
    docs: DataFrame,
    model: DataFrame | None = None,
    group_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CCNet-style head/middle/tail corpus partitioning by per-language LM
    perplexity tertiles (Wenzek et al. 2020: score each document with an
    n-gram LM, split each language's corpus at the 1/3 and 2/3 perplexity
    cutoffs; "head" = most fluent third). The reference's banded ppl score
    (§2.9, lmppl_perplexity.py) keeps/drops per-doc; this adds the standard
    corpus-level partitioning a training-data pipeline samples from. The
    LM is ``LM_ORDER``-gram; ``model`` defaults to one trained on ``docs``.

    Cutoff arithmetic is deliberately INTEGER-EXACT, not quantile
    interpolation: perplexities are rounded to 2 dp (the repo's published
    ppl precision), histogrammed per group, and the cutoff is the smallest
    rounded ppl whose cumulative count reaches j/3 of the group
    (``3*cum >= j*n`` on bigint counts — no float quantile formula whose
    last-bit rounding could flip a boundary doc between engines). Docs in
    the cutoff bin all land on the lower side, exactly like CCNet's
    histogram-bin cutoffs.

    Scale shape (100 TB): the corpus-sized stages are the ppl scorer
    (perplexity_relational — broadcast-model map-side join), one slim
    (id, group) join to attach the group key, and one hash aggregation to
    the (group, rounded-ppl) histogram — map-side partials bound its
    shuffle by the number of distinct bins, not docs. The cumulative window runs over the histogram
    only (|groups| x |bins| rows), and the three-row-per-group cutoff table
    broadcasts back. Nothing sorts or windows over per-document data.
    The scored table feeds BOTH the histogram branch and the labeled
    output, so it is materialized once (eager localCheckpoint — the same
    scored-twice doctrine as dedup_incremental's corpus index); without it
    the LM scoring pass, the most expensive stage, would re-execute per
    consumer.

    Returns (id, group, ppl [2 dp], neg_avg_log2p, ppl_bucket, t_head,
    t_middle); docs whose text yields no n-grams (NULL text) are absent,
    matching perplexity_relational. A NULL group is a group of its own
    (groupBy keeps NULL keys and the cutoff join is null-safe), so docs
    with a failed language ID still get buckets instead of vanishing.
    """
    from pyspark.sql import Window

    if model is None:
        model = ngram_counts(docs, text_col=text_col)
    scored = perplexity_relational(
        docs, model, id_col=id_col, text_col=text_col
    ).withColumn("ppl", F.round("ppl", 2))
    scored = scored.join(docs.select(id_col, group_col), id_col)
    scored = scored.localCheckpoint(eager=True)
    hist = scored.groupBy(group_col, "ppl").agg(F.count(F.lit(1)).alias("c"))
    # histogram bins are distinct per group, so ROWS == RANGE here; the
    # explicit ROWS frame keeps both engines' default-frame semantics out
    w_cum = (
        Window.partitionBy(group_col)
        .orderBy("ppl")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn("cum", F.sum("c").over(w_cum)).withColumn(
        "ntot", F.sum("c").over(Window.partitionBy(group_col))
    )
    cutoffs = cum.groupBy(group_col).agg(
        F.min(
            F.when(F.col("cum") * 3 >= F.col("ntot"), F.col("ppl"))
        ).alias("t_head"),
        F.min(
            F.when(F.col("cum") * 3 >= F.col("ntot") * 2, F.col("ppl"))
        ).alias("t_middle"),
    ).withColumnRenamed(group_col, "__g")
    return scored.join(
        F.broadcast(cutoffs), F.col(group_col).eqNullSafe(F.col("__g"))
    ).withColumn(
        "ppl_bucket",
        F.when(F.col("ppl") <= F.col("t_head"), F.lit("head"))
        .when(F.col("ppl") <= F.col("t_middle"), F.lit("middle"))
        .otherwise(F.lit("tail")),
    ).select(
        id_col, group_col, "ppl", "neg_avg_log2p", "ppl_bucket",
        "t_head", "t_middle",
    )


def ppl_score_col(ppl_col: str):
    """Native Column for the banded perplexity score (SURVEY.md §2.9) —
    functions/ngram_lm.perplexity_score over the same constants."""
    capped = F.least(F.col(ppl_col), F.lit(PPL_MAX))
    half = PPL_THRESHOLD / 2
    return (
        F.when(capped >= PPL_MAX, F.lit(0.0))
        .when(capped <= half, F.lit(1.0))
        .otherwise(
            F.greatest(
                F.lit(0.0),
                F.lit(1.0) - (capped - F.lit(half)) / F.lit(PPL_MAX - half),
            )
        )
    )
