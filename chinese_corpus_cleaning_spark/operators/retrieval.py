"""BM25 ranked retrieval over the corpus — the "find me the documents
about X" query capability every corpus-analytics engine ends up needing
(inspecting a 100 TB crawl for a topic, pulling exemplars for a quality
label, auditing what a filter kept).

Okapi BM25 (Robertson & Zaragoza 2009) with Lucene's positive idf form
``ln(1 + (N - df + 0.5)/(df + 0.5))``.  Everything is public arithmetic;
the reference repo has no retrieval operator — this is beyond-reference
breadth, same category as the dedup/selection families.

Two shapes, chosen by query-set size:

* :func:`bm25_topk` — ONE query (a handful of terms).  Zero-shuffle
  scoring: per-term tf and the document length are computed map-side
  from the token array (``size(filter(...))`` — no explode), the corpus
  statistics (N, Σdl, per-term df) collapse to a ONE-ROW aggregate that
  comes back as a broadcast, and the top-k is ``orderBy().limit(k)``
  which Spark executes as TakeOrderedAndProject (per-partition partial
  top-k, k·n_partitions rows to the driver — no global sort exchange).
  The corpus crosses zero wide shuffles; the only Exchange in the plan
  is the one-row statistics aggregate.  This is the right 100 TB shape
  for interactive queries.

* :func:`bm25_topk_batch` — MANY queries at once (an evaluation suite,
  a label-seed sweep).  The per-term-column trick stops scaling past a
  few dozen distinct terms (wide interpreted-lambda projections — the
  CLAUDE.md >100-agg-columns landmine), so this path explodes tokens
  filtered to the UNION of query terms (slim (id, term) rows — text
  never leaves the map side), partially aggregates tf, broadcasts the
  (qid, term, idf) table, and sums per-(qid, doc) contributions
  QUANTIZED to decimal(18,6) so the score is exact decimal arithmetic —
  bit-identical across partitionings and engines regardless of float-add
  order (the classifier-margin doctrine, operators/classifier.py).
  Per-query top-k is a row_number window partitioned by qid over
  matched rows only (bounded by docs containing a query term).

Cross-engine determinism: tokenization is the portable explicit
whitespace class (tokenizer.WS_CLASS); idf/tf arithmetic is spelled
with one fixed operation order mirrored by the DuckDB oracle; EVERY
per-term contribution is rounded to 6 dp and cast decimal(18,6) before
the per-doc sum, in BOTH paths, so scores are exact decimal arithmetic
(single == batch bit-for-bit) and rank plus the score>0 match-filter
decide on identical values in both engines.  Ties break on ascending
doc id.

NULL text and all-whitespace docs have no tokens: they are excluded
from N/avgdl and can never match (dl > 0 defines the corpus).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import BM25_B, BM25_K1
from .tokenizer import WS_CLASS

__all__ = ["bm25_topk", "bm25_topk_batch"]


def _tok_array(text_col: str):
    """Lowercased portable-whitespace token array; '' entries dropped."""
    return F.filter(
        F.split(F.lower(F.col(text_col)), WS_CLASS), lambda t: t != F.lit("")
    )


def _eq_term(term: str):
    """One-parameter equality lambda for F.filter (a two-parameter lambda
    would be read as the (element, index) form)."""
    return lambda x: x == F.lit(term)


def _prep_terms(query_terms) -> list[str]:
    """Lowercased non-empty terms, deduplicated preserving order (may be
    empty: a batch query without a usable term matches no document)."""
    seen: dict[str, None] = {}
    for t in query_terms:
        lt = str(t).lower()
        if lt:
            seen.setdefault(lt, None)
    return list(seen)


def _quantized_contrib(idf, tf, dl_ratio):
    """One term's contribution idf·tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    rounded to 6 dp as decimal(18,6): the one op order both paths and the
    DuckDB oracle spell."""
    denom = tf + F.lit(BM25_K1) * (
        F.lit(1.0) - F.lit(BM25_B) + F.lit(BM25_B) * dl_ratio
    )
    return F.round(idf * (tf * F.lit(BM25_K1 + 1.0)) / denom, 6).cast(
        "decimal(18,6)"
    )


def bm25_topk(
    docs: DataFrame,
    query_terms,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k documents for one query: (id, score decimal(18,6), rank).

    ``query_terms`` is an iterable of terms (lowercased, deduplicated
    preserving order).  Score = Σ_t idf_t · tf·(k1+1) / (tf + k1·(1 − b
    + b·dl/avgdl)), each term's contribution quantized to decimal(18,6)
    before the (fixed-order, exact-decimal) sum — bit-identical to
    :func:`bm25_topk_batch` and to the DuckDB oracle.  Only matching
    docs (score > 0) are ranked.
    """
    terms = _prep_terms(query_terms)
    if not terms:
        raise ValueError("bm25: query_terms must contain a non-empty term")
    slim = (
        docs.where(F.col(text_col).isNotNull())
        .select(F.col(id_col), _tok_array(text_col).alias("__toks"))
        .select(
            id_col,
            F.size("__toks").cast("bigint").alias("__dl"),
            *[
                F.size(F.filter("__toks", _eq_term(t)))
                .cast("bigint")
                .alias(f"__tf{i}")
                for i, t in enumerate(terms)
            ],
        )
        .where(F.col("__dl") > 0)
    )
    stats = slim.agg(
        F.count(F.lit(1)).cast("bigint").alias("__n"),
        F.sum("__dl").cast("bigint").alias("__total_dl"),
        *[
            F.sum((F.col(f"__tf{i}") > 0).cast("bigint"))
            .cast("bigint")
            .alias(f"__df{i}")
            for i in range(len(terms))
        ],
    )
    scored = slim.crossJoin(F.broadcast(stats))
    n = F.col("__n").cast("double")
    avgdl = F.col("__total_dl").cast("double") / n
    contribs = []
    for i in range(len(terms)):
        tf = F.col(f"__tf{i}").cast("double")
        df = F.col(f"__df{i}").cast("double")
        idf = F.log((n - df + F.lit(0.5)) / (df + F.lit(0.5)) + F.lit(1.0))
        dl_ratio = F.col("__dl").cast("double") / avgdl
        contribs.append(_quantized_contrib(idf, tf, dl_ratio))
    raw = contribs[0]
    for c in contribs[1:]:
        raw = raw + c
    out = scored.select(
        id_col,
        raw.cast("decimal(18,6)").alias("score"),
    ).where(F.col("score") > 0)
    top = out.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)
    w = Window.orderBy(F.col("score").desc(), F.col(id_col).asc())
    return top.withColumn("rank", F.row_number().over(w).cast("bigint"))


def bm25_topk_batch(
    docs: DataFrame,
    queries: dict,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k per query for a query SET: (query_id, id, score, rank).

    ``queries`` maps query_id -> iterable of terms; a query with no
    usable (non-empty) term returns no rows.  Corpus statistics
    (N, avgdl, df per distinct union term) are computed once via slim
    exploded (id, term) rows restricted to the union vocabulary; the
    exact-integer df table collects driver-side (≤ |union terms| rows)
    and ships back as a broadcast (qid, term, idf) table whose idf is
    computed IN-PLAN with the same JVM ln and op order as the
    single-query path — bit-equality by construction.
    Per-(qid, doc) scores sum decimal(18,6)-quantized contributions —
    exact, partitioning-independent (classifier-margin doctrine).
    """
    qterms = {qid: _prep_terms(ts) for qid, ts in queries.items()}
    union_terms = sorted({t for ts in qterms.values() for t in ts})
    spark = docs.sparkSession

    def no_rows() -> DataFrame:
        # Preserve the INPUT id type (review finding: hardcoding bigint
        # made the empty-corpus branch union/join-incompatible with the
        # non-empty path for string-id corpora).
        from pyspark.sql import types as T

        schema = T.StructType(
            [
                T.StructField("query_id", T.StringType()),
                T.StructField(id_col, docs.schema[id_col].dataType),
                T.StructField("score", T.DecimalType(18, 6)),
                T.StructField("rank", T.LongType()),
            ]
        )
        return spark.createDataFrame([], schema)

    if not union_terms:
        return no_rows()  # a query without a usable term matches nothing

    base = (
        docs.where(F.col(text_col).isNotNull())
        .select(F.col(id_col), _tok_array(text_col).alias("__toks"))
        .select(id_col, "__toks", F.size("__toks").cast("bigint").alias("__dl"))
        .where(F.col("__dl") > 0)
    )
    base = base.localCheckpoint(eager=False)

    stats_row = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("__dl").cast("bigint").alias("total_dl"),
    ).collect()[0]
    n_docs, total_dl = stats_row["n"], stats_row["total_dl"]
    if not n_docs:
        return no_rows()
    avgdl = float(total_dl) / float(n_docs)

    tf = (
        base.select(
            id_col,
            "__dl",
            F.explode(
                F.filter("__toks", lambda x: x.isin(union_terms))
            ).alias("term"),
        )
        .groupBy(id_col, "__dl", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    # localCheckpoint: tf feeds BOTH the driver-side df collect and the
    # returned scored plan — without it the caller's action re-runs the
    # whole corpus explode + hash-agg a second time (review finding)
    tf = tf.localCheckpoint(eager=False)
    df_rows = {
        r["term"]: r["df"]
        for r in tf.groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("df"))
        .collect()
    }
    # ship exact-integer df and compute idf with the SAME JVM ln and the
    # SAME op order as bm25_topk's in-plan expression — the previous
    # driver-side math.log meant single==batch bit-equality rested on
    # CPython's libm agreeing with the JVM intrinsic at the 6-dp rounding
    # knife edge (review finding). Built through Arrow: a LocalRelation
    # with exact statistics, not pickled rows.
    pairs = [(str(qid), t) for qid, ts in qterms.items() for t in ts]
    cols = {
        "query_id": [q for q, _ in pairs],
        "term": [t for _, t in pairs],
        "df": [float(df_rows.get(t, 0)) for _, t in pairs],
    }
    qtab = spark.createDataFrame(
        pa.table(cols), "query_id string, term string, df double"
    ).select(
        "query_id",
        "term",
        F.log(
            (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
            + F.lit(1.0)
        ).alias("idf"),
    )

    contrib = _quantized_contrib(
        F.col("idf"),
        F.col("tf").cast("double"),
        F.col("__dl").cast("double") / F.lit(avgdl),
    )
    scored = (
        tf.join(F.broadcast(qtab), "term")
        .select(
            "query_id",
            id_col,
            contrib.alias("__c"),
        )
        .groupBy("query_id", id_col)
        .agg(F.sum("__c").cast("decimal(18,6)").alias("score"))
        .where(F.col("score") > 0)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select("query_id", id_col, "score", "rank")
    )
