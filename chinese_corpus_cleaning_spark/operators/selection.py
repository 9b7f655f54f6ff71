"""Data selection via importance resampling (DSIR — Xie et al. 2023,
arXiv:2302.03169): pick the raw-corpus documents whose hashed-n-gram
distribution looks like a TARGET corpus, by importance weight
log w(x) = sum_g [ ln p_target(bucket(g)) - ln q_raw(bucket(g)) ], then
sample k docs without replacement by Gumbel-top-k over the weights.

This is the standard published "make my crawl look like Wikipedia/books"
selection stage between quality filtering and training. It composes out
of two proven kernels:

* the per-bucket smoothed log-ratio table IS :func:`classifier.
  nb_logodds_weights` with the target corpus as the positive class and
  the raw corpus as the negative one (identical Lidstone arithmetic —
  DSIR's eq. (4) and the NB log-odds are the same expression);
* the per-doc log-weight IS :func:`classifier.classifier_score`'s margin
  (decimal-quantized, order-free exact sum — the repo's cross-engine
  determinism doctrine), over char n-grams (the segmenter-free feature
  unit that is right for Chinese; the paper's word unigram+bigram
  hashing is the whitespace-language instantiation of the same hashed
  feature map).

What this module adds is the RESAMPLING: a deterministic Gumbel-top-k
(Gumbel noise derived from the repo's md5-h60 of the doc id, not an RNG
stream — retry/partition independent and oracle-recomputable) selected
WITHOUT a global sort, using the two-phase salt-bucket top-k shape the
stratified sampler established (min-k of a total order is associative).

Scale shape (100 TB raw, small target): the target corpus is the small
side by construction; the log-ratio table is <= n_buckets rows and
broadcasts; raw-doc scoring explodes grams map-side and ships only
(id, bucket, cnt) partials; selection moves (id, key) pairs — per salt
bucket top-k first (window over n_salt bounded partitions), then a final
window over <= n_salt * k survivor rows. Text never keys a shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import h60_sql
from .classifier import classifier_score, nb_logodds_weights
from .sampling import _sql_str_lit

__all__ = ["dsir_logratio_weights", "dsir_select"]

# 2^53: the largest power of two whose residues are exactly representable
# as doubles — the Gumbel uniform u = (h60 % 2^53 + 0.5) / 2^53 is an
# exact-arithmetic expression in BOTH engines (no bits lost to the
# int->double conversion that h60's full 60 bits would force).
_U_MOD = 1 << 53


def dsir_logratio_weights(
    raw: DataFrame,
    target: DataFrame,
    n_buckets: int = 1 << 18,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(bucket, w): the Laplace-smoothed per-bucket log importance ratio
    ln((t_b + 1)/(T + B)) - ln((r_b + 1)/(R + B)) over hashed char
    n-grams (classifier.GRAM_N, classifier.NB_ALPHA) — DSIR's
    hashed-n-gram importance estimator, computed as
    :func:`nb_logodds_weights` with target=positive / raw=negative.
    Ids are prefixed per side before the union so a doc present in both
    corpora contributes its grams to both distributions (DSIR's raw pool
    legitimately contains target-like docs)."""
    lab = target.select(
        F.concat(F.lit("t|"), F.col(id_col).cast("string")).alias("__did"),
        F.col(text_col).alias("__t"),
        F.lit(1).alias("__y"),
    ).unionByName(
        raw.select(
            F.concat(F.lit("r|"), F.col(id_col).cast("string")).alias("__did"),
            F.col(text_col).alias("__t"),
            F.lit(0).alias("__y"),
        )
    )
    return nb_logodds_weights(
        lab,
        n_buckets=n_buckets,
        id_col="__did",
        text_col="__t",
        label_col="__y",
    )


def dsir_select(
    raw: DataFrame,
    target: DataFrame,
    k: int = 1000,
    n_buckets: int = 1 << 18,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "dsir",
    n_salt: int = 64,
    weights: DataFrame | None = None,
) -> DataFrame:
    """Select ``k`` raw docs by Gumbel-top-k over DSIR importance weights.

    Per doc: u = (h60(salt|id) % 2^53 + 0.5) / 2^53 in (0, 1),
    g = -ln(-ln(u)), key = logw + g; the k largest keys win (Gumbel-top-k
    == sampling without replacement proportionally to w — Vieira 2014 /
    DSIR §2.3), with ``salt`` keying independent draws. logw is the
    exact-decimal classifier margin cast to double (one deterministic
    rounding); the Gumbel chain is a fixed per-doc op order, so the key
    is bit-identical across engines and partitionings.

    No global sort: per-salt-bucket top-k first (row_number windows over
    ``n_salt`` bounded partitions), then the final rank over the
    <= n_salt*k survivors — min-k of a total order is associative (the
    stratified-sampler doctrine). Ties are impossible: (key, id) is a
    total order.

    Returns (id_col, logw decimal, gumbel_key double, sel_rank 1..k) —
    the selected rows only. Semi-join it back against the corpus to
    materialize text (the slim-labels contract; joining text here would
    co-shuffle document bodies)."""
    if weights is None:
        weights = dsir_logratio_weights(raw, target, n_buckets, id_col, text_col)
    scored = classifier_score(
        raw, weights, n_buckets=n_buckets, id_col=id_col, text_col=text_col
    ).select(F.col("id").alias(id_col), F.col("margin").alias("logw"))
    u = (
        F.pmod(
            F.expr(
                h60_sql(
                    f"concat({_sql_str_lit(salt + '|')}, "
                    f"cast({id_col} as string))"
                )
            ),
            F.lit(_U_MOD),
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(float(_U_MOD))
    keyed = scored.select(
        id_col,
        "logw",
        (
            F.col("logw").cast("double") + (-F.log(-F.log(u)))
        ).alias("gumbel_key"),
        F.pmod(
            F.expr(h60_sql(f"concat('sb|', cast({id_col} as string))")),
            F.lit(int(n_salt)),
        ).alias("__sb"),
    )
    from pyspark.sql.window import Window

    w_local = Window.partitionBy("__sb").orderBy(
        F.col("gumbel_key").desc(), F.col(id_col).asc()
    )
    survivors = keyed.withColumn("__rl", F.row_number().over(w_local)).where(
        F.col("__rl") <= k
    )
    w_global = Window.orderBy(F.col("gumbel_key").desc(), F.col(id_col).asc())
    return (
        survivors.withColumn("sel_rank", F.row_number().over(w_global))
        .where(F.col("sel_rank") <= k)
        .select(id_col, "logw", "gumbel_key", "sel_rank")
    )
