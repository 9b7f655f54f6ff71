"""Learned quality classifier — the supervised axis of a webtext pipeline.

Rule filters (functions/textstats.py) and the n-gram LM (operators/
perplexity.py) give the heuristic and language-model quality axes; this
module adds the standard third: a LINEAR classifier over hashed character
n-gram bag features, the public fastText recipe (Joulin et al. 2016,
"Bag of Tricks for Efficient Text Classification") that CCNet (Wenzek et
al. 2020 §4.3) and RefinedWeb-class pipelines use to keep "looks like a
curated corpus" pages. Pure numpy/Arrow + native Spark exprs — no model
library needed, and character n-grams need no segmenter (the right
feature unit for Chinese).

Three pieces, each independently usable:

* :func:`hash_ngram_features` — (id, bucket, cnt) char-n-gram counts,
  hashed with the repo's cross-engine md5-h60 primitive (so a DuckDB
  oracle can recompute every bucket id bit-for-bit).
* :func:`nb_logodds_weights` — closed-form Naive-Bayes log-odds weights
  (the NB-SVM / fastText-init feature weighting, Wang & Manning 2012):
  ONE relational pass, no iteration — fully SQL-expressible, which is
  what the driver-gate query verifies end-to-end (train AND score).
* :func:`train_logreg` — logistic regression by batch gradient descent:
  the feature table is built once (explode -> agg, localCheckpointed),
  each iteration broadcasts the weight vector, computes margins with one
  agg, and reduces gradients back to <= n_buckets rows. The LABELED set
  is the small side by construction (CCNet trains on a Wikipedia-scale
  sample, ~10^5-10^6 docs); the 100 TB path is :func:`classifier_score`,
  which is iteration-free.
* :func:`classifier_score` — margin/probability/keep per document:
  hashed counts joined against the BROADCAST weight table, one slim
  groupBy(id); weights are quantized to decimal(18,6) so the margin sum
  is EXACT decimal arithmetic (the repo's cross-engine determinism
  doctrine — no float-order sensitivity anywhere in the scoring path).

Scale shape (100 TB): scoring explodes grams map-side, partially
aggregates (id, bucket) within the scan partition (rows for one doc never
span partitions before the shuffle, so the map-side combine collapses to
~distinct-gram counts), broadcasts the <= n_buckets weight rows, and
ships only (id, partial-margin) into the final slim agg. No text crosses
a shuffle; no per-row Python; the whole path is native exprs inside
whole-stage codegen.

The reference has no learned classifier (its quality gate is rules +
perplexity); this operator is part of the beyond-reference LLM-pipeline
surface the build brief names. Feature hashing follows the public
hashing-trick formulation (Weinberger et al. 2009).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import h60_sql

__all__ = [
    "hash_ngram_features",
    "nb_logodds_weights",
    "train_logreg",
    "classifier_score",
    "LogRegModel",
]

# Gated parameters, one definition with the DuckDB oracles (DSIR composes
# these kernels): the char-gram width and the NB Laplace smoothing alpha
GRAM_N = 3
NB_ALPHA = 1.0


def _gram_expr(text_col: str, n: int) -> str:
    """All char n-grams WITH multiplicity (bag, not set — counts carry
    signal the dedup shingle sets deliberately drop). Texts shorter than n
    contribute the whole text as one gram (shingle_explode convention);
    the case arm guards the CLAUDE.md sequence(n, size) descent landmine.
    """
    t = f"coalesce({text_col}, '')"
    return (
        f"case when length({t}) < {n} then array({t}) "
        f"else transform(sequence(1, length({t}) - {n} + 1), "
        f"i -> substring({t}, i, {n})) end"
    )


def hash_ngram_features(
    docs: DataFrame,
    n_buckets: int = 1 << 18,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, bucket, cnt): char ``GRAM_N``-gram occurrence counts hashed into
    ``n_buckets`` via md5-h60 (cross-engine reproducible; DuckDB twin is
    ``('0x'||substr(md5(g),1,15))::bigint % n_buckets``). NULL text
    behaves as '' (one empty gram). The explode and the (id, bucket)
    partial aggregation both run inside the scan partition — the shuffle
    carries only the collapsed count rows."""
    return (
        docs.select(
            F.col(id_col).alias("id"),
            F.explode(F.expr(_gram_expr(text_col, GRAM_N))).alias("gram"),
        )
        .select(
            "id",
            F.pmod(F.expr(h60_sql("gram")), F.lit(n_buckets))
            .cast("int")
            .alias("bucket"),
        )
        .groupBy("id", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def nb_logodds_weights(
    labeled: DataFrame,
    n: int = GRAM_N,
    n_buckets: int = 1 << 18,
    id_col: str = "doc_id",
    text_col: str = "text",
    label_col: str = "label",
) -> DataFrame:
    """Closed-form Naive-Bayes log-odds weights over hashed char n-grams:

        w_j = ln((c1_j + a) / (T1 + a*B)) - ln((c0_j + a) / (T0 + a*B))

    with c/T the per-bucket / total gram counts of the positive (label
    truthy) and negative classes, B = n_buckets and a = ``NB_ALPHA``
    (Laplace smoothing). One
    explode -> agg pass, no iteration: the multinomial-NB decision rule IS
    a linear model over counts (Wang & Manning 2012), so these weights
    plug directly into :func:`classifier_score`. Buckets never seen in
    training are absent (scored as 0 by the left join). Returns (bucket, w).

    Physical shape (round 8): the label rides the gram explode, so the
    whole training pass is ONE hash aggregation keyed on bucket — the
    previous form materialized the per-doc (id, bucket, cnt) table
    (an extra corpus-sized shuffle) and joined the labels back on id (an
    extra join) just to re-derive the same per-class occurrence totals.
    c1/c0 are integer occurrence counts either way, so the weights are
    bit-identical (oracle-parity-pinned)."""
    from .partitioning import ensure_min_parallelism

    y = F.col(label_col).cast("boolean")
    grams = ensure_min_parallelism(labeled).select(
        y.alias("__y"),
        F.explode(F.expr(_gram_expr(text_col, n))).alias("gram"),
    ).select(
        "__y",
        F.pmod(F.expr(h60_sql("gram")), F.lit(n_buckets))
        .cast("int")
        .alias("bucket"),
    )
    per = grams.groupBy("bucket").agg(
        F.sum(F.when(F.col("__y"), F.lit(1)).otherwise(0).cast("bigint")).alias("c1"),
        F.sum(F.when(~F.col("__y"), F.lit(1)).otherwise(0).cast("bigint")).alias("c0"),
    )
    tot = per.agg(
        F.sum("c1").alias("t1"), F.sum("c0").alias("t0")
    )
    a, b = NB_ALPHA, NB_ALPHA * n_buckets
    return per.crossJoin(F.broadcast(tot)).select(
        "bucket",
        (
            F.log((F.col("c1") + a) / (F.col("t1") + b))
            - F.log((F.col("c0") + a) / (F.col("t0") + b))
        ).alias("w"),
    )


@dataclass
class LogRegModel:
    """Trained logistic-regression model: dense weight vector + bias.
    ``to_df(spark)`` yields the (bucket, w) table classifier_score
    consumes (zero-weight buckets dropped — they score 0 either way)."""

    weights: np.ndarray
    bias: float
    n: int
    n_buckets: int
    losses: list[float] = field(default_factory=list)

    def to_df(self, spark) -> DataFrame:
        nz = np.flatnonzero(self.weights)
        return spark.createDataFrame(
            pa.table(
                {
                    "bucket": nz.astype("int32"),
                    "w": self.weights[nz].astype("float64"),
                }
            ),
            schema="bucket int, w double",
        )


_LR, _L2 = 0.5, 1e-6  # train_logreg's AdaGrad step size and L2 penalty


def train_logreg(
    labeled: DataFrame,
    n_buckets: int = 1 << 18,
    iters: int = 30,
    id_col: str = "doc_id",
    text_col: str = "text",
    label_col: str = "label",
) -> LogRegModel:
    """Distributed batch-gradient logistic regression over hashed char
    ``GRAM_N``-gram features (the fastText supervised objective for one label,
    without the embedding layer).

    Shape: the normalized feature table (id, bucket, x = cnt/doc_total —
    fastText's mean-of-features) is built ONCE and localCheckpointed (the
    loop-state doctrine: every iteration rescans it). Per iteration the
    weight vector ships out as a <= n_buckets-row BROADCAST table, margins
    reduce per doc, per-doc errors come back through Arrow (labeled sets
    are ~10^5-10^6 docs — the small side by construction), ship back
    broadcast, and gradients reduce to <= n_buckets rows. Nothing
    corpus-sized is collected, sorted, or iterated on the driver.

    The driver-side update is AdaGrad (Duchi et al. 2011): feature
    gradients are O(1/doc_len) while the bias gradient is O(1), so a
    single global step size either stalls the features or blows up the
    bias — per-coordinate scaling makes one step size (``_LR``) work for
    both (the divergence was measured: plain GD at lr=50 pushed loss
    0.69 -> 8.6). ``_L2`` is the ridge penalty on the feature weights.

    Gradient float sums are shuffle-order dependent, so retraining is
    deterministic only to ~1 ulp per agg — assert model QUALITY in tests,
    not bit-identical weights (the repo's determinism doctrine applies to
    the gated scoring path, which is exact decimal)."""
    spark = labeled.sparkSession
    feats = hash_ngram_features(labeled, n_buckets, id_col, text_col)
    tot = feats.groupBy("id").agg(F.sum("cnt").alias("__t"))
    lab = labeled.select(
        F.col(id_col).alias("id"),
        F.col(label_col).cast("boolean").cast("double").alias("y"),
    )
    xy = (
        feats.join(tot, "id")
        .select("id", "bucket", (F.col("cnt") / F.col("__t")).alias("x"))
        .join(lab, "id")
        .localCheckpoint(eager=True)
    )
    n_docs = lab.count()
    w = np.zeros(n_buckets, dtype="float64")
    bias = 0.0
    gsq_w = np.zeros(n_buckets, dtype="float64")
    gsq_b = 0.0
    ada_eps = 1e-8
    losses: list[float] = []
    for _ in range(iters):
        nz = np.flatnonzero(w)
        wdf = spark.createDataFrame(
            pa.table({"bucket": nz.astype("int32"), "w": w[nz]}),
            schema="bucket int, w double",
        )
        margins = (
            xy.join(F.broadcast(wdf), "bucket", "left")
            .groupBy("id", "y")
            .agg(
                F.sum(F.col("x") * F.coalesce(F.col("w"), F.lit(0.0))).alias(
                    "m"
                )
            )
            .toArrow()
        )
        m = margins["m"].to_numpy() + bias
        yv = margins["y"].to_numpy()
        p = 1.0 / (1.0 + np.exp(-m))
        eps = 1e-12
        losses.append(
            float(
                -np.mean(
                    yv * np.log(p + eps) + (1 - yv) * np.log(1 - p + eps)
                )
            )
        )
        err = p - yv
        edf = spark.createDataFrame(
            pa.table({"id": margins["id"], "e": err}),
        )
        grad = (
            xy.join(F.broadcast(edf), "id")
            .groupBy("bucket")
            .agg(F.sum(F.col("e") * F.col("x")).alias("g"))
            .toArrow()
        )
        g = np.zeros(n_buckets, dtype="float64")
        g[grad["bucket"].to_numpy()] = grad["g"].to_numpy()
        g = g / n_docs + _L2 * w
        gsq_w += g * g
        w -= _LR * g / np.sqrt(gsq_w + ada_eps)
        g_b = float(err.sum()) / n_docs
        gsq_b += g_b * g_b
        bias -= _LR * g_b / math.sqrt(gsq_b + ada_eps)
    return LogRegModel(w, bias, GRAM_N, n_buckets, losses)


def classifier_score(
    docs: DataFrame,
    weights: DataFrame,
    n: int = GRAM_N,
    n_buckets: int = 1 << 18,
    bias: float = 0.0,
    quantize: int = 6,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score every document with a linear model over hashed char n-grams:
    margin = sum(cnt_j * w_j) + bias, clf_score = sigmoid(margin),
    clf_keep = margin > 0.

    ``weights`` is any (bucket, w) table (:func:`nb_logodds_weights`
    output or ``LogRegModel.to_df``); it is broadcast (<= n_buckets rows
    by construction). Weights are quantized to decimal(18, ``quantize``)
    BEFORE the per-doc sum, so the margin is exact decimal arithmetic —
    bit-identical across engines and partitionings regardless of
    float-add order (CLAUDE.md decimal-sums doctrine; quantize=None
    keeps raw double weights when exactness is not needed). Grams that
    miss the weight table contribute 0 (left join + coalesce); every
    input doc appears in the output (NULL text is one '' gram, so the
    gram table covers all ids).

    The physical shape follows ``docs.isStreaming``:

    * batch — explode -> broadcast weight join -> slim groupBy(id) (one
      shuffle; map-side partials collapse to one row per doc per
      partition). Exact decimal margins, fully SQL-expressible: the
      driver-gate/oracle form, so the cross-engine-exact path is what the
      gated catalog query runs.
    * stream — the map-side body (:func:`_classifier_score_mapside`), the
      only arm that runs on a stream (a streaming aggregation would need
      state and an output mode): weights collapse to one dense numpy
      vector (8 * n_buckets bytes, 2 MiB at the default), broadcast once,
      and each doc scores inside a single Arrow batch pass. No shuffle, no
      join — stateless per row, so stream-static scoring of an arriving
      crawl against frozen weights. The quantized weights ship as
      integer units and sum exactly, so a stream returns the batch arm's
      schema and values (parity pinned in
      tests/test_multimodal_streaming.py).

    Returns a SLIM labels frame (id, margin, clf_score, clf_keep) — the
    dedup_representatives contract: text never enters the operator's
    shuffles (grams explode and partially aggregate inside the scan
    partition; only (id, bucket, cnt) and (id, margin) rows move).
    Joining scores back onto full documents would co-shuffle the text
    bodies; filter with a broadcast/semi join on the keep ids instead,
    or join the slim frame against a slim projection.
    """
    if docs.isStreaming:
        return _classifier_score_mapside(
            docs, weights, n, n_buckets, bias, id_col, text_col, quantize
        )
    # Round-8 physical shape: gram occurrences broadcast-join the weight
    # table directly and sum per id — ONE shuffle whose map-side partials
    # collapse to one row per doc per partition. The previous form first
    # aggregated the (id, bucket, cnt) feature table (an extra corpus-wide
    # shuffle keyed on (id, bucket)) and then summed cnt * w; decimal
    # addition is exact and order-free, so sum-over-occurrences of w equals
    # sum-over-buckets of cnt * w to the last digit (oracle-parity-pinned;
    # for quantize=None the float margin was already shuffle-order-
    # dependent, unchanged by this).
    from .partitioning import ensure_min_parallelism

    grams = ensure_min_parallelism(docs).select(
        F.col(id_col).alias("id"),
        F.explode(F.expr(_gram_expr(text_col, n))).alias("gram"),
    ).select(
        "id",
        F.pmod(F.expr(h60_sql("gram")), F.lit(n_buckets))
        .cast("int")
        .alias("bucket"),
    )
    wq, zero, bias_term = _weight_terms(weights, bias, quantize)
    margins = (
        grams.join(F.broadcast(wq), "bucket", "left")
        .groupBy("id")
        .agg(F.sum(F.coalesce(F.col("__wq"), zero)).alias("__m"))
    )
    return _scored(margins, zero, bias_term)


def _weight_terms(weights: DataFrame, bias: float, quantize: int | None):
    """(bucket, __wq) weight table, the zero and the bias term, all
    decimal(18, quantize) — or double when ``quantize`` is None."""
    if quantize is not None:
        dec = f"decimal(18,{quantize})"
        wcol = F.round(F.col("w"), quantize).cast(dec)
        zero = F.lit(0).cast(dec)
        bias_term = F.lit(str(round(bias, quantize))).cast(dec)
    else:
        wcol = F.col("w")
        zero = F.lit(0.0)
        bias_term = F.lit(float(bias))
    return weights.select("bucket", wcol.alias("__wq")), zero, bias_term


def _scored(margins: DataFrame, zero, bias_term) -> DataFrame:
    """(id, __m = summed gram weights) -> the slim labels frame."""
    margin = F.coalesce(F.col("__m"), zero) + bias_term
    return margins.select(
        "id",
        margin.alias("margin"),
        (
            F.lit(1.0) / (F.lit(1.0) + F.exp(-(margin.cast("double"))))
        ).alias("clf_score"),
        (margin > zero).alias("clf_keep"),
    )


def _classifier_score_mapside(
    docs: DataFrame,
    weights: DataFrame,
    n: int,
    n_buckets: int,
    bias: float,
    id_col: str,
    text_col: str,
    quantize: int | None = None,
) -> DataFrame:
    """classifier_score's map-side body (the streaming arm): broadcast a
    dense weight vector, score in one Arrow pass over the scan (measured,
    BENCH/BASELINE.md round 7, at 100k docs local[8], min-of-3: 3.04 s vs
    6.23 s for the relational-decimal arm, zero shuffles). The weight
    collect is <= n_buckets rows by the (bucket, w) contract (duplicate
    bucket rows would be last-write-wins here but join-duplicated in the
    relational path — both trainers groupBy(bucket), so neither emits
    them). Gram bag semantics match :func:`_gram_expr` exactly: NULL
    text scores as '', texts shorter than n contribute the whole text as
    one gram; the hash is the repo h60 (functions/hashing.py) mod
    n_buckets, and the gram's weight is memoized per Arrow batch (web
    text repeats grams heavily both within and across docs).

    With ``quantize`` the weights ship as integer units of 10^-quantize
    (the relational arm's decimal(18, quantize) weights, exactly) and
    each doc's sum is exact integer arithmetic, returned as the decimal
    Spark's sum gives that arm: the same schema and values as the batch
    arm. Without it, margins are float in per-doc add order."""
    from collections import Counter
    from decimal import Decimal

    from pyspark.sql.functions import pandas_udf

    from ..functions.hashing import h60

    spark = docs.sparkSession
    wq, zero, bias_term = _weight_terms(weights, bias, quantize)
    if quantize is None:
        units, dtype, sum_type = F.col("__wq"), "float64", "double"
    else:
        units = (F.col("__wq") * F.lit(10**quantize)).cast("bigint")
        # Spark types sum(decimal(p, s)) as decimal(p + 10, s)
        dtype, sum_type = "int64", f"decimal(28,{quantize})"
    wp = wq.select("bucket", units.alias("u")).toArrow()
    w_np = np.zeros(n_buckets, dtype=dtype)
    w_np[wp["bucket"].to_numpy().astype("int64")] = wp["u"].to_numpy()
    w_bc = spark.sparkContext.broadcast(w_np)

    @pandas_udf(sum_type)
    def _weight_sum(texts: pd.Series) -> pd.Series:
        w = w_bc.value
        memo: dict[str, int | float] = {}  # gram -> its weight
        out = []
        for t in texts:
            t = t or ""
            grams = (
                (t,)
                if len(t) < n
                else (t[j : j + n] for j in range(len(t) - n + 1))
            )
            m = 0
            for g, c in Counter(grams).items():
                wg = memo.get(g)
                if wg is None:
                    # THE repo gram hash, one def; .item(): a python
                    # float, or an exact python int
                    wg = memo[g] = w[h60(g) % n_buckets].item()
                m += wg * c
            out.append(m if quantize is None else Decimal(m).scaleb(-quantize))
        return pd.Series(out, dtype="float64" if quantize is None else object)

    margins = docs.select(
        F.col(id_col).alias("id"), _weight_sum(F.col(text_col)).alias("__m")
    )
    return _scored(margins, zero, bias_term)
