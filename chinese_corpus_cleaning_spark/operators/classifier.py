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

Every piece reads its text through ONE gram kernel, :func:`_gram_bags`:
a text's char ``GRAM_N``-gram bag hashed with the repo's cross-engine
md5-h60 primitive (functions/hashing.py), so a DuckDB oracle can
recompute every bucket id bit-for-bit. It runs inside one Arrow pass per
batch (CIDR'22, "Accelerating Python UDFs in Vectorized Query
Execution"): no gram row is ever exploded into the plan.

* :func:`hash_ngram_features` — (id, bucket, cnt) char-n-gram counts.
* :func:`nb_logodds_weights` — closed-form Naive-Bayes log-odds weights
  (the NB-SVM / fastText-init feature weighting, Wang & Manning 2012):
  per-batch class counts, one bucket-keyed aggregation, no iteration —
  what the driver-gate query verifies end-to-end (train AND score).
* :func:`train_logreg` — logistic regression by batch gradient descent:
  the feature table is built once (localCheckpointed), each iteration
  broadcasts the weight vector, computes margins with one agg, and
  reduces gradients back to <= n_buckets rows. The LABELED set is the
  small side by construction (CCNet trains on a Wikipedia-scale sample,
  ~10^5-10^6 docs); the corpus-scale path is :func:`classifier_score`,
  which is iteration-free.
* :func:`classifier_score` — margin/probability/keep per document: a
  map-only pass against a broadcast dense weight vector; weights are
  quantized to decimal(18, ``WEIGHT_DP``) so the margin sum is EXACT
  decimal arithmetic (the repo's cross-engine determinism doctrine — no
  float-order sensitivity anywhere in the scoring path). A batch frame
  and a stream take the same body (one semantics for both — "One SQL to
  Rule Them All", SIGMOD'19).

The reference has no learned classifier (its quality gate is rules +
perplexity); this operator is part of the beyond-reference LLM-pipeline
surface the build brief names. Feature hashing follows the public
hashing-trick formulation (Weinberger et al. 2009).
"""

from __future__ import annotations

import math
from collections import Counter
from dataclasses import dataclass, field
from decimal import Decimal
from itertools import repeat
from operator import mul

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import h60

__all__ = [
    "hash_ngram_features",
    "nb_logodds_weights",
    "train_logreg",
    "classifier_score",
    "LogRegModel",
]

# Gated parameters, one definition with the DuckDB oracles (DSIR composes
# these kernels): the char-gram width, the NB Laplace smoothing alpha and
# the decimal places the scoring weights are quantized to
GRAM_N = 3
NB_ALPHA = 1.0
WEIGHT_DP = 6


def _gram_bags(texts, n_buckets: int):
    """THE gram kernel: for each text, its char ``GRAM_N``-gram bag as
    (buckets, counts) lists, one entry per distinct gram (two grams that
    collide share a bucket id twice; every consumer sums). Multiplicity is
    kept (a bag, not the dedup shingle set); NULL reads as ''; a text
    shorter than ``GRAM_N`` is one whole-text gram. bucket =
    ``h60(gram) % n_buckets`` — the DuckDB twin is
    ``('0x'||substr(md5(g),1,15))::bigint % n_buckets`` — memoized over
    the call, i.e. one Arrow batch (web text repeats grams heavily both
    within and across docs)."""
    memo: dict[str, int] = {}
    for t in texts:
        t = t or ""
        grams = Counter(
            (t,)
            if len(t) < GRAM_N
            else [t[j : j + GRAM_N] for j in range(len(t) - GRAM_N + 1)]
        )
        buckets = []
        for g in grams:
            b = memo.get(g)
            if b is None:
                b = memo[g] = h60(g) % n_buckets
            buckets.append(b)
        yield buckets, list(grams.values())


def hash_ngram_features(
    docs: DataFrame,
    n_buckets: int = 1 << 18,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, bucket, cnt): char ``GRAM_N``-gram occurrence counts hashed into
    ``n_buckets`` by :func:`_gram_bags`, one Arrow pass over the scan; the
    (id, bucket) sum then merges colliding grams and duplicate ids. Text
    never crosses a shuffle — only the count rows do."""
    ids = docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))

    def features(batches):
        for batch in batches:
            rows, buckets, counts = [], [], []
            bags = _gram_bags(batch.column(1).to_pylist(), n_buckets)
            for i, (bs, cs) in enumerate(bags):
                rows.extend(repeat(i, len(bs)))
                buckets += bs
                counts += cs
            yield pa.record_batch(
                [
                    batch.column(0).take(pa.array(rows, pa.int64())),
                    pa.array(buckets, pa.int32()),
                    pa.array(counts, pa.int64()),
                ],
                names=["id", "bucket", "cnt"],
            )

    return (
        ids.mapInArrow(
            features, ids.schema[:1].add("bucket", "integer").add("cnt", "long")
        )
        .groupBy("id", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )


def nb_logodds_weights(
    labeled: DataFrame,
    n_buckets: int = 1 << 18,
    text_col: str = "text",
    label_col: str = "label",
) -> DataFrame:
    """Closed-form Naive-Bayes log-odds weights over hashed char
    ``GRAM_N``-grams:

        w_j = ln((c1_j + a) / (T1 + a*B)) - ln((c0_j + a) / (T0 + a*B))

    with c/T the per-bucket / total gram counts of the positive (label
    truthy) and negative classes, B = n_buckets and a = ``NB_ALPHA``
    (Laplace smoothing); a NULL label counts in neither class. No
    iteration: the multinomial-NB decision rule IS a linear model over
    counts (Wang & Manning 2012), so these weights plug directly into
    :func:`classifier_score`. Returns (bucket, w) for every bucket some
    training gram hit; buckets never seen are absent (they score 0).

    Physical shape: each Arrow batch folds its :func:`_gram_bags` into
    per-class ``np.bincount``s and emits only the buckets it hit as
    (bucket, c1, c0); ONE bucket-keyed aggregation sums them. c1/c0 are
    integer occurrence counts, so the ``ln`` inputs — and the weights —
    do not depend on how the batches fall (oracle-parity-pinned)."""
    from .partitioning import ensure_min_parallelism

    def class_counts(batches):
        for batch in batches:
            by_y = {True: ([], []), False: ([], []), None: ([], [])}
            bags = _gram_bags(batch.column(1).to_pylist(), n_buckets)
            for y, (bs, cs) in zip(batch.column(0).to_pylist(), bags):
                b, c = by_y[y]
                b += bs
                c += cs
            # float bincount sums of integer counts: exact below 2^53. A
            # NULL-label doc counts in neither class, but its grams still
            # make their buckets present (with c1 = c0 = 0)
            c1, c0, c_null = (
                np.bincount(
                    np.array(b, dtype=np.int64), np.array(c, dtype=np.int64),
                    n_buckets,
                ).astype(np.int64)
                for b, c in by_y.values()
            )
            hit = np.flatnonzero(c1 + c0 + c_null)
            yield pa.record_batch(
                [pa.array(hit.astype(np.int32)), pa.array(c1[hit]),
                 pa.array(c0[hit])],
                names=["bucket", "c1", "c0"],
            )

    per = (
        ensure_min_parallelism(labeled)
        .select(
            F.col(label_col).cast("boolean").alias("y"),
            F.col(text_col).alias("text"),
        )
        .mapInArrow(class_counts, "bucket int, c1 bigint, c0 bigint")
        .groupBy("bucket")
        .agg(F.sum("c1").alias("c1"), F.sum("c0").alias("c0"))
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
    n_buckets: int = 1 << 18,
    bias: float = 0.0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score every document with a linear model over hashed char
    ``GRAM_N``-grams: margin = sum(cnt_j * w_j) + bias, clf_score =
    sigmoid(margin), clf_keep = margin > 0.

    ``weights`` is any (bucket, w) table (:func:`nb_logodds_weights`
    output or ``LogRegModel.to_df``), <= n_buckets rows by construction
    (both trainers group by bucket, so no bucket repeats). It is quantized
    to decimal(18, ``WEIGHT_DP``) in Spark, collected, and broadcast once
    as a dense list of n_buckets integer units of 10^-WEIGHT_DP, which
    each worker unpickles once. Each doc's margin is then the exact
    integer sum over its :func:`_gram_bags`, returned as the decimal
    Spark's sum of decimal(18, WEIGHT_DP) values would give:
    bit-identical across engines, partitionings and float-add orders
    (CLAUDE.md decimal-sums doctrine). Grams whose bucket has no weight
    contribute 0; every input doc appears in the output (NULL text is one
    '' gram).

    One body for a batch frame and a stream: a map over the scan with no
    shuffle, no join and no state, so stream-static scoring of an
    arriving crawl against frozen weights returns what the batch does
    (parity pinned in tests/test_multimodal_streaming.py).
    ``ensure_min_parallelism`` spreads a one-partition batch input over
    the cores; a stream passes through it.

    Returns a SLIM labels frame (id, margin, clf_score, clf_keep) — the
    dedup_representatives contract. Joining scores back onto full
    documents would co-shuffle the text bodies; filter with a
    broadcast/semi join on the keep ids instead, or join the slim frame
    against a slim projection.
    """
    from pyspark.sql.functions import pandas_udf

    from .partitioning import ensure_min_parallelism

    dec = f"decimal(18,{WEIGHT_DP})"
    units = (
        F.round(F.col("w"), WEIGHT_DP).cast(dec) * F.lit(10**WEIGHT_DP)
    ).cast("bigint")
    wp = weights.select("bucket", units.alias("u")).toArrow()
    w_np = np.zeros(n_buckets, dtype="int64")
    w_np[wp["bucket"].to_numpy().astype("int64")] = wp["u"].to_numpy()
    w_bc = docs.sparkSession.sparkContext.broadcast(w_np.tolist())

    # Spark types sum(decimal(18, s)) as decimal(28, s)
    @pandas_udf(f"decimal(28,{WEIGHT_DP})")
    def weight_sum(texts: pd.Series) -> pd.Series:
        w = w_bc.value  # exact python ints: no int64 wrap-around
        return pd.Series(
            [
                Decimal(sum(map(mul, map(w.__getitem__, bs), cs))).scaleb(
                    -WEIGHT_DP
                )
                for bs, cs in _gram_bags(texts, n_buckets)
            ],
            dtype=object,
        )

    margin = F.col("__m") + F.lit(str(round(bias, WEIGHT_DP))).cast(dec)
    return (
        ensure_min_parallelism(docs)
        .select(
            F.col(id_col).alias("id"), weight_sum(F.col(text_col)).alias("__m")
        )
        .select(
            "id",
            margin.alias("margin"),
            (
                F.lit(1.0) / (F.lit(1.0) + F.exp(-(margin.cast("double"))))
            ).alias("clf_score"),
            (margin > 0).alias("clf_keep"),
        )
    )
