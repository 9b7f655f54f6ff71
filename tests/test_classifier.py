"""Learned quality classifier (operators/classifier.py): feature hashing
semantics, NB log-odds + logistic-regression training quality on the
deterministic labeled fixture, exact-decimal scoring against a
driver-side Decimal reference, and the map-only scoring plan shape."""

from __future__ import annotations

from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from chinese_corpus_cleaning_spark.functions.hashing import h60
from chinese_corpus_cleaning_spark.operators import classifier as C
from chinese_corpus_cleaning_spark.sources.gen import labeled_docs_df

B = 4096


@pytest.fixture(scope="module")
def splits(spark):
    train = labeled_docs_df(spark, 600).where(
        F.col("doc_id") % 3 != 0
    ).cache()
    test = labeled_docs_df(spark, 600).where(F.col("doc_id") % 3 == 0).cache()
    train.count(), test.count()
    yield train, test
    train.unpersist(), test.unpersist()


def _accuracy(scored, labeled):
    joined = scored.join(
        labeled.select(F.col("doc_id").alias("id"), "label"), "id"
    )
    return joined.agg(
        F.avg((F.col("clf_keep") == (F.col("label") == 1)).cast("double"))
    ).first()[0]


def test_hash_ngram_features_semantics(spark):
    d = spark.createDataFrame(
        [(1, "abcd"), (2, "ab"), (3, None), (4, "aaaa")],
        "doc_id long, text string",
    )
    rows = C.hash_ngram_features(d, n_buckets=B).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r["id"], []).append(r)
    # 'abcd' -> grams abc, bcd (2 distinct buckets w.h.p., cnt 1 each)
    assert sum(r["cnt"] for r in by_id[1]) == 2
    # shorter than n -> whole text as one gram
    assert len(by_id[2]) == 1 and by_id[2][0]["cnt"] == 1
    # NULL behaves as '' -> one empty gram
    assert len(by_id[3]) == 1 and by_id[3][0]["cnt"] == 1
    # multiplicity is KEPT: 'aaaa' -> gram 'aaa' twice, same bucket
    assert len(by_id[4]) == 1 and by_id[4][0]["cnt"] == 2
    assert all(0 <= r["bucket"] < B for r in rows)


def test_nb_logodds_separates_fixture(spark, splits):
    train, test = splits
    w = C.nb_logodds_weights(train, n_buckets=B)
    acc = _accuracy(C.classifier_score(test, w, n_buckets=B), test)
    assert acc >= 0.85, acc


def test_logreg_converges_and_separates(spark, splits):
    train, test = splits
    m = C.train_logreg(train, n_buckets=B, iters=25)
    # loss strictly improves by a wide margin (AdaGrad; plain GD diverged)
    assert m.losses[0] == pytest.approx(0.6931, abs=1e-3)
    assert m.losses[-1] < 0.3, m.losses
    acc = _accuracy(
        C.classifier_score(test, m.to_df(spark), n_buckets=B, bias=m.bias),
        test,
    )
    assert acc >= 0.9, acc
    # held-out accuracy also beats the label prior (classes are imbalanced)
    prior = max(
        r[0]
        for r in test.groupBy("label").count().select(
            (F.col("count") / test.count())
        ).collect()
    )
    assert acc > prior


def test_classifier_score_exact_decimal_and_total_rows(spark):
    """margin must be EXACT decimal arithmetic: a handcrafted one-bucket
    model yields cnt * w with no float fuzz; docs with no matching bucket
    score exactly 0; every input doc appears in the slim labels frame."""
    d = spark.createDataFrame(
        [(1, "aaaa"), (2, "zzzz"), (3, None)], "doc_id long, text string"
    )
    w = spark.createDataFrame(
        [(h60("aaa") % B, 0.123456)], "bucket int, w double"
    )
    out = {
        r["id"]: r
        for r in C.classifier_score(d, w, n_buckets=B).collect()
    }
    assert len(out) == 3
    assert out[1]["margin"] == Decimal("0.246912")  # 2 * 0.123456, exact
    assert out[2]["margin"] == Decimal("0") and not out[2]["clf_keep"]
    assert out[3]["margin"] == Decimal("0")
    assert out[1]["clf_keep"] and 0.5 < out[1]["clf_score"] < 0.6


def _formatted_plan(df) -> str:
    import io
    import contextlib

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_classifier_score_plan_shape(spark, splits):
    """Scoring is a map over the scan, batch and stream alike: no join,
    no cartesian product, no hash-partitioned Exchange (text never keys
    a shuffle), and one Arrow UDF node. A round-robin Exchange from
    ensure_min_parallelism is allowed: it spreads a small-partition
    input over the cores."""
    import re

    train, _ = splits
    w = C.nb_logodds_weights(train, n_buckets=B).localCheckpoint(eager=True)
    plan = _formatted_plan(
        C.classifier_score(train.coalesce(1), w, n_buckets=B)
    )
    assert "Join" not in plan and "CartesianProduct" not in plan, plan
    assert "hashpartitioning" not in plan, plan
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", plan)) == 1, plan


def test_mapside_method_plan_is_shuffle_free(spark, splits):
    """On an input already spread over the cores the scored plan has no
    Exchange at all: scoring is a pure map over the scan (what lets the
    same body run on a stream)."""
    train, _ = splits
    w = C.nb_logodds_weights(train, n_buckets=B).localCheckpoint(eager=True)
    spread = train.repartition(
        spark.sparkContext.defaultParallelism
    ).localCheckpoint(eager=True)
    plan = _formatted_plan(C.classifier_score(spread, w, n_buckets=B))
    assert "Exchange" not in plan, plan
    assert "ArrowEvalPython" in plan, plan


def _reference_margin(text, weights) -> Decimal:
    """Driver-side reference, written independently of the kernel: every
    char 3-gram occurrence (NULL as '', a shorter text as one gram) adds
    its bucket's weight rounded half-up to 6 dp, in exact Decimal."""
    t = text or ""
    grams = [t] if len(t) < 3 else [t[i : i + 3] for i in range(len(t) - 2)]
    return sum(
        (
            Decimal(repr(weights.get(h60(g) % B, 0.0))).quantize(
                Decimal("0.000001"), rounding="ROUND_HALF_UP"
            )
            for g in grams
        ),
        Decimal(0),
    )


def test_classifier_score_matches_decimal_reference(spark, splits):
    """Every margin equals the driver-side Decimal sum of its grams'
    quantized weights, to the last digit — on the held-out fixture plus
    NULL, empty, short and repeated-gram edge docs — and clf_keep is
    margin > 0."""
    train, test = splits
    w = C.nb_logodds_weights(train, n_buckets=B).localCheckpoint(eager=True)
    weights = {r["bucket"]: r["w"] for r in w.collect()}
    edge = test.sparkSession.createDataFrame(
        [(900001, None), (900002, "ab"), (900003, ""), (900004, "aaaaaa")],
        "doc_id long, text string",
    )
    docs = test.select("doc_id", "text").union(edge)
    ref = {
        r["doc_id"]: _reference_margin(r["text"], weights)
        for r in docs.collect()
    }
    got = {
        r["id"]: r for r in C.classifier_score(docs, w, n_buckets=B).collect()
    }
    assert set(got) == set(ref) and len(got) == docs.count()
    for i, r in got.items():
        assert r["margin"] == ref[i], (i, r["margin"], ref[i])
        assert r["clf_keep"] == (ref[i] > 0), i
