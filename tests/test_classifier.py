"""Learned quality classifier (operators/classifier.py): feature hashing
semantics, NB log-odds + logistic-regression training quality on the
deterministic labeled fixture, exact-decimal scoring, and the broadcast
plan shape."""

from __future__ import annotations

from decimal import Decimal

import pytest
from pyspark.sql import functions as F

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
    w = C.nb_logodds_weights(train, n=3, n_buckets=B)
    acc = _accuracy(C.classifier_score(test, w, n=3, n_buckets=B), test)
    assert acc >= 0.85, acc


def test_logreg_converges_and_separates(spark, splits):
    train, test = splits
    m = C.train_logreg(train, n_buckets=B, iters=25)
    # loss strictly improves by a wide margin (AdaGrad; plain GD diverged)
    assert m.losses[0] == pytest.approx(0.6931, abs=1e-3)
    assert m.losses[-1] < 0.3, m.losses
    acc = _accuracy(
        C.classifier_score(test, m.to_df(spark), n=3, n_buckets=B, bias=m.bias),
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
    feats = {
        r["id"]: r for r in C.hash_ngram_features(d, n_buckets=B).collect()
    }
    w = spark.createDataFrame(
        [(int(feats[1]["bucket"]), 0.123456)], "bucket int, w double"
    )
    out = {
        r["id"]: r
        for r in C.classifier_score(d, w, n=3, n_buckets=B).collect()
    }
    assert len(out) == 3
    assert out[1]["margin"] == Decimal("0.246912")  # 2 * 0.123456, exact
    assert out[2]["margin"] == Decimal("0") and not out[2]["clf_keep"]
    assert out[3]["margin"] == Decimal("0")
    assert out[1]["clf_keep"] and 0.5 < out[1]["clf_score"] < 0.6


def test_classifier_score_plan_shape(spark, splits):
    """The 100 TB scoring path: the weight table must broadcast, no
    cartesian products, and TEXT never keys a shuffle (the slim-labels
    contract — only (id, bucket, cnt) / (id, margin) rows move)."""
    import io
    import contextlib
    import re

    train, _ = splits
    w = C.nb_logodds_weights(train, n=3, n_buckets=B).localCheckpoint(
        eager=True
    )
    scored = C.classifier_score(train, w, n=3, n_buckets=B)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        scored.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    for keys in re.findall(r"hashpartitioning\(([^)]*)\)", plan):
        for key in keys.split(", "):
            assert not re.match(r"text#", key), (key, plan)


def test_mapside_method_agrees_with_relational(spark, splits):
    """The map-side body (classifier_score's streaming arm — zero
    shuffles, broadcast dense weights) must reproduce the exact decimal
    path: margins equal to float tolerance, clf_keep identical on the
    fixture (no fixture margin sits within float noise of 0), every doc
    present — including NULL/short-text edge docs."""
    train, test = splits
    w = C.nb_logodds_weights(train, n=3, n_buckets=B).localCheckpoint(
        eager=True
    )
    edge = test.sparkSession.createDataFrame(
        [(900001, None, 1), (900002, "ab", 0)],
        "doc_id long, text string, label int",
    )
    docs = test.select("doc_id", "text", "label").union(edge)
    dec = {
        r["id"]: r
        for r in C.classifier_score(docs, w, n=3, n_buckets=B).collect()
    }
    raw = {
        r["id"]: r
        for r in C.classifier_score(
            docs, w, n=3, n_buckets=B, quantize=None
        ).collect()
    }
    pan = {
        r["id"]: r
        for r in C._classifier_score_mapside(
            docs, w, 3, B, 0.0, "doc_id", "text"
        ).collect()
    }
    assert set(dec) == set(pan) == set(raw) and len(dec) == docs.count()
    for i, p in pan.items():
        # raw-double relational path: same arithmetic, differs only by
        # float-add order
        assert float(p["margin"]) == pytest.approx(
            float(raw[i]["margin"]), abs=1e-9, rel=1e-9
        ), i
        # decimal gated path: weights rounded to 1e-6 first, so margins
        # differ by <= 0.5e-6 per gram occurrence — but the KEEP decision
        # must agree on the fixture
        assert p["clf_keep"] == dec[i]["clf_keep"], i


def test_mapside_method_plan_is_shuffle_free(spark, splits):
    """The map-side body is a pure map over the scan: no Exchange at all
    in the scored plan (what lets it run on a stream)."""
    import io
    import contextlib

    train, _ = splits
    w = C.nb_logodds_weights(train, n=3, n_buckets=B).localCheckpoint(
        eager=True
    )
    scored = C._classifier_score_mapside(train, w, 3, B, 0.0, "doc_id", "text")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        scored.explain("formatted")
    plan = buf.getvalue()
    assert "Exchange" not in plan, plan
    assert "ArrowEvalPython" in plan, plan
