"""DSIR importance resampling (operators/selection.py — Xie et al. 2023).

The log-ratio fit and decimal margin reuse the gated classifier kernels
(tests/test_classifier.py); these tests pin the NEW pieces: selection is
actually biased toward the target distribution, the deterministic Gumbel
draw is partition/retry independent and salt-keyed, and the two-phase
salt-bucket top-k equals the single global window.
"""

import pytest
from pyspark.sql import functions as F

from chinese_corpus_cleaning_spark.operators.selection import (
    dsir_logratio_weights,
    dsir_select,
)


def _corpus(spark):
    """200 raw docs: 100 'books'-style (ids 0-99), 100 'spam'-style
    (ids 100-199); target = 30 more books-style docs (ids 1000+, distinct
    wording, same character distribution)."""
    books = "这是一本关于历史与哲学的书籍章节讨论思想与文明的发展"
    spam = "点击链接立即购买优惠促销限时折扣赶快下单微信联系"
    rows = [(i, books + str(i % 7)) for i in range(100)]
    rows += [(100 + i, spam + str(i % 7)) for i in range(100)]
    raw = spark.createDataFrame(rows, "doc_id bigint, text string")
    # the target shares the books phrasing (char n-grams are ORDER
    # sensitive — a reshuffled character set would share almost no
    # trigrams and carry no signal), with held-out suffix digits
    tgt = spark.createDataFrame(
        [(1000 + i, books + str(7 + i % 3)) for i in range(30)],
        "doc_id bigint, text string",
    )
    return raw, tgt


def test_selection_is_biased_toward_target(spark):
    raw, tgt = _corpus(spark)
    sel = dsir_select(raw, tgt, k=60, n_buckets=4096)
    ids = [r["doc_id"] for r in sel.collect()]
    assert len(ids) == 60
    n_books = sum(1 for i in ids if i < 100)
    # books-style docs share the target's character distribution; at
    # k=60 over a 50/50 pool an unbiased draw picks ~30
    assert n_books >= 50, n_books
    # and logw separates the styles: every books doc outweighs every spam doc
    w = {
        r["doc_id"]: float(r["logw"])
        for r in dsir_select(raw, tgt, k=200, n_buckets=4096).collect()
    }
    assert min(w[i] for i in range(100)) > max(w[i] for i in range(100, 200))


def test_deterministic_and_partitioning_invariant(spark):
    raw, tgt = _corpus(spark)
    a = {(r["doc_id"], r["sel_rank"]) for r in dsir_select(raw, tgt, k=40).collect()}
    b = {
        (r["doc_id"], r["sel_rank"])
        for r in dsir_select(raw.repartition(11), tgt.repartition(3), k=40).collect()
    }
    assert a == b


def test_salt_keys_independent_draws(spark):
    raw, tgt = _corpus(spark)
    a = {r["doc_id"] for r in dsir_select(raw, tgt, k=40, salt="s1").collect()}
    b = {r["doc_id"] for r in dsir_select(raw, tgt, k=40, salt="s2").collect()}
    assert a != b  # different Gumbel draws
    assert len(a) == len(b) == 40


def test_two_phase_topk_equals_global_window(spark):
    raw, tgt = _corpus(spark)
    multi = {
        (r["doc_id"], r["sel_rank"])
        for r in dsir_select(raw, tgt, k=25, n_salt=64).collect()
    }
    single = {
        (r["doc_id"], r["sel_rank"])
        for r in dsir_select(raw, tgt, k=25, n_salt=1).collect()
    }
    assert multi == single


def test_precomputed_weights_passthrough(spark):
    raw, tgt = _corpus(spark)
    w = dsir_logratio_weights(raw, tgt, n_buckets=4096).localCheckpoint(
        eager=True
    )
    a = {
        (r["doc_id"], r["sel_rank"])
        for r in dsir_select(raw, tgt, k=30, n_buckets=4096, weights=w).collect()
    }
    b = {
        (r["doc_id"], r["sel_rank"])
        for r in dsir_select(raw, tgt, k=30, n_buckets=4096).collect()
    }
    assert a == b


def test_k_larger_than_corpus_returns_all(spark):
    raw, tgt = _corpus(spark)
    sel = dsir_select(raw, tgt, k=10_000)
    assert sel.count() == 200
    ranks = sorted(r["sel_rank"] for r in sel.collect())
    assert ranks == list(range(1, 201))


def test_empty_raw(spark):
    raw, tgt = _corpus(spark)
    empty = spark.createDataFrame([], "doc_id bigint, text string")
    assert dsir_select(empty, tgt, k=10).count() == 0
