"""BM25 retrieval (operators/retrieval.py): driver-side reference
differential, single-vs-batch equality, determinism/tie/NULL edges, and
the zero-wide-shuffle plan shape of the single-query path."""

from __future__ import annotations

import math
import re
from decimal import Decimal

import pytest

from chinese_corpus_cleaning_spark.operators.retrieval import (
    bm25_topk,
    bm25_topk_batch,
)

TEXTS = [
    "spark table scan fast spark spark",
    "slow table scan",
    "spark join merge",
    "the quick brown fox",
    "spark spark spark spark spark spark spark spark",
    "table",
    "",
    None,
    "  \t \n ",
    "SPARK Table MERGE join scan",
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(TEXTS)], "doc_id bigint, text string"
    )


def _ref_bm25(texts, terms, k1=1.2, b=0.75):
    """Plain-Python BM25 with the module's exact semantics."""
    toks = {
        i: [w for w in re.split(r"[ \t\n\r]+", t.lower()) if w]
        for i, t in enumerate(texts)
        if t is not None
    }
    toks = {i: ws for i, ws in toks.items() if ws}
    n = len(toks)
    avgdl = sum(len(ws) for ws in toks.values()) / n
    df = {t: sum(1 for ws in toks.values() if t in ws) for t in terms}
    scores = {}
    for i, ws in toks.items():
        q = Decimal(0)
        for t in terms:
            tf = ws.count(t)
            idf = math.log((n - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
            c = idf * (tf * (k1 + 1.0)) / (
                tf + k1 * (1.0 - b + b * (len(ws) / avgdl))
            )
            q += Decimal(str(round(c, 6)))
        if q > 0:
            scores[i] = q
    return sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))


def test_matches_reference(spark, docs):
    terms = ["spark", "table"]
    got = bm25_topk(docs, terms, k=10).collect()
    want = _ref_bm25(TEXTS, terms)
    assert [(r["doc_id"], r["score"]) for r in got] == want
    assert [r["rank"] for r in got] == list(range(1, len(want) + 1))


def test_k_truncates_and_order_is_deterministic(spark, docs):
    got = bm25_topk(docs, ["spark", "table"], k=3).collect()
    want = _ref_bm25(TEXTS, ["spark", "table"])[:3]
    assert [(r["doc_id"], r["score"]) for r in got] == want


def test_ties_break_on_doc_id(spark):
    # identical docs -> identical scores -> ascending-id order
    d = spark.createDataFrame(
        [(9, "x y"), (3, "x y"), (5, "x y")], "doc_id bigint, text string"
    )
    got = bm25_topk(d, ["x"], k=3).collect()
    assert [r["doc_id"] for r in got] == [3, 5, 9]
    assert len({r["score"] for r in got}) == 1


def test_case_and_duplicate_terms_fold(spark, docs):
    a = bm25_topk(docs, ["SPARK", "spark", "Table"], k=10).collect()
    b_ = bm25_topk(docs, ["spark", "table"], k=10).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b_]


def test_absent_term_contributes_nothing(spark, docs):
    a = bm25_topk(docs, ["spark", "zzz_absent"], k=10).collect()
    b_ = bm25_topk(docs, ["spark"], k=10).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b_]


def test_all_terms_absent_yields_empty(spark, docs):
    assert bm25_topk(docs, ["zzz_absent"], k=10).count() == 0


def test_batch_empty_corpus_preserves_id_type(spark):
    """The empty-corpus early return must carry the INPUT id type (review
    finding: it hardcoded bigint, so a string-id corpus whose texts were
    all NULL/whitespace produced a union/join-incompatible frame)."""
    empty_str_ids = spark.createDataFrame(
        [("a", None), ("b", "  \n ")], "doc_id string, text string"
    )
    out = bm25_topk_batch(empty_str_ids, {"q": ["spark"]}, k=3)
    assert out.count() == 0
    assert dict(out.dtypes)["doc_id"] == "string"
    # and it unions cleanly with a non-empty run over the same id type
    nonempty = spark.createDataFrame(
        [(str(i), t) for i, t in enumerate(TEXTS)], "doc_id string, text string"
    )
    got = bm25_topk_batch(nonempty, {"q": ["spark"]}, k=3)
    assert out.unionByName(got).count() == got.count()


def test_empty_terms_raise(spark, docs):
    with pytest.raises(ValueError):
        bm25_topk(docs, [])
    with pytest.raises(ValueError):
        bm25_topk(docs, [""])


def test_batch_query_without_terms_returns_no_rows(spark):
    """One query with no usable term must not fail the whole batch: it
    returns no rows and the other queries score as on their own."""
    from __spark_entry__ import SF0001

    d = spark.read.parquet(f"{SF0001}/documents.parquet")
    got = bm25_topk_batch(d, {"q1": ["the", "data"], "q3": []}, k=5)
    rows = got.collect()
    assert rows and {r["query_id"] for r in rows} == {"q1"}
    alone = bm25_topk_batch(d, {"q1": ["the", "data"]}, k=5).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, alone))
    assert bm25_topk_batch(d, {"q3": [""]}, k=5).count() == 0


def test_batch_matches_single(spark, docs):
    queries = {
        "q_a": ["spark", "table"],
        "q_b": ["merge", "join"],
        "q_c": ["zzz_absent"],
    }
    batch = bm25_topk_batch(docs, queries, k=10).collect()
    by_q = {}
    for r in batch:
        by_q.setdefault(r["query_id"], []).append(
            (r["doc_id"], r["score"], r["rank"])
        )
    for qid, terms in queries.items():
        single = bm25_topk(docs, terms, k=10).collect()
        assert by_q.get(qid, []) == [
            (r["doc_id"], r["score"], r["rank"]) for r in single
        ], qid


def test_batch_partitioning_invariance(spark, docs):
    a = bm25_topk_batch(docs.repartition(7), {"q": ["spark", "table"]}, k=10)
    b_ = bm25_topk_batch(docs.coalesce(1), {"q": ["spark", "table"]}, k=10)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b_.collect()))


def test_single_plan_no_wide_shuffle(spark, docs):
    """The single-query path's only Exchange feeds the one-row stats agg;
    the corpus is never sort-merge-joined, range-partitioned, or
    cartesian-joined."""
    import io
    from contextlib import redirect_stdout

    out = bm25_topk(docs, ["spark", "table"], k=5)
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "SortMergeJoin" not in plan
    assert "rangepartitioning" not in plan.lower()
    assert "CartesianProduct" not in plan


def test_batch_query_table_is_arrow_built(spark, docs):
    """The (query_id, term, df) table is built through Arrow: a
    LocalRelation with exact statistics, not a statistics-less LogicalRDD
    of pickled rows."""
    out = bm25_topk_batch(docs, {"q_a": ["spark", "table"], "q_b": ["join"]}, k=3)
    plan = out._jdf.queryExecution().analyzed().toString()
    assert re.search(r"LocalRelation \[query_id#\d+, term#\d+, df#\d+\]", plan), plan
    assert not re.search(r"LogicalRDD \[query_id#", plan), plan
