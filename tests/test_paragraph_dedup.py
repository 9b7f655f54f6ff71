"""Corpus-wide exact paragraph dedup (operators/textanalysis.
paragraph_dedup — MassiveText §A1.2 / Dolma). The reference's own dedup
is per-file line-level (clear_redundancy.py:172-190); these tests pin the
global first-occurrence semantics, the deterministic (h60(id), id, idx)
order, and the text-never-shuffles plan shape.
"""

import hashlib

import pytest
from pyspark.sql import functions as F

from chinese_corpus_cleaning_spark.operators.textanalysis import paragraph_dedup


def _h60(s) -> int:
    return int(hashlib.md5(str(s).encode()).hexdigest()[:15], 16)


def _py_paragraph_dedup(rows, min_chars=1):
    """Driver-side oracle with identical rules."""
    paras = []
    for doc_id, text in rows:
        if text is None:
            continue
        for idx, p in enumerate(text.split("\n")):
            if len(p) >= min_chars:
                paras.append((_h60(doc_id), doc_id, idx, p))
    first = {}
    for ordk, doc_id, idx, p in sorted(paras):
        first.setdefault(p, (ordk, doc_id, idx))
    out = {}
    for doc_id, text in rows:
        if text is None:
            out[doc_id] = (None, 0, 0)
            continue
        parts = text.split("\n")
        kept, dropped = [], 0
        for idx, p in enumerate(parts):
            if len(p) >= min_chars and first[p] != (_h60(doc_id), doc_id, idx):
                dropped += 1
            else:
                kept.append(p)
        out[doc_id] = ("\n".join(kept), len(parts), dropped)
    return out


ROWS = [
    (1, "unique one\nSHARED FOOTER\nmore text"),
    (2, "SHARED FOOTER\nunique two"),
    (3, "unique three\n\nSHARED FOOTER"),
    (4, None),
    (5, ""),
    (6, "unique one"),
    (7, "SHARED FOOTER\nSHARED FOOTER"),  # within-doc repeat: later idx drops
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(ROWS, "doc_id bigint, text string")


def test_matches_driver_oracle(docs):
    expected = _py_paragraph_dedup(ROWS)
    got = {
        r["doc_id"]: (r["text"], r["n_paras"], r["n_dropped"])
        for r in paragraph_dedup(docs).collect()
    }
    assert got == expected


def test_exactly_one_copy_of_each_duplicated_paragraph_survives(docs):
    out = paragraph_dedup(docs).collect()
    survivors = []
    for r in out:
        if r["text"]:
            survivors += [p for p in r["text"].split("\n") if p]
    assert survivors.count("SHARED FOOTER") == 1
    assert survivors.count("unique one") == 1
    # and blank-line structure survived (doc 3 kept its empty paragraph)
    d3 = next(r for r in out if r["doc_id"] == 3)
    assert "\n" in d3["text"]


def test_partitioning_and_broadcast_invariant(spark, docs):
    """Same output under repartitioning, and whether AQE broadcasts the
    drop table or shuffles it (broadcast joins disabled)."""
    def rows(df):
        return {
            (r["doc_id"], r["text"], r["n_dropped"])
            for r in paragraph_dedup(df).collect()
        }

    base = rows(docs)
    repart = rows(docs.repartition(7))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        shuffled = rows(docs)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert base == repart == shuffled


def test_no_duplicates_is_identity(spark):
    rows = [(i, f"alpha {i}\nbeta {i}") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r["doc_id"]: r for r in paragraph_dedup(df).collect()}
    for i, text in rows:
        assert out[i]["text"] == text
        assert out[i]["n_dropped"] == 0
        assert out[i]["n_paras"] == 2


def test_min_chars_excludes_short_paragraphs(spark):
    # 'ab' duplicated everywhere but below min_chars=3 -> never dropped
    rows = [(1, "ab\nlong paragraph"), (2, "ab\nother paragraph"), (3, "ab")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r["doc_id"]: r for r in paragraph_dedup(df, min_chars=3).collect()}
    assert all(o["n_dropped"] == 0 for o in out.values())
    assert out[3]["text"] == "ab"


def test_passthrough_columns_preserved(spark):
    df = spark.createDataFrame(
        [(1, "x\ny", "zh"), (2, "x\nz", "en")],
        "doc_id bigint, text string, lang string",
    )
    out = paragraph_dedup(df)
    assert set(out.columns) == {"doc_id", "lang", "text", "n_paras", "n_dropped"}
    assert {r["lang"] for r in out.collect()} == {"zh", "en"}


def test_text_never_keys_a_shuffle(docs):
    """The dedup decision runs on slim hash rows; document text must not
    appear in any Exchange's output schema (the repo's dedup doctrine —
    cf. test_dedup_edges_never_shuffle_on_text)."""
    plan = paragraph_dedup(docs)._jdf.queryExecution().toString()
    import re

    for m in re.finditer(r"Exchange (hashpartitioning|rangepartitioning)\(([^)]*)\)", plan):
        assert "text" not in m.group(2), m.group(0)


def test_empty_table(spark):
    empty = spark.createDataFrame([], "doc_id bigint, text string")
    assert paragraph_dedup(empty).count() == 0
