"""Round-5 operators: corpus-level boilerplate-line removal, Gopher cuts in
the composite keep, and crawl-frontier dedup (canonical-URL dedup + salted
per-host rollup)."""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from chinese_corpus_cleaning_spark.operators import textanalysis as ta


def _explained(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def bp_docs(spark):
    """20 docs, each with: a unique lead line, a footer planted in ALL docs,
    a social line planted in half, and a unique tail."""
    rows = [
        (
            i,
            f"lead {i} unique\nCOPYRIGHT FOOTER\n"
            + ("follow us everywhere\n" if i % 2 == 0 else "")
            + f"tail {i}",
        )
        for i in range(20)
    ]
    return rows, None


def test_boilerplate_removed_everywhere_unique_survive(spark, bp_docs):
    rows, _ = bp_docs
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in ta.remove_boilerplate(d, min_doc_frac=0.3).collect()
    }
    for i in range(20):
        clean = out[i]["clean_text"]
        # the planted boilerplate is gone from EVERY doc
        assert "COPYRIGHT FOOTER" not in clean
        assert "follow us everywhere" not in clean
        # unique lines survive verbatim, in order
        assert clean == f"lead {i} unique\ntail {i}"
        assert out[i]["n_lines_removed"] == (2 if i % 2 == 0 else 1)


def test_boilerplate_threshold_absolute_and_empty_set(spark):
    d = spark.createDataFrame(
        [(1, "a\nb"), (2, "c\nd")], "doc_id long, text string"
    )
    # no line repeats across docs -> empty boilerplate set -> texts unchanged
    out = {r["doc_id"]: r for r in ta.remove_boilerplate(d, min_docs=2).collect()}
    assert out[1]["clean_text"] == "a\nb" and out[1]["n_lines_removed"] == 0
    # min_docs=1 marks every line boilerplate
    out1 = {r["doc_id"]: r for r in ta.remove_boilerplate(d, min_docs=1).collect()}
    assert out1[1]["clean_text"] == "" and out1[1]["n_lines_removed"] == 2
    with pytest.raises(ValueError):
        ta.remove_boilerplate(d)
    with pytest.raises(ValueError):
        ta.remove_boilerplate(d, min_docs=2, min_doc_frac=0.5)


def test_boilerplate_empty_lines_preserved(spark):
    """Empty lines never enter the frequency count (their digest can't become
    boilerplate) and survive removal untouched."""
    d = spark.createDataFrame(
        [(i, f"x{i}\n\nBOILER\n\ny{i}") for i in range(4)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in ta.remove_boilerplate(d, min_docs=3).collect()}
    assert out[0]["clean_text"] == "x0\n\n\ny0"
    assert out[0]["n_lines_removed"] == 1


def test_gopher_pass_col_cuts(spark):
    """A doc over any single Gopher bound fails; a clean doc passes."""
    d = spark.createDataFrame(
        [
            # 4 lines, 2 dup -> dup_line_frac 0.5 > 0.30
            (1, "same line\nsame line\nsame line\nother text here now"),
            # one dominant bigram: "b b" repeated
            (2, " ".join(["b"] * 30)),
            # diverse prose
            (3, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        ],
        "doc_id long, text string",
    )
    rep = ta.repetition_signals(d)
    out = {
        r["doc_id"]: r
        for r in rep.withColumn("gp", ta.gopher_pass_col()).collect()
    }
    assert out[1]["gp"] is False and out[1]["dup_line_frac"] == 0.5
    assert out[2]["gp"] is False and out[2]["top_bigram_frac"] == 1.0
    assert out[3]["gp"] is True


def test_crawl_frontier_matches_direct_and_salts_hot_host(spark):
    """One host at 30%: rollup matches the unsalted direct computation, and
    the FIRST aggregation's grouping keys include the salt column so the hot
    host spreads across reducers (no single-reducer hot key)."""
    rows = []
    for i in range(200):
        host = "hot.example.com" if i % 10 < 3 else f"site{i % 7}.example.com"
        # ~half the hot-host URLs collide pairwise after canonicalization
        path = f"/p/{i // 2}" if host == "hot.example.com" else f"/p/{i}"
        rows.append((i, f"HTTPS://{host.upper()}:443{path}"))
    d = spark.createDataFrame(rows, "doc_id long, url string")
    out = ta.crawl_frontier_dedup(d)

    direct = (
        ta.url_dedup(d)
        .select(
            F.regexp_extract(
                "canon_url", "^[a-z][a-z0-9+.-]*://([^/?]+)", 1
            ).alias("host"),
            "is_duplicate_url",
        )
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.sum(F.col("is_duplicate_url").cast("long")).alias("n_dup"),
        )
    )
    got = {r["host"]: (r["n_urls"], r["n_dup"]) for r in out.collect()}
    want = {r["host"]: (r["n_urls"], r["n_dup"]) for r in direct.collect()}
    assert got == want
    assert got["hot.example.com"][0] == 60

    plan = _explained(out)
    # the partial (host, salt) aggregate must appear before the host-only one
    agg_lines = [ln for ln in plan.splitlines() if "Keys" in ln and "host" in ln]
    assert any("salt" in ln for ln in agg_lines), plan


# ------------------------------------------------- cross-doc span duplication


SHARED = (
    "the quick brown fox jumps over the lazy dog while the band plays on"
    " and the crowd cheers loudly for more verses of the song"
)


def test_span_dup_detects_shared_passage_at_any_offset(spark):
    """The same passage embedded at DIFFERENT offsets (prefix, middle,
    suffix) must be detected in every carrier — the alignment-robustness
    property stride-windowing lacks; a doc without it scores 0."""
    rows = [
        ("a", SHARED + " unique ending for document alpha here"),
        ("b", "totally different opening for beta " + SHARED),
        ("c", "gamma starts here " + SHARED + " and gamma ends here"),
        ("d", "delta shares nothing with the others and talks about"
              " completely unrelated topics in its own distinct words"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = {r["doc_id"]: r for r in ta.cross_doc_span_dup(df).collect()}
    for i in ("a", "b", "c"):
        assert out[i]["n_dup_fingerprints"] > 0, i
        assert out[i]["dup_span_frac"] > 0.0
    assert out["d"]["n_dup_fingerprints"] == 0
    assert out["d"]["dup_span_frac"] == 0.0
    # every doc long enough to carry fingerprints has some
    assert all(out[i]["n_fingerprints"] > 0 for i in "abcd")


def test_span_dup_min_docs_threshold(spark):
    """min_docs above the carrier count suppresses the signal."""
    rows = [("a", SHARED + " tail a"), ("b", SHARED + " tail b")]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    hot = ta.cross_doc_span_dup(df, min_docs=2).collect()
    cold = ta.cross_doc_span_dup(df, min_docs=3).collect()
    assert any(r["n_dup_fingerprints"] > 0 for r in hot)
    assert all(r["n_dup_fingerprints"] == 0 for r in cold)


def test_span_dup_short_empty_null_text(spark):
    """len<k docs fall back to a single whole-text gram, so byte-identical
    short docs match each other. Empty text is the degenerate case of that
    fallback: ONE empty-gram fingerprint (md5('')'s h60 happens to be
    selected at p=16 — deterministic, engine-identical), so two empty docs
    count as mutual duplicates. NULL text yields a zero-fingerprint row
    (never dropped)."""
    rows = [("s1", "tiny"), ("s2", "tiny"), ("e", ""), ("n", None)]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = {r["doc_id"]: r for r in ta.cross_doc_span_dup(df).collect()}
    assert set(out) == {"s1", "s2", "e", "n"}
    assert out["s1"]["n_dup_fingerprints"] == out["s2"]["n_dup_fingerprints"]
    assert out["e"]["n_fingerprints"] == 1  # the empty whole-text gram
    assert out["e"]["n_dup_fingerprints"] == 0  # only one empty doc here
    assert out["n"]["n_fingerprints"] == 0
    assert out["n"]["dup_span_frac"] == 0.0


def test_span_dup_no_text_shuffle(spark):
    """Only slim (id, fp) rows shuffle: no Exchange carries the text col."""
    rows = [("a", SHARED), ("b", SHARED)]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    plan = _explained(ta.cross_doc_span_dup(df))
    import re

    for m in re.finditer(r"Exchange [^\n]*", plan):
        assert "text" not in m.group(0), m.group(0)


# ----------------------------------------------------- stratified sampling


@pytest.fixture(scope="module")
def strat_docs(spark):
    """40 docs over strata sized 2, 5, 13, 20 — below, at, and far above
    the k=3 quota."""
    rows, i = [], 0
    for src, n in (("a", 2), ("b", 5), ("c", 13), ("d", 20)):
        for _ in range(n):
            rows.append((i, src))
            i += 1
    return spark.createDataFrame(rows, "doc_id long, source string")


def test_stratified_sample_exact_quota_and_ranks(spark, strat_docs):
    from chinese_corpus_cleaning_spark.operators.sampling import (
        stratified_sample,
    )

    out = stratified_sample(strat_docs, ("source",), k=3).collect()
    by_src: dict[str, list] = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r["sample_rank"])
    # exactly min(k, |stratum|) rows, ranks dense from 1
    assert sorted(by_src["a"]) == [1, 2]
    for src in "bcd":
        assert sorted(by_src[src]) == [1, 2, 3]


def test_stratified_sample_two_phase_matches_naive_and_salt_invariant(
    spark, strat_docs
):
    """The salted two-phase shape must select the identical set as the
    naive single-window form (min-k associativity), for any salt_buckets."""
    from pyspark.sql import Window

    from chinese_corpus_cleaning_spark.functions.hashing import h60_sql
    from chinese_corpus_cleaning_spark.operators.sampling import (
        stratified_sample,
    )

    w = Window.partitionBy("source").orderBy(F.col("__h"), F.col("doc_id"))
    naive = (
        strat_docs.withColumn(
            "__h", F.expr(h60_sql("cast(doc_id as string)"))
        )
        .withColumn("sample_rank", F.row_number().over(w))
        .where(F.col("sample_rank") <= 3)
        .select("doc_id", "source", "sample_rank")
    )
    expect = sorted(map(tuple, naive.collect()))
    for buckets in (1, 4, 16):
        got = sorted(
            map(
                tuple,
                stratified_sample(
                    strat_docs, ("source",), k=3, salt_buckets=buckets
                )
                .select("doc_id", "source", "sample_rank")
                .collect(),
            )
        )
        assert got == expect, f"salt_buckets={buckets}"


def test_stratified_sample_prefix_stability(spark, strat_docs):
    """sample_rank <= j of a k-sample IS the j-sample (prefix property)."""
    from chinese_corpus_cleaning_spark.operators.sampling import (
        stratified_sample,
    )

    k3 = stratified_sample(strat_docs, ("source",), k=3)
    k1 = stratified_sample(strat_docs, ("source",), k=1)
    got = sorted(
        map(tuple, k3.where(F.col("sample_rank") == 1).select(
            "doc_id", "source").collect())
    )
    expect = sorted(map(tuple, k1.select("doc_id", "source").collect()))
    assert got == expect
