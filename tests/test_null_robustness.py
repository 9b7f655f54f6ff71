"""Null/empty-input robustness: a 100 TB crawl WILL contain null texts,
empty strings, and empty tables — no operator may crash on them, and the
error-isolation contract (per-doc error rows, not job failure) must hold."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from chinese_corpus_cleaning_spark.config import DedupConfig
from chinese_corpus_cleaning_spark.operators import dedup, perplexity, textanalysis


@pytest.fixture(scope="module")
def nullish(spark):
    return spark.createDataFrame(
        [(1, None), (2, ""), (3, "normal text with words"), (4, "a")],
        "doc_id long, text string",
    )


def test_minhash_handles_null_and_empty(spark, nullish):
    cfg = DedupConfig(num_hashes=16, num_bands=4)
    rows = {r["doc_id"]: r for r in dedup.with_minhash(nullish, cfg).collect()}
    assert len(rows) == 4
    # null text -> null shingle array -> sentinel signature (perm_min branch)
    from chinese_corpus_cleaning_spark.functions.hashing import MINHASH_P

    assert list(rows[1]["minhash"]) == [MINHASH_P] * 16
    # empty text hashes one '' shingle (engine-unified semantics)
    assert list(rows[2]["minhash"]) != [MINHASH_P] * 16


def test_dedup_representatives_with_nulls(spark, nullish):
    out = {r["id"]: r for r in dedup.dedup_representatives(nullish).collect()}
    assert set(out) == {1, 2, 3, 4}
    assert all(out[i]["component"] is not None for i in out)


def test_quality_pipeline_error_isolation(spark, nullish):
    """Empty text raises ZeroDivisionError in rule scoring (reference quirk);
    the pipeline must map it to an error ROW, not fail the job. Null text
    likewise."""
    from chinese_corpus_cleaning_spark.functions.dfa import build_trie
    from chinese_corpus_cleaning_spark.operators.quality import with_quality

    bc = spark.sparkContext.broadcast(build_trie(["spark"]))
    rows = {
        r["doc_id"]: r
        for r in with_quality(nullish.select("doc_id", "text"), bc).collect()
    }
    assert len(rows) == 4
    assert rows[2]["error"] is not None and not rows[2]["keep"]
    assert rows[1]["error"] is not None and not rows[1]["keep"]
    assert rows[3]["error"] is None


def test_text_analysis_ops_survive_nulls(spark, nullish):
    assert textanalysis.token_stats(nullish).count() == 4
    assert textanalysis.langid_relational(nullish).count() == 4
    assert textanalysis.feature_ac_matches(nullish, ("spark", "a")).count() == 4
    assert textanalysis.vocab_topk(nullish, k=5).count() <= 5
    assert textanalysis.doc_length_histogram(nullish).count() >= 1
    # round-4 ops: every input doc gets a row, null text -> zeroed signals
    rep = {r["doc_id"]: r for r in textanalysis.repetition_signals(nullish).collect()}
    assert set(rep) == {1, 2, 3, 4}
    assert rep[1]["n_lines"] == 0 and rep[1]["dup_line_frac"] == 0.0
    assert rep[2]["dup_trigram_frac"] == 0.0


def test_url_dedup_nulls_and_schemeless(spark):
    """Null and scheme-less URLs must not crash canonicalization; nulls form
    no group (SQL null semantics), scheme-less fall back to lowercasing."""
    d = spark.createDataFrame(
        [
            (1, "HTTP://A.b:80/x/"),
            (2, "http://a.B/x"),
            (3, None),
            (4, "no-scheme/PATH"),
        ],
        "doc_id long, url string",
    )
    out = {r["doc_id"]: r for r in textanalysis.url_dedup(d).collect()}
    assert out[1]["canon_url"] == "http://a.b/x" == out[2]["canon_url"]
    assert out[1]["is_duplicate_url"] is False
    assert out[2]["is_duplicate_url"] is True
    assert out[4]["canon_url"] == "no-scheme/path"
    # null url: canonical is null; the group join drops it, so the row is
    # absent from the dedup output rather than crashing — callers keep null
    # urls out of the url-dedup stage like any other key-less row
    assert 3 not in out


def test_url_canonical_query_string_is_opaque(spark):
    """Trailing-slash trim applies to the path only: '?next=/' vs '?next='
    are DISTINCT urls (query values are opaque), while a trailing slash on
    the path itself still canonicalizes away (r4 ADVICE probe)."""
    d = spark.createDataFrame(
        [
            (1, "https://a.example.com/p?next=/"),
            (2, "https://a.example.com/p?next="),
            (3, "https://a.example.com/p/?next=1"),
            (4, "https://a.example.com/p?next=1"),
        ],
        "doc_id long, url string",
    )
    out = {r["doc_id"]: r["canon_url"] for r in textanalysis.url_dedup(d).collect()}
    assert out[1] == "https://a.example.com/p?next=/"
    assert out[2] == "https://a.example.com/p?next="
    assert out[1] != out[2]
    # path slash before '?' trims; query untouched
    assert out[3] == "https://a.example.com/p?next=1" == out[4]


def test_host_rollup_malformed_and_null_urls(spark):
    """One malformed URL must not abort the rollup (strict parse_url raises
    INVALID_URL under ANSI mode): it rolls up, with NULL urls, under a NULL
    host, and the well-formed hosts keep their exact totals."""
    d = spark.createDataFrame(
        [
            ("http://a b/c", "xyz"),
            (None, "q"),
            ("https://h.example.com/x", "abc"),
            ("https://h.example.com/y", "de"),
        ],
        "url string, text string",
    )
    out = {r["host"]: r for r in textanalysis.host_rollup(d).collect()}
    assert set(out) == {None, "h.example.com"}
    assert (out[None]["n_docs"], out[None]["total_chars"]) == (2, 4)
    assert (out["h.example.com"]["n_docs"], out["h.example.com"]["total_chars"]) == (2, 5)


def test_decontaminate_short_docs(spark, nullish):
    """Docs with fewer than n tokens (the norm for unsegmented Chinese text,
    which whitespace-splits to ONE token) must yield zero n-grams, not a
    SparkRuntimeException from sequence(n, size) descending when size < n.
    DuckDB's generate_series yields an empty list for the same docs — the
    engines must agree that short docs are simply uncontaminated."""
    docs = spark.createDataFrame(
        [
            (1, "短中文文本没有空格"),           # 1 token < n
            (2, "three tokens only"),             # 3 tokens < n
            (3, "a b c d e f g h i j k l m n"),   # 14 tokens >= n
            (4, ""),                               # empty -> 1 empty token
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(1, "a b c d e f g h zz")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r
        for r in textanalysis.decontaminate_overlap(docs, bench, n=8).collect()
    }
    assert len(out) == 4
    assert out[1]["n_overlap"] == 0 and not out[1]["contaminated"]
    assert out[2]["n_overlap"] == 0
    assert out[3]["contaminated"]  # shares the 'a b c d e f g h' 8-gram
    assert out[4]["n_overlap"] == 0
    # null text must also survive (explode of empty gram array drops the row,
    # the left join restores it)
    assert textanalysis.decontaminate_overlap(nullish, bench, n=8).count() == 4


def test_perplexity_survives_nulls(spark, nullish):
    clean = nullish.where(F.col("text").isNotNull())
    model = perplexity.ngram_counts(clean, n=3)
    out = perplexity.perplexity_relational(clean, model, n=3).collect()
    assert len(out) == 3
    assert all(r["ppl"] is not None for r in out)


def test_empty_table_through_dedup(spark):
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert dedup.dedup_representatives(empty).count() == 0


def test_boilerplate_ops_survive_nulls(spark, nullish):
    """round-5 ops (ADVICE r5): NULL text must behave as '' — clean_text '',
    zero lines removed — not propagate NULL through split/size arithmetic."""
    dup = spark.createDataFrame(
        [(10, "nav\nbody ten"), (11, "nav\nbody eleven"), (12, None), (13, "")],
        "doc_id long, text string",
    )
    bl = {r["line_md5"] for r in textanalysis.boilerplate_lines(dup, min_docs=2).collect()}
    assert len(bl) == 1  # only 'nav'; NULL/'' rows contribute nothing
    out = {
        r["doc_id"]: r
        for r in textanalysis.remove_boilerplate(dup, min_docs=2).collect()
    }
    assert out[10]["clean_text"] == "body ten" and out[10]["n_lines_removed"] == 1
    assert out[12]["clean_text"] == "" and out[12]["n_lines_removed"] == 0
    assert out[13]["clean_text"] == "" and out[13]["n_lines_removed"] == 0
    # span-dup already documents NULL -> zero-fingerprint row; pin it
    sd = {r["doc_id"]: r for r in textanalysis.cross_doc_span_dup(nullish).collect()}
    assert sd[1]["n_fingerprints"] == 0 and sd[1]["dup_span_frac"] == 0.0


def test_ppl_buckets_survive_nulls(spark):
    """ppl_buckets: NULL-text docs vanish from the scorer (documented
    perplexity_relational semantics — explode of a null gram array) and the
    tertile arithmetic must run cleanly on what remains."""
    d = spark.createDataFrame(
        [
            (1, None, "zh"),
            (2, "alpha beta gamma", "zh"),
            (3, "alpha beta gamma", "zh"),
            (4, "delta epsilon zeta eta", "zh"),
            (5, "one two three", "en"),
        ],
        "doc_id long, text string, lang string",
    )
    out = {r["doc_id"]: r for r in perplexity.ppl_buckets(d).collect()}
    assert set(out) == {2, 3, 4, 5}  # null-text doc absent, not crashed
    assert all(r["ppl_bucket"] in ("head", "middle", "tail") for r in out.values())
    # a single-doc group is its own head (cutoff = its own ppl)
    assert out[5]["ppl_bucket"] == "head"
    assert out[5]["t_head"] == out[5]["ppl"]


def test_ppl_buckets_null_group_is_its_own_group(spark):
    """A NULL group (failed language ID) must get buckets, not vanish —
    the cutoff join is null-safe."""
    d = spark.createDataFrame(
        [
            (1, "alpha beta gamma", None),
            (2, "alpha beta gamma", None),
            (3, "delta epsilon zeta", "zh"),
        ],
        "doc_id long, text string, lang string",
    )
    out = {r["doc_id"]: r for r in perplexity.ppl_buckets(d).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1]["lang"] is None and out[1]["ppl_bucket"] in ("head", "middle", "tail")


def test_empty_table_through_round6_ops(spark):
    """Empty input tables flow through every round-6 operator."""
    from chinese_corpus_cleaning_spark.operators.sampling import pack_sequences
    from chinese_corpus_cleaning_spark.operators.textanalysis import (
        c4_line_filter,
        url_blocklist_filter,
    )

    empty = spark.createDataFrame(
        [], "doc_id long, text string, lang string, url string"
    )
    assert pack_sequences(empty.select("doc_id", "text"), budget=64).count() == 0
    assert perplexity.ppl_buckets(
        empty.select("doc_id", "text", "lang")
    ).count() == 0
    assert url_blocklist_filter(
        empty.select("doc_id", "url"), ["x.example.com"]
    ).count() == 0
    assert c4_line_filter(empty.select("doc_id", "text")).count() == 0


def test_classifier_survives_nulls_and_empty(spark, nullish):
    """Round-7 classifier: NULL/empty texts score (as the '' gram), empty
    tables flow through feature hashing, NB training, and scoring."""
    from chinese_corpus_cleaning_spark.operators import classifier as C

    lab = nullish.withColumn("label", (F.col("doc_id") % 2 == 0).cast("int"))
    w = C.nb_logodds_weights(lab, n=3, n_buckets=64)
    scored = {r["id"]: r for r in C.classifier_score(lab, w, n=3, n_buckets=64).collect()}
    assert set(scored) == {1, 2, 3, 4}  # null text scores, never vanishes
    assert all(r["margin"] is not None for r in scored.values())

    empty = spark.createDataFrame([], "doc_id long, text string, label int")
    assert C.hash_ngram_features(empty, n_buckets=64).count() == 0
    assert C.nb_logodds_weights(empty, n=3, n_buckets=64).count() == 0
    assert C.classifier_score(
        empty, spark.createDataFrame([], "bucket int, w double"), n=3, n_buckets=64
    ).count() == 0


def test_fold_into_index_survives_nulls_and_empty(spark, nullish):
    """Round-7 fold: null/empty texts fold like any doc; an EMPTY increment
    against a real index returns no labels and the unchanged index."""
    cfg = DedupConfig(num_hashes=16, num_bands=4)
    labels, index = dedup.fold_into_index(nullish, None, cfg)
    assert labels.count() == 4
    empty = spark.createDataFrame([], "doc_id long, text string")
    l2, idx2 = dedup.fold_into_index(empty, index.localCheckpoint(eager=True), cfg)
    assert l2.count() == 0
    assert idx2.count() == index.count()


def test_data_recipe_ops_survive_nulls_and_empty(spark, nullish):
    """source_mix / hash_split over null texts, null sources, and empty
    tables: nulls form their own mix group, every row gets exactly one
    split label, and empty inputs flow through (sum(w) over zero rows is
    NULL -> no rate rows -> no sampled rows, not a crash)."""
    from chinese_corpus_cleaning_spark.operators.sampling import (
        hash_split,
        source_mix,
    )

    d = nullish.withColumn(
        "source", F.expr("case when doc_id = 4 then null else 'a' end")
    )
    mixed = source_mix(d, budget=2)
    assert mixed.count() == 4
    assert mixed.where("mix_rate is null or mix_n is null").count() == 0
    split = hash_split(d)
    assert split.where("split is null").count() == 0

    empty = spark.createDataFrame([], "doc_id long, text string, source string")
    assert source_mix(empty, budget=10).count() == 0
    assert hash_split(empty).count() == 0


def test_domain_quality_survives_nulls_and_empty(spark):
    """domain_quality_filter over NULL urls, NULL bad signals, and empty
    tables: NULL hosts never aggregate or flag, a NULL bad_expr counts as
    not-bad (count_if skips NULL), empty input flows through."""
    from chinese_corpus_cleaning_spark.operators.textanalysis import (
        domain_quality_filter,
    )

    d = spark.createDataFrame(
        [(1, None, True), (2, "https://h.cn/a", None), (3, "https://h.cn/b", True)],
        "doc_id long, url string, is_bad boolean",
    )
    out = {
        r["doc_id"]: r
        for r in domain_quality_filter(
            d, bad_expr="is_bad", min_docs=1, max_bad_pct=40
        ).collect()
    }
    assert set(out) == {1, 2, 3}
    assert out[1]["host"] is None and not out[1]["domain_flagged"]
    # h.cn: n=2, bad=1 (the NULL signal is not bad) -> 100 > 80 flags
    assert out[2]["domain_flagged"] and out[2]["domain_bad"] == 1

    empty = spark.createDataFrame([], "doc_id long, url string, is_bad boolean")
    assert domain_quality_filter(empty, bad_expr="is_bad").count() == 0


def test_retrieval_and_unicode_norm_survive_nulls_and_empty(spark, nullish):
    """bm25 over null/empty texts (they define no tokens: excluded from
    N/avgdl, can never match) and empty corpora (stats row is zeros ->
    no matches, not a divide-by-zero); normalize_text keeps NULL NULL
    and flows through empty tables."""
    from chinese_corpus_cleaning_spark.functions.unicode_norm import (
        normalize_text,
    )
    from chinese_corpus_cleaning_spark.operators.retrieval import (
        bm25_topk,
        bm25_topk_batch,
    )

    got = bm25_topk(nullish, ["text", "words"], k=10).collect()
    assert [r["doc_id"] for r in got] == [3]
    assert bm25_topk_batch(nullish, {"q": ["text"]}, k=5).count() == 1

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert bm25_topk(empty, ["x"], k=5).count() == 0
    assert bm25_topk_batch(empty, {"q": ["x"]}, k=5).count() == 0

    norm = {r["doc_id"]: r["norm_text"] for r in normalize_text(nullish).collect()}
    assert norm[1] is None and norm[2] == ""
    assert normalize_text(empty).count() == 0


def test_decontaminate_remove_survives_nulls_and_empty(spark, nullish):
    from chinese_corpus_cleaning_spark.operators.textanalysis import (
        decontaminate_remove,
    )

    bench = spark.createDataFrame(
        [(1, "a b c d e f g h i j")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in decontaminate_remove(nullish, bench).collect()}
    assert set(got) == {1, 2, 3, 4}
    assert got[1]["cleaned_text"] is None and not got[1]["contaminated"]
    assert got[2]["cleaned_text"] == ""
    assert got[3]["cleaned_text"] == "normal text with words"

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert decontaminate_remove(empty, bench).count() == 0
    assert decontaminate_remove(nullish, empty).where("contaminated").count() == 0
