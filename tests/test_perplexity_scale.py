"""Scale-hardening tests for the n-gram LM: min_count pruning and the
non-broadcast (shuffle-join) scoring path for models too big to broadcast."""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from chinese_corpus_cleaning_spark.operators import perplexity
from chinese_corpus_cleaning_spark.sources import gen


@pytest.fixture(scope="module")
def docs(spark):
    return (
        gen.docs_df(spark, 300, partitions=4)
        .select(F.col("url").alias("doc_id"), "text")
        .cache()
    )


def test_min_count_pruning_drops_singletons(docs):
    full = perplexity.ngram_counts(docs, n=3)
    pruned = perplexity.ngram_counts(docs, n=3, min_count=2)
    n_full, n_pruned = full.count(), pruned.count()
    assert n_pruned < n_full
    assert pruned.where(F.col("cnt") < 2).count() == 0
    # pruned rows are a subset with identical counts
    joined = pruned.alias("p").join(
        full.alias("f"), ["context", "word"]
    ).where(F.col("p.cnt") != F.col("f.cnt"))
    assert joined.count() == 0


def test_shuffle_join_scoring_matches_broadcast(spark, docs):
    """With autoBroadcastJoinThreshold=-1 and broadcast_model=False the
    scorer must produce identical perplexities through a shuffle join —
    the cutover path for models that exceed executor memory."""
    model = perplexity.ngram_counts(docs, n=3)
    bcast = {
        r["doc_id"]: r["ppl"]
        for r in perplexity.perplexity_relational(docs, model, n=3).collect()
    }
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        shuffled_df = perplexity.perplexity_relational(
            docs, model, n=3, broadcast_model=False
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            shuffled_df.explain("formatted")
        plan = buf.getvalue()
        # the model joins must NOT be broadcast in this mode (the one-row
        # vocab-size cross join is the only broadcast allowed)
        model_joins = [
            ln
            for ln in plan.splitlines()
            if "BroadcastHashJoin" in ln and "context" in ln
        ]
        assert not model_joins, plan
        shuffled = {r["doc_id"]: r["ppl"] for r in shuffled_df.collect()}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # the per-doc avg(log2p) accumulates in partition order, which differs
    # between the two physical strategies — equal up to float summation
    # reordering, not bit-equal
    assert shuffled.keys() == bcast.keys()
    for k, v in bcast.items():
        assert shuffled[k] == pytest.approx(v, rel=1e-9), k


def test_ppl_buckets_ccnet_tertiles(spark, docs):
    """CCNet head/middle/tail partitioning: cutoffs must equal a pure-pandas
    recomputation of the integer-exact histogram rule, labels must be the
    threshold comparisons, and 'head' must be the MINIMAL histogram prefix
    reaching a third of the group (docs in the cutoff bin land low-side)."""
    import numpy as np

    d = gen.docs_df(spark, 300, partitions=4).select(
        F.col("url").alias("doc_id"), "text", "lang"
    )
    out = perplexity.ppl_buckets(d, n=3).toPandas()
    assert len(out) == 300  # no doc lost by the slim group join
    for lang, g in out.groupby("lang"):
        n = len(g)
        uniq, counts = np.unique(g["ppl"].values, return_counts=True)
        cum = counts.cumsum()
        t1 = uniq[np.argmax(3 * cum >= n)]
        t2 = uniq[np.argmax(3 * cum >= 2 * n)]
        assert (g["t_head"] == t1).all() and (g["t_middle"] == t2).all(), lang
        exp = np.where(
            g["ppl"] <= t1, "head", np.where(g["ppl"] <= t2, "middle", "tail")
        )
        assert (g["ppl_bucket"].values == exp).all(), lang
        head_n = int((g["ppl_bucket"] == "head").sum())
        cut_bin = int(counts[uniq == t1][0])
        assert 3 * head_n >= n and 3 * (head_n - cut_bin) < n, lang
