"""Scale-hardening tests for the n-gram LM: min_count pruning and the
CCNet perplexity buckets."""

from __future__ import annotations

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


def test_ppl_buckets_ccnet_tertiles(spark, docs):
    """CCNet head/middle/tail partitioning: cutoffs must equal a pure-pandas
    recomputation of the integer-exact histogram rule, labels must be the
    threshold comparisons, and 'head' must be the MINIMAL histogram prefix
    reaching a third of the group (docs in the cutoff bin land low-side)."""
    import numpy as np

    d = gen.docs_df(spark, 300, partitions=4).select(
        F.col("url").alias("doc_id"), "text", "lang"
    )
    out = perplexity.ppl_buckets(d).toPandas()
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
