"""Round-6 operators compose: C4 line cleanup -> URL blocklist screening ->
CCNet perplexity buckets -> sequence packing, as one curation chain with
consistent row accounting at every stage."""

from __future__ import annotations

from pyspark.sql import functions as F

from chinese_corpus_cleaning_spark.operators.perplexity import ppl_buckets
from chinese_corpus_cleaning_spark.operators.sampling import pack_sequences
from chinese_corpus_cleaning_spark.operators.textanalysis import (
    c4_line_filter,
    url_blocklist_filter,
)
from chinese_corpus_cleaning_spark.sources import gen


def test_round6_chain(spark):
    docs = (
        gen.docs_df(spark, 240, partitions=8)
        .select(
            F.split("url", "/").getItem(4).cast("long").alias("doc_id"),
            "text",
            "lang",
        )
        .withColumn(
            "url",
            F.concat(
                F.lit("https://host"),
                (F.col("doc_id") % 5).cast("string"),
                F.lit(".example.com/p/"),
                F.col("doc_id").cast("string"),
            ),
        )
        .withColumn(
            "text",
            F.concat(
                F.col("text"),
                F.lit(".\nSecond fine line here!\nThird fine line here?"),
            ),
        )
    )
    n0 = docs.count()

    # stage 1: URL screening (host2 blocked -> exactly the %5==2 docs)
    screened = url_blocklist_filter(docs, ["host2.example.com"])
    survivors1 = screened.where(~F.col("is_blocked"))
    n_blocked = n0 - survivors1.count()
    assert n_blocked == docs.where(F.col("doc_id") % 5 == 2).count() > 0

    # stage 2: C4 line cleanup. The corpus is largely UNSEGMENTED Chinese
    # (one whitespace token per line) — the English-centric word rule
    # alone rejects most of it, and the min_chars CJK adaptation rescues
    # exactly those pages; pin both facts.
    n_keep_default = (
        c4_line_filter(survivors1).where(F.col("page_keep")).count()
    )
    cleaned = c4_line_filter(survivors1, min_chars=8)
    n_keep = cleaned.where(F.col("page_keep")).count()
    assert 0 < n_keep_default < n_keep <= survivors1.count()
    assert n_keep > survivors1.count() // 2  # the CJK rule carries the corpus
    kept = survivors1.join(
        cleaned.where(F.col("page_keep")).select("doc_id", "clean_text"),
        "doc_id",
    )
    assert kept.count() == n_keep

    # stage 3: perplexity buckets over the cleaned text, per lang; every
    # present language has a head bucket (the cutoff rule guarantees it)
    buckets = ppl_buckets(
        kept.select("doc_id", F.col("clean_text").alias("text"), "lang")
    )
    assert buckets.count() == n_keep
    heads = {
        r["lang"]
        for r in buckets.where(F.col("ppl_bucket") == "head")
        .select("lang")
        .distinct()
        .collect()
    }
    langs = {r["lang"] for r in buckets.select("lang").distinct().collect()}
    assert heads == langs and langs

    # stage 4: pack the head bucket into 256-token training shards
    head = buckets.where(F.col("ppl_bucket") == "head").select("doc_id")
    packed = pack_sequences(
        kept.join(head, "doc_id").select(
            "doc_id", F.col("clean_text").alias("text")
        ),
        budget=256,
        n_buckets=8,
    )
    rows = packed.collect()
    assert len(rows) == head.count() > 0
    total = sum(r["n_tokens"] for r in rows)
    assert max(r["cum_tokens"] for r in rows) == total
    assert max(r["shard_last"] for r in rows) == (total - 1) // 256
