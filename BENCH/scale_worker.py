"""Scaling-run worker: one JVM per parallelism level (spawned by
run_scaling.py). Runs the headline stages on a deterministic generated corpus
and prints one JSON line of stage timings."""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main(cpus: int, n_docs: int) -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod
    from chinese_corpus_cleaning_spark.operators import dedup
    from chinese_corpus_cleaning_spark.operators.extract import with_extraction
    from chinese_corpus_cleaning_spark.operators.quality import with_quality
    from chinese_corpus_cleaning_spark.sources import gen
    from chinese_corpus_cleaning_spark.sources.wordlists import broadcast_trie

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(f"ccc-scale-{cpus}")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "48g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    entrymod._ensure_pyfiles(spark)

    # deterministic corpus, partitioned to the parallelism level; cache so
    # timed stages exclude generation
    docs = gen.docs_df(spark, n_docs, partitions=cpus * 4).cache()
    docs.count()
    trie_bc = broadcast_trie(spark)

    # warm python workers (both UDF families: quality scrub + minhash)
    with_quality(docs.select("url", "text").limit(64), trie_bc).agg(
        F.count(F.lit(1))
    ).collect()
    dedup.with_minhash(
        docs.select(F.col("url").alias("doc_id"), "text").limit(64)
    ).agg(F.count(F.lit(1))).collect()

    timings: dict[str, float] = {}

    def timed(name, fn):
        print(f"stage {name} start", file=sys.stderr, flush=True)
        t0 = time.perf_counter()
        fn()
        timings[name] = round(time.perf_counter() - t0, 3)
        print(f"stage {name} done {timings[name]}s", file=sys.stderr, flush=True)

    timed(
        "quality_scrub",
        lambda: with_quality(docs.select("url", "text"), trie_bc)
        .select(F.count(F.lit(1)), F.sum(F.col("keep").cast("long")))
        .collect(),
    )
    timed(
        "extract_langid",
        lambda: with_extraction(docs)
        .select(F.count(F.lit(1)), F.sum(F.col("is_zh").cast("long")))
        .collect(),
    )
    timed(
        "dedup_minhash",
        lambda: dedup.dedup_representatives(
            docs.select(F.col("url").alias("doc_id"), "text")
        )
        .agg(F.count(F.lit(1)), F.sum(F.col("is_duplicate").cast("long")))
        .collect(),
    )

    # round-7 supervised axis: NB log-odds train (per-batch hashed char
    # 3-gram class counts -> one agg) + map-only exact-decimal scoring
    # against broadcast weights, both over the full corpus
    def _clf():
        from chinese_corpus_cleaning_spark.operators import classifier

        lab = gen.label_docs(docs)
        w = classifier.nb_logodds_weights(lab, n_buckets=1 << 16)
        classifier.classifier_score(lab, w, n_buckets=1 << 16).agg(
            F.count(F.lit(1)), F.sum(F.col("clf_keep").cast("long"))
        ).collect()

    timed("quality_classifier", _clf)

    # round-7 scale-path stages: bloom decontamination (Exchange-free
    # map-side probe — the shape that should scale ~linearly) and the
    # domain-quality screen (slim (host, flag) agg + broadcast flag join).
    # The decon corpus is synthesized token-y text (native exprs, same at
    # every level) because the gen corpus is unsegmented Chinese with few
    # whitespace 8-grams; the domain stage runs on the gen corpus's own
    # skewed host pool.
    tok_docs = (
        spark.range(0, n_docs, 1, cpus * 4)
        .select(
            F.col("id").alias("doc_id"),
            F.expr(
                "array_join(transform(sequence(1, 50),"
                " j -> substring(md5(concat(cast(id as string), '_',"
                " cast(j as string))), 1, 8)), ' ')"
            ).alias("text"),
        )
        .cache()
    )
    tok_docs.count()

    def _decon():
        from chinese_corpus_cleaning_spark.operators.textanalysis import (
            decontaminate_bloom,
        )

        decontaminate_bloom(
            tok_docs, tok_docs.where("doc_id % 1000 = 0"), n=8, fpp=1e-6
        ).agg(
            F.count(F.lit(1)), F.sum(F.col("contaminated").cast("long"))
        ).collect()

    timed("decon_bloom", _decon)
    tok_docs.unpersist()

    def _domain():
        from chinese_corpus_cleaning_spark.operators.textanalysis import (
            domain_quality_filter,
        )

        d = docs.select(
            "url",
            F.col("doc_class").isin(*gen.QUALITY_GOOD_CLASSES).alias("good"),
        )
        domain_quality_filter(
            d, bad_expr="not good", id_col="url", min_docs=5, max_bad_pct=50
        ).agg(
            F.count(F.lit(1)), F.sum(F.col("domain_flagged").cast("long"))
        ).collect()

    timed("domain_quality", _domain)

    def _para():
        from chinese_corpus_cleaning_spark.operators.textanalysis import (
            paragraph_dedup,
        )

        paragraph_dedup(docs.select(F.col("url").alias("doc_id"), "text")).agg(
            F.count(F.lit(1)), F.sum("n_dropped")
        ).collect()

    timed("paragraph_dedup", _para)
    spark.stop()
    print(json.dumps({"cpus": cpus, "n_docs": n_docs, "timings": timings}))


if __name__ == "__main__":
    main(int(sys.argv[1]), int(sys.argv[2]))
