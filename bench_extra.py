"""Round-8 optimization harness (bench.py is FROZEN for measurement — this
file carries the extra instrumentation the optimization round needs):

  * the same eleven stages as bench.py, each selectable from argv, timed
    min-of-N in one JVM (same methodology);
  * ``--explain`` dumps .explain('formatted') for every selected stage's
    final DataFrame into plans/r08/<stage>_<tag>.txt;
  * ``--noop`` terminates stages with the noop sink (guide §1.4) instead of
    the aggregate-collect bench.py uses, to time full-row computation;
  * jobs are labeled via setJobDescription (guide §1.5).

Usage:
  python bench_extra.py [--runs N] [--noop] [--explain TAG] [stage ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def build_spark(cpus: int):
    from bench import build_spark as _bs

    return _bs(cpus)


def stage_dfs(spark, sf_dir: str):
    """name -> zero-arg callable returning the stage's final DataFrame
    (mirrors bench.py's stage bodies; building the DF is untimed, running
    it is what the harness times)."""
    import __spark_entry__ as entrymod
    from pyspark.sql import functions as F

    from chinese_corpus_cleaning_spark.operators import (
        dedup,
        perplexity,
        similarity,
    )
    from chinese_corpus_cleaning_spark.operators.extract import with_extraction
    from chinese_corpus_cleaning_spark.operators.quality import with_quality
    from chinese_corpus_cleaning_spark.plans import catalog
    from chinese_corpus_cleaning_spark.sources import gen
    from chinese_corpus_cleaning_spark.sources.wordlists import broadcast_trie

    entrymod._ensure_pyfiles(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").cache()
    docs.count()
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else 0.1
    n_gen = max(int(200_000 * sf), 2_000)
    trie_bc = broadcast_trie(spark)
    gen_docs = gen.docs_df(spark, n_gen, partitions=CPUS).cache()
    gen_docs.count()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    probes = emb.limit(200)

    def _quality_scrub():
        return with_quality(docs.select(F.col("doc_id"), "text"), trie_bc)

    def _extract_langid():
        return with_extraction(gen_docs)

    def _rule_native():
        return catalog.q_rule_char_ratios(spark, sf_dir)

    def _dedup_minhash():
        return dedup.dedup_representatives(
            gen_docs.select(F.col("url").alias("doc_id"), "text")
        )

    def _ngram_ppl():
        model = perplexity.ngram_counts(docs, n=3)
        return perplexity.perplexity_relational(docs, model, n=3)

    def _cosine_topk():
        return similarity.cosine_topk(emb, k=5, probes=probes)

    def _composite_ann():
        return catalog.q_quality_keep_full_ann(spark, sf_dir)

    def _quality_classifier():
        from chinese_corpus_cleaning_spark.operators import classifier
        from chinese_corpus_cleaning_spark.sources.gen import label_docs

        lab = label_docs(gen_docs)
        w = classifier.nb_logodds_weights(lab, n_buckets=1 << 14)
        return classifier.classifier_score(lab, w, n_buckets=1 << 14)

    def _curation_total():
        from chinese_corpus_cleaning_spark.plans.curation import curation_run

        curated, _obs = curation_run(
            gen_docs,
            trie_bc,
            strata=("doc_class",),
            k_per_stratum=max(n_gen // 100, 50),
            id_col="url",
        )
        return curated

    def _paragraph_dedup():
        from chinese_corpus_cleaning_spark.operators.textanalysis import (
            paragraph_dedup,
        )

        return paragraph_dedup(
            gen_docs.select(F.col("url").alias("doc_id"), "text")
        )

    def _semdedup():
        cents = similarity.kmeans_fit(emb, k=16, iters=2)
        return similarity.semdedup(emb, tau=0.3, centroids=cents)

    return {
        "quality_scrub": _quality_scrub,
        "extract_langid": _extract_langid,
        "rule_native": _rule_native,
        "dedup_minhash": _dedup_minhash,
        "ngram_ppl": _ngram_ppl,
        "cosine_topk": _cosine_topk,
        "composite_ann": _composite_ann,
        "quality_classifier": _quality_classifier,
        "curation_total": _curation_total,
        "paragraph_dedup": _paragraph_dedup,
        "semdedup": _semdedup,
    }


def main() -> None:
    args = sys.argv[1:]
    n_runs = 3
    noop = False
    explain_tag = None
    stages: list[str] = []
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--runs":
            i += 1
            n_runs = int(args[i])
        elif a == "--noop":
            noop = True
        elif a == "--explain":
            i += 1
            explain_tag = args[i]
        else:
            stages.append(a)
        i += 1

    spark = build_spark(CPUS)
    try:
        dfs = stage_dfs(spark, SF_DIR)
        if not stages:
            stages = list(dfs)
        timings: dict[str, float] = {}
        runs: dict[str, list[float]] = {}
        for name in stages:
            build = dfs[name]
            rlist = []
            for r in range(n_runs):
                spark.sparkContext.setJobDescription(f"{name} run {r}")
                t0 = time.perf_counter()
                df = build()
                if noop:
                    df.write.format("noop").mode("overwrite").save()
                else:
                    from pyspark.sql import functions as F

                    df.agg(F.count(F.lit(1))).collect()
                rlist.append(round(time.perf_counter() - t0, 3))
                spark.sparkContext.setJobDescription(None)
            timings[name] = min(rlist)
            runs[name] = rlist
            if explain_tag is not None:
                os.makedirs(os.path.join(REPO, "plans", "r08"), exist_ok=True)
                out = os.path.join(
                    REPO, "plans", "r08", f"{name}_{explain_tag}.txt"
                )
                with open(out, "w") as f:
                    f.write(build()._jdf.queryExecution().explainString(
                        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                            "formatted"
                        )
                    ))
        load = open("/proc/loadavg").read().strip()
        print(json.dumps({
            "timings": timings, "runs": runs, "sf": SF_DIR, "cpus": CPUS,
            "noop": noop, "loadavg_end": load,
        }))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
