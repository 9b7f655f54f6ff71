"""Optimizer-evidence tests: filters reach the parquet scan (PushedFilters),
date-partitioned writes prune partitions, whole-stage codegen covers the
native expression stages."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F


def _explained(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_reaches_scan(spark):
    from chinese_corpus_cleaning_spark.plans.catalog import q_lineitem_pricing_summary

    plan = _explained(q_lineitem_pricing_summary(spark, "/root/testdata/sf0.01"))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed and "l_shipdate" in pushed[0], plan


def test_partition_pruning_on_date_partitioned_output(spark, tmp_path):
    """Writing labels partitioned by crawl date and reading one day back must
    prune every other partition (PartitionFilters / partition count 1)."""
    from chinese_corpus_cleaning_spark.sources import gen

    path = str(tmp_path / "by_date")
    docs = gen.docs_df(spark, 300, partitions=4)
    (
        docs.withColumn("crawl_date", F.to_date("warc_ts"))
        .write.partitionBy("crawl_date")
        .parquet(path)
    )
    back = spark.read.parquet(path)
    one_day = back.where(F.col("crawl_date") == F.lit("2025-03-15"))
    plan = _explained(one_day)
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "crawl_date" in pf[0], plan
    assert one_day.count() > 0


def test_native_stages_are_codegen(spark):
    """The rule-check native query must run inside WholeStageCodegen (no
    Python, no interpreted projections for the ratio arithmetic)."""
    from chinese_corpus_cleaning_spark.plans.catalog import q_rule_char_ratios

    plan = _explained(q_rule_char_ratios(spark, "/root/testdata/sf0.01"))
    # formatted mode marks codegen'd nodes with "[codegen id : N]"
    assert "[codegen id :" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_production_composite_has_no_cartesian_product(spark):
    """The PRODUCTION 4-component composite (quality_keep_full_ann) must not
    contain a CartesianProduct / all-pairs join anywhere: the clustering
    component goes through RP-LSH bucketed candidates (equi-join on bucket).
    The only nested-loop join allowed is the single-row vocab-size broadcast
    (BroadcastNestedLoopJoin over exactly one row)."""
    from chinese_corpus_cleaning_spark.plans.catalog import q_quality_keep_full_ann

    plan = _explained(q_quality_keep_full_ann(spark, "/root/testdata/sf0.01"))
    assert "CartesianProduct" not in plan, plan


def test_ivf_assign_has_no_global_window_sort(spark):
    """Centroid selection must be TakeOrderedAndProject (per-partition top-k),
    not a single-partition Window sort over the full vector set."""
    from chinese_corpus_cleaning_spark.operators.similarity import ivf_assign

    vecs = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    plan = _explained(ivf_assign(vecs, n_cells=8))
    assert "TakeOrderedAndProject" in plan, plan
    # the only Window allowed is the per-vector argmin (partitioned by vec_id)
    for ln in plan.splitlines():
        if "Window" in ln and "partitionBy" in ln.lower():
            assert "vec_id" in ln, ln


def test_vocab_topk_uses_take_ordered(spark):
    from chinese_corpus_cleaning_spark.operators.textanalysis import vocab_topk

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    plan = _explained(vocab_topk(docs, k=25))
    assert "TakeOrderedAndProject" in plan, plan


def test_dedup_representatives_plan_is_cartesian_free(spark):
    from chinese_corpus_cleaning_spark.operators import dedup

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    plan = _explained(
        dedup.dedup_representatives(docs, id_col="doc_id", text_col="text")
    )
    assert "CartesianProduct" not in plan, plan


def test_one_partition_pair_chain_has_no_hash_exchange(spark, tmp_path):
    """A small signature table checkpointed at one partition (a one-file
    parquet scan: its plan carries a size estimate) takes
    minhash_similarity_pairs' fast arm with the candidate chain declared
    single-partition, so the executed plan — band-size aggregate,
    self-join, hub aggregate, pair distinct, broadcast re-attach — holds
    no hash Exchange (each one costs a Spark job)."""
    import random

    from chinese_corpus_cleaning_spark.config import DedupConfig
    from chinese_corpus_cleaning_spark.operators import dedup

    cfg = DedupConfig(
        similarity_threshold=0.5, shingle_size=5, num_hashes=16, num_bands=4
    )
    rnd = random.Random(5)
    base = "".join(chr(0x4E00 + rnd.randrange(2000)) for _ in range(200))
    rows = [(i, base[:i] + "x" + base[i + 1:]) for i in range(60)]
    path = str(tmp_path / "docs")
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(path)
    # cap 8 < 60 family members: the oversized buckets take the hub path
    est = dedup.minhash_similarity_pairs(
        spark.read.parquet(path), cfg, max_band_bucket=8, materialize=False
    )
    assert est.collect()
    plan = _explained(est)
    assert "isFinalPlan=true" in plan, plan
    assert "hashpartitioning" not in plan, plan


def test_dedup_edges_never_shuffle_on_text(spark):
    """The exact-dup pre-pass must key its group + join-back on the md5
    digest: no Exchange may hash-partition on the raw text column (at corpus
    scale that shuffles multi-KB document bodies as keys, twice). Asserted
    on dedup_edges — the full pre-CC lineage, before the connected-components
    localCheckpoint truncates the plan. Auto-broadcast is disabled so the
    exact-pass group + join-back materialize as real shuffles (at corpus
    scale the digest-group side never fits a broadcast)."""
    import re

    from chinese_corpus_cleaning_spark.operators import dedup

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _explained(
            dedup.dedup_edges(docs, id_col="doc_id", text_col="text")
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    # formatted plans carry the partitioning spec on "Arguments:" lines
    exchanges = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    assert exchanges, plan  # sanity: the exact pass does shuffle (slim keys)
    for keys in exchanges:
        # every shuffle key must be the digest or an id — never the text body
        assert not re.match(r"(t|text)#", keys), (keys, plan)


def test_quality_pipeline_single_arrow_eval(spark):
    """The per-doc quality stage must cross into Python exactly ONCE per
    batch (one ArrowEvalPython node), not once per column/score."""
    from chinese_corpus_cleaning_spark.functions.dfa import build_trie
    from chinese_corpus_cleaning_spark.operators.quality import with_quality
    from chinese_corpus_cleaning_spark.plans.catalog import EN_LEXICON

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    bc = spark.sparkContext.broadcast(build_trie(EN_LEXICON))
    import re

    plan = _explained(with_quality(docs.select("doc_id", "text"), bc))
    # formatted plans print each node twice (tree + detail); count the
    # numbered detail headers
    n_arrow = len(re.findall(r"^\(\d+\) ArrowEvalPython", plan, re.M))
    assert n_arrow == 1, plan


def test_extraction_single_arrow_eval(spark):
    """with_extraction runs its three per-doc Python stages (HTML extract,
    repeat removal, language ID) as ONE fused pandas UDF: exactly one
    ArrowEvalPython node, not one per stage. That holds under the is_zh
    filter ingest applies, too: a filter pushed below the projection as
    extract_full(html).is_zh would add a second node over the same html."""
    import re

    from chinese_corpus_cleaning_spark.operators.extract import with_extraction

    docs = spark.createDataFrame(
        [(1, "<html><body><p>天地玄黄宇宙洪荒</p></body></html>")],
        "doc_id long, html string",
    )
    extracted = with_extraction(docs)
    kept = extracted.where("is_zh").select("doc_id", "extracted_text")
    for df in (extracted, kept):
        plan = _explained(df)
        n_arrow = len(re.findall(r"^\(\d+\) ArrowEvalPython", plan, re.M))
        assert n_arrow == 1, plan


def test_plan_construction_runs_no_job(spark, tmp_path):
    """Building the labels plan over a repartition(n, xxhash64(url)) frame
    runs no Spark job: the parallelism guard in with_quality reads the
    partition count off the plan instead of running the shuffle stage
    below it. Its decisions are those of df.rdd.getNumPartitions()."""
    from chinese_corpus_cleaning_spark.functions.dfa import build_trie
    from chinese_corpus_cleaning_spark.operators.partitioning import (
        ensure_min_parallelism,
    )
    from chinese_corpus_cleaning_spark.plans.pipeline import quality_filter_plan
    from chinese_corpus_cleaning_spark.sources import gen
    from chinese_corpus_cleaning_spark.sources.wordlists import SMALL_LEXICON

    sc = spark.sparkContext
    assert sc.defaultParallelism == 4
    docs = gen.docs_df(spark, 200, partitions=4).select("url", "text")
    docs.coalesce(1).write.parquet(str(tmp_path / "one"))
    docs.write.parquet(str(tmp_path / "four"))
    one = spark.read.parquet(str(tmp_path / "one"))
    four = spark.read.parquet(str(tmp_path / "four"))
    bc = sc.broadcast(build_trie(SMALL_LEXICON))

    group = "test_plan_construction_runs_no_job"
    sc.setJobGroup(group, "build the labels plan")
    try:
        quality_filter_plan(four, bc, partitions=4)
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs == []

    rep4 = four.repartition(4, "url")
    grouped = four.groupBy("url").count()  # AQE coalesces it to 1 partition
    stream = spark.readStream.schema(four.schema).parquet(str(tmp_path / "four"))
    table = [  # (frame, passes through unchanged)
        ("single-file scan", one, False),
        ("multi-file scan", four, True),
        ("repartition(4, col)", rep4, True),
        ("AQE-coalesced groupBy", grouped, False),
        ("streaming", stream, True),
    ]
    got = {k: ensure_min_parallelism(df) is df for k, df, _ in table}
    assert got == {k: want for k, _, want in table}


def test_assign_cells_has_no_window(spark):
    """The nearest-centroid argmin is a min(struct(d2, cid)) aggregate with
    map-side partials, never a row_number Window sort over the n*k pair
    stream."""
    from chinese_corpus_cleaning_spark.operators.similarity import (
        assign_cells,
        seed_centroids,
    )

    vecs = spark.createDataFrame(
        [(i, [float(i % 3), float(i % 5), 1.0]) for i in range(12)],
        "vec_id long, embedding array<double>",
    )
    plan = _explained(assign_cells(vecs, seed_centroids(vecs, 4)))
    assert "Window" not in plan, plan


def test_stratified_sample_two_bounded_exchanges(spark):
    """The salted two-phase sample must cost exactly two hash exchanges —
    (stratum, salt) for the bounded local top-k, then (stratum) over at
    most buckets*k rows per stratum — and no global sort (a naive
    orderBy-based top-k would show Exchange rangepartitioning)."""
    import re

    from chinese_corpus_cleaning_spark.operators.sampling import (
        stratified_sample,
    )

    d = spark.createDataFrame(
        [(i, f"s{i % 3}") for i in range(60)], "doc_id long, source string"
    )
    plan = _explained(stratified_sample(d, ("source",), k=2))
    hashed = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    assert len(hashed) == 2, hashed
    assert any("__salt" in h for h in hashed)  # phase 1 keys on the salt
    assert "rangepartitioning" not in plan  # no global sort anywhere


def test_incremental_dedup_broadcasts_new_side(spark):
    """A small increment (its signatures fit the broadcast budget) must
    make both joins against the corpus index broadcast joins probing the NEW
    side — the corpus's exploded band keys and signatures must appear under
    zero shuffle Exchanges anywhere in the plan (the increment is what
    moves, never the corpus)."""
    from chinese_corpus_cleaning_spark.config import DedupConfig
    from chinese_corpus_cleaning_spark.operators import dedup
    from chinese_corpus_cleaning_spark.sources import gen

    cfg = DedupConfig(
        similarity_threshold=0.5, shingle_size=5, num_hashes=16, num_bands=4
    )
    df = gen.docs_df(spark, 200, partitions=4).select(
        F.split("url", "/").getItem(4).cast("long").alias("doc_id"), "text"
    )
    index = dedup.with_minhash(df.where("doc_id % 2 = 0"), cfg)
    pairs = dedup.dedup_incremental_pairs(
        df.where("doc_id % 2 = 1"), index, cfg
    )
    plan = _explained(pairs)
    assert "BroadcastHashJoin" in plan, plan
    # the only permissible Exchanges are broadcast ones (of the new side)
    # plus the candidate distinct's hash exchange over slim id pairs; no
    # shuffle Exchange may carry minhash/band_keys of the corpus scan
    shuffle_lines = [
        ln
        for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln or "Exchange rangepartitioning" in ln
    ]
    assert all(
        "minhash" not in ln and "band_keys" not in ln for ln in shuffle_lines
    ), plan


def test_ppl_buckets_no_global_sort_or_cartesian(spark):
    """ppl_buckets' windows must run over the (group, binned-ppl) histogram
    only — the per-document data may hash-shuffle (scorer agg, histogram
    partials) but must never range-partition (global sort) or cross join;
    the cutoff table must come back as a broadcast."""
    from chinese_corpus_cleaning_spark.operators import perplexity
    from chinese_corpus_cleaning_spark.sources import gen

    d = gen.docs_df(spark, 120, partitions=4).select(
        F.col("url").alias("doc_id"), "text", "lang"
    )
    plan = _explained(perplexity.ppl_buckets(d))
    assert "rangepartitioning" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_pack_sequences_no_global_sort(spark):
    """pack_sequences' scale claim: NO rangepartitioning anywhere (the
    naive global-window form would move the corpus to one sorted range),
    and the per-bucket offsets come back as a broadcast."""
    from chinese_corpus_cleaning_spark.operators.sampling import (
        pack_sequences,
    )
    from chinese_corpus_cleaning_spark.sources import gen

    d = gen.docs_df(spark, 150, partitions=4).select(
        F.split("url", "/").getItem(4).cast("long").alias("doc_id"), "text"
    )
    plan = _explained(pack_sequences(d, budget=128, n_buckets=16))
    assert "rangepartitioning" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_semdedup_plan_is_cartesian_free(spark):
    """semdedup's pair surface must be an equi-join on cell (shuffled hash /
    sort-merge, AQE-splittable) — never a CartesianProduct. The only
    nested-loop join allowed is the BROADCAST centroid crossJoin (k rows)."""
    from chinese_corpus_cleaning_spark.operators.similarity import semdedup

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = _explained(semdedup(emb, n_cells=4, tau=0.5))
    assert "CartesianProduct" not in plan, plan
    # the prior-max is a partial aggregate: map-side combine before the
    # shuffle (two HashAggregate nodes around the Exchange)
    assert "HashAggregate" in plan


def test_dsir_select_no_corpus_global_sort(spark):
    """dsir_select must not range-partition (globally sort) the corpus:
    the only total ordering runs on the <= n_salt*k survivor rows (a
    bounded single-partition window). rangepartitioning in the plan would
    mean the scale-path two-phase shape regressed."""
    from chinese_corpus_cleaning_spark.operators.selection import dsir_select

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    plan = _explained(dsir_select(docs, docs.where("doc_id % 11 = 0"), k=20))
    assert "rangepartitioning" not in plan.lower(), plan


def test_bpe_pair_counts_partially_aggregates(spark):
    """The pair-count shuffle must carry partially-aggregated rows (map-side
    combine), and the trainer's argmax must be TakeOrdered, not a global
    sort."""
    from chinese_corpus_cleaning_spark.operators.tokenizer import (
        bpe_pair_counts,
        bpe_vocab,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    counts = bpe_pair_counts(bpe_vocab(docs))
    plan = _explained(counts)
    assert "HashAggregate" in plan and "Exchange" in plan
    top = counts.orderBy(
        F.col("cnt").desc(), F.col("left").asc(), F.col("right").asc()
    ).limit(1)
    assert "TakeOrderedAndProject" in _explained(top)
