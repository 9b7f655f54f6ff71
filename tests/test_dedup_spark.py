"""End-to-end near-dup dedup: exact groups collapse, near-dup families are
detected via MinHash-LSH + connected components, representatives elected."""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from chinese_corpus_cleaning_spark.config import DedupConfig
from chinese_corpus_cleaning_spark.operators import dedup
from chinese_corpus_cleaning_spark.operators.partitioning import num_partitions
from chinese_corpus_cleaning_spark.sources import gen


@pytest.fixture(scope="module")
def labeled_docs(spark):
    df = gen.docs_df(spark, 600, partitions=4).select(
        F.col("url").alias("doc_id"), "text", "doc_class"
    )
    reps = dedup.dedup_representatives(df.select("doc_id", "text"))
    return df.join(reps.withColumnRenamed("id", "doc_id"), "doc_id").cache()


def test_exact_duplicates_collapse(labeled_docs):
    # short_text docs have only 10 distinct variants -> exact dup groups
    shorts = labeled_docs.where(F.col("doc_class") == "short_text")
    n = shorts.count()
    n_comp = shorts.select("component").distinct().count()
    assert n_comp <= 10 < n


def test_near_dup_families_detected(labeled_docs):
    fams = (
        labeled_docs.where(F.col("doc_class") == "near_dup")
        .withColumn(
            "family",
            (F.split(F.col("doc_id"), "/").getItem(4).cast("long") / gen._NEAR_DUP_FAMILY_SIZE).cast("long"),
        )
        .groupBy("family")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("component").alias("n_comp"),
        )
        .where(F.col("n") >= 3)
        .collect()
    )
    assert fams
    # most families with >=3 members collapse to fewer components than members
    collapsed = sum(1 for r in fams if r["n_comp"] < r["n"])
    assert collapsed >= 0.6 * len(fams), [(r["n"], r["n_comp"]) for r in fams]


def test_normal_docs_not_duplicates(labeled_docs):
    normals = labeled_docs.where(F.col("doc_class") == "normal_zh")
    dup_ratio = normals.agg(
        F.avg(F.col("is_duplicate").cast("double"))
    ).collect()[0][0]
    assert dup_ratio < 0.05


def test_connected_components_chain(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (12, 11)], ["id_a", "id_b"]
    )
    comp = {r["id"]: r["comp"] for r in dedup.connected_components(edges).collect()}
    assert comp[1] == comp[2] == comp[3] == comp[4] == 1
    assert comp[10] == comp[11] == comp[12] == 10


def test_salt_hot_keys(spark):
    df = spark.createDataFrame(
        [("hot", i) for i in range(100)]
        + [("cold%d" % i, 1000 + i) for i in range(20)],
        ["host", "doc_id"],
    )
    salted = dedup.salt_hot_keys(df, "host", threshold=50, salt_buckets=8)
    hot_keys = (
        salted.where(F.col("host") == "hot").select("salted_key").distinct().count()
    )
    cold_keys = (
        salted.where(F.col("host") != "hot").select("salted_key").distinct().count()
    )
    assert 2 <= hot_keys <= 8
    assert cold_keys == 20


def test_dbscan_clusters_match_python_reference(spark):
    """dbscan_clusters' relational structure (core/border/noise + min-id
    labels) must equal a driver-side DBSCAN computed from the SAME candidate
    graph: degree+self >= min_samples cores, components over core-core
    edges, border = min core-neighbor cluster, noise = -1."""
    from chinese_corpus_cleaning_spark.config import DedupConfig

    cfg = DedupConfig(
        similarity_threshold=0.5, shingle_size=5, num_hashes=16, num_bands=4
    )
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    min_samples = dedup.DBSCAN_MIN_SAMPLES

    pairs = [
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_similarity_pairs(docs, cfg).collect()
    ]
    adj: dict[int, set[int]] = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    core = {i for i, ns in adj.items() if len(ns) + 1 >= min_samples}
    # components over core-core edges, min-id label
    label = {i: i for i in core}

    def find(x):
        while label[x] != x:
            label[x] = label[label[x]]
            x = label[x]
        return x

    for a, b in pairs:
        if a in core and b in core:
            ra, rb = find(a), find(b)
            if ra != rb:
                lo, hi = min(ra, rb), max(ra, rb)
                label[hi] = lo
    cluster = {i: find(i) for i in core}
    expected = {}
    all_ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
    for i in all_ids:
        if i in core:
            expected[i] = (cluster[i], "core")
        elif i in adj and any(n in core for n in adj[i]):
            expected[i] = (
                min(cluster[n] for n in adj[i] if n in core),
                "border",
            )
        else:
            expected[i] = (-1, "noise")

    got = {
        r["id"]: (r["cluster"], r["role"])
        for r in dedup.dbscan_clusters(docs, cfg).collect()
    }
    assert got == expected
    # the fixture's near-dup families must actually produce all three roles
    roles = {v[1] for v in got.values()}
    assert roles == {"core", "border", "noise"} or roles == {"core", "noise"}


def test_salt_hot_keys_identical_payloads_need_unique_discriminator(spark):
    """Content-derived salting degrades to ONE bucket when a hot key's rows
    are byte-identical copies (the typical boilerplate composition) — the
    documented limitation. Passing a unique column (doc_id) as
    salt_src_cols restores the spread."""
    df = spark.createDataFrame(
        [("hot", i, "same boilerplate body") for i in range(100)]
        + [("cold", 1000, "x")],
        ["host", "doc_id", "text"],
    )
    degraded = dedup.salt_hot_keys(
        df, "host", threshold=50, salt_buckets=8, salt_src_cols=["text"]
    )
    n_degraded = (
        degraded.where(F.col("host") == "hot")
        .select("salted_key")
        .distinct()
        .count()
    )
    assert n_degraded == 1  # the no-op case, pinned
    spread = dedup.salt_hot_keys(
        df, "host", threshold=50, salt_buckets=8, salt_src_cols=["doc_id"]
    )
    n_spread = (
        spread.where(F.col("host") == "hot")
        .select("salted_key")
        .distinct()
        .count()
    )
    assert n_spread >= 4


def test_salt_hot_keys_deterministic_across_materializations(spark):
    """The salt must be a pure function of stable row content: a task retry
    (here: a second materialization of the same plan) re-derives identical
    salted keys, so downstream stages never see rows move between buckets
    under fault recovery."""
    df = spark.createDataFrame(
        [("hot", i) for i in range(100)]
        + [("cold%d" % i, 1000 + i) for i in range(20)],
        ["host", "doc_id"],
    )
    plan = dedup.salt_hot_keys(df, "host", threshold=50, salt_buckets=8)
    first = {r["doc_id"]: r["salted_key"] for r in plan.collect()}
    second = {r["doc_id"]: r["salted_key"] for r in plan.collect()}
    # repartition forces different task boundaries; assignment must not move
    third = {
        r["doc_id"]: r["salted_key"]
        for r in dedup.salt_hot_keys(
            df.repartition(7), "host", threshold=50, salt_buckets=8
        ).collect()
    }
    assert first == second == third


def test_host_rollup_salted_matches_direct(spark):
    from chinese_corpus_cleaning_spark.operators.textanalysis import host_rollup

    docs = gen.docs_df(spark, 800, partitions=4).select("url", "text")
    salted = {r["host"]: (r["n_docs"], r["total_chars"]) for r in host_rollup(docs).collect()}
    direct = {
        r["host"]: (r["n"], r["s"])
        for r in docs.groupBy(F.parse_url("url", F.lit("HOST")).alias("host"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.length("text")).alias("s"))
        .collect()
    }
    assert salted == direct
    # the generator's hot host really is skewed (~30% of docs)
    hot = salted[gen.HOT_HOST][0]
    assert 0.2 * 800 < hot < 0.4 * 800


def test_empty_text_signature_matches_python_helper(spark):
    """Empty text: the Spark expression, the DuckDB oracle and the Python
    helper must all hash ONE '' shingle (not emit the all-P sentinel)."""
    from chinese_corpus_cleaning_spark.config import DedupConfig
    from chinese_corpus_cleaning_spark.functions import hashing

    assert hashing.char_shingles("") == [""]
    cfg = DedupConfig(num_hashes=16, num_bands=4, shingle_size=5)
    df = spark.createDataFrame([(1, ""), (2, "ab")], ["doc_id", "text"])
    got = {
        r["doc_id"]: list(r["minhash"])
        for r in dedup.with_minhash(df, cfg).collect()
    }
    for doc_id, text in ((1, ""), (2, "ab")):
        expect = hashing.minhash_signature(hashing.char_shingles(text, 5), 16)
        assert got[doc_id] == expect
    assert got[1] != [hashing.MINHASH_P] * 16


def test_cc_driver_empty_edges_preserves_id_type(spark):
    """String doc ids + zero edges must still yield a string comp column."""
    edges = spark.createDataFrame([], "id_a string, id_b string")
    out = dedup.connected_components(edges)
    assert dict(out.dtypes) == {"id": "string", "comp": "string"}
    assert out.count() == 0


def test_cc_distributed_path_matches_driver_path(spark, monkeypatch):
    """Force the distributed min-label/pointer-jump loop (a zero driver
    cutover) and check it against the driver union-find on a chain + ring +
    singleton topology; also exercises the observe()-based convergence
    check."""
    raw = [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (12, 10), (20, 21)]
    edges = spark.createDataFrame(raw, ["id_a", "id_b"])
    monkeypatch.setattr(dedup, "_CC_DRIVER_MAX_EDGES", 0)
    dist = {r["id"]: r["comp"] for r in dedup.connected_components(edges).collect()}
    drv = {r["id"]: r["comp"] for r in dedup._cc_driver(edges).collect()}
    assert dist == drv
    assert dist[5] == 1 and dist[12] == 10 and dist[21] == 20


def test_oversized_bucket_degrades_to_star_not_skip(spark):
    """With a cap smaller than a near-dup clique's bucket size, the bucket
    must contribute min-id-hub star candidates (keeping the clique one
    component) instead of being skipped outright (round-5 star rescue)."""
    base = "机器学习模型的训练需要大量高质量的语料数据支持" * 6
    fam = [(f"d{i:02d}", base + f"尾部{i}") for i in range(6)]
    lone = [("z1", "完全无关的另一篇文档内容讲述不同的主题领域" * 8)]
    df = spark.createDataFrame(fam + lone, "doc_id string, text string")
    signed = dedup.with_minhash(df)
    capped = dedup.lsh_candidate_pairs(signed, max_band_bucket=2)
    pairs = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    # every family member reaches the hub d00 through some bucket's star
    assert {("d00", f"d{i:02d}") for i in range(1, 6)} <= pairs
    # lone doc shares no bucket -> no candidates
    assert not any("z1" in p for p in pairs)
    # end-to-end: the family still collapses to one component under the cap
    reps = dedup.dedup_representatives(df, max_band_bucket=2)
    comp = {r["id"]: r["component"] for r in reps.collect()}
    assert len({comp[f"d{i:02d}"] for i in range(6)}) == 1
    assert comp["z1"] != comp["d00"]


def test_incremental_equals_full_cross_split(spark):
    """dedup_incremental_pairs(new, index) must equal the uncapped full-run
    pairs restricted to cross-split (corpus x new) pairs — same candidates
    (shared band key), same est-Jaccard, whether the increment's size
    picks the broadcast probe (the derived arm) or a zero budget forces the
    shuffled one; the labels form must agree with the pair set."""
    from chinese_corpus_cleaning_spark.config import DedupConfig

    cfg = DedupConfig(
        similarity_threshold=0.5, shingle_size=5, num_hashes=16, num_bands=4
    )
    df = gen.docs_df(spark, 400, partitions=4).select(
        F.split("url", "/").getItem(4).cast("long").alias("doc_id"), "text"
    )
    corpus = df.where("doc_id % 2 = 0")
    new = df.where("doc_id % 2 = 1")
    index = dedup.with_minhash(corpus, cfg)

    full = dedup.minhash_similarity_pairs(df, cfg)
    expected = set()
    for r in full.where("(id_a + id_b) % 2 = 1").collect():
        nid, cid = (
            (r["id_a"], r["id_b"]) if r["id_a"] % 2 == 1 else (r["id_b"], r["id_a"])
        )
        expected.add((nid, cid, round(r["est_jaccard"], 9)))
    assert expected  # near-dup families span consecutive ids by construction

    for budget in (dedup._SIG_BCAST_BUDGET_BYTES, 0):
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(dedup, "_SIG_BCAST_BUDGET_BYTES", budget)
            inc = dedup.dedup_incremental_pairs(new, index, cfg)
            got = {
                (r["new_id"], r["corpus_id"], round(r["est_jaccard"], 9))
                for r in inc.collect()
            }
        assert got == expected, f"budget={budget}"

    labels = {
        r["id"]: r
        for r in dedup.dedup_incremental(new, index, cfg).collect()
    }
    assert len(labels) == new.count()
    by_new: dict = {}
    for nid, cid, est in expected:
        cur = by_new.setdefault(nid, {"dup_of": cid, "n": 0, "best": est})
        cur["dup_of"] = min(cur["dup_of"], cid)
        cur["n"] += 1
        cur["best"] = max(cur["best"], est)
    for nid, r in labels.items():
        if nid in by_new:
            assert r["is_duplicate"]
            assert r["dup_of"] == by_new[nid]["dup_of"]
            assert r["n_corpus_matches"] == by_new[nid]["n"]
            assert round(r["max_est_jaccard"], 9) == by_new[nid]["best"]
        else:
            assert not r["is_duplicate"]
            assert r["dup_of"] is None and r["n_corpus_matches"] == 0


_SMALL_CFG = DedupConfig(
    similarity_threshold=0.5, shingle_size=5, num_hashes=16, num_bands=4
)


def _cjk_text(rnd, n):
    return "".join(chr(0x4E00 + rnd.randrange(2000)) for _ in range(n))


def _family_docs(spark, n=60, id_type="long", id_prefix=""):
    """``n`` one-character edits of one 200-char text: every pair is a
    candidate, so 2 * n_pairs >= 0.5 * n_sigs (no candidate-id prune)."""
    import random

    base = _cjk_text(random.Random(5), 200)
    rows = [
        (f"{id_prefix}{i}" if id_type == "string" else i,
         base[:i] + "x" + base[i + 1:])
        for i in range(n)
    ]
    return spark.createDataFrame(rows, f"doc_id {id_type}, text string")


def _sparse_docs(spark):
    """300 unrelated texts plus 8 near-copies of the first 8: few candidate
    pairs, so 2 * n_pairs < 0.5 * n_sigs (the candidate-id prune runs)."""
    import random

    rnd = random.Random(7)
    texts = [_cjk_text(rnd, 120) for _ in range(300)]
    texts += [t[:60] + "x" + t[61:] for t in texts[:8]]
    return spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.mark.parametrize("fixture,pruned", [("family", False), ("sparse", True)])
def test_similarity_pairs_same_on_every_arm(spark, tmp_path, fixture, pruned):
    """minhash_similarity_pairs gives the same (id_a, id_b, est_jaccard)
    set on each arm its observed sizes can pick: the broadcast fast path
    (huge budget), the fully shuffled path (zero budget) and, on the sparse
    input, the pruned signature table broadcast (a budget one row short of
    the whole table) — on one input each side of the candidate-id prune's
    cutover. Each arm runs on a signature checkpoint of one partition (a
    one-file parquet scan: the fast path then plans its candidate chain
    single-partition, without exchanges) and of four, uncapped and with a
    bucket cap small enough to take the star path."""
    cfg = _SMALL_CFG
    path = str(tmp_path / "docs")
    docs = (_family_docs if fixture == "family" else _sparse_docs)(spark)
    docs.coalesce(1).write.parquet(path)
    inputs = {1: spark.read.parquet(path)}
    inputs[4] = inputs[1].repartition(4).localCheckpoint(eager=True)
    n_sigs = inputs[1].count()
    n_pairs = dedup.lsh_candidate_pairs(dedup.with_minhash(inputs[1], cfg)).count()
    assert (2 * n_pairs < 0.5 * n_sigs) == pruned, (n_pairs, n_sigs)
    row_bytes = 8 * cfg.num_hashes + 8  # long ids
    for cap in (None, 8):
        results = {}
        for parts, df in inputs.items():
            assert num_partitions(df) == parts
            for budget in (1 << 40, row_bytes * (n_sigs - 1), 0):
                with pytest.MonkeyPatch.context() as mp:
                    mp.setattr(dedup, "_SIG_BCAST_BUDGET_BYTES", budget)
                    results[parts, budget] = {
                        (r["id_a"], r["id_b"], r["est_jaccard"])
                        for r in dedup.minhash_similarity_pairs(
                            df, cfg, max_band_bucket=cap
                        ).collect()
                    }
        fast, *others = results.values()
        assert fast
        assert all(o == fast for o in others), cap


def test_signature_budget_counts_string_id_bytes(spark, monkeypatch):
    """Under a budget twice the bare signature bytes (8 B per hash slot),
    bigint ids keep the signature broadcast, while ~400-byte string ids
    must turn it off: that table's real bytes are ~2x the budget. A
    row-only estimate broadcasts both."""
    cfg = _SMALL_CFG
    n = 60
    monkeypatch.setattr(
        dedup, "_SIG_BCAST_BUDGET_BYTES", 2 * n * 8 * cfg.num_hashes
    )

    def broadcasts(df):
        est = dedup.minhash_similarity_pairs(df, cfg, materialize=False)
        return "BroadcastHashJoin" in _plan(est)

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        assert broadcasts(_family_docs(spark, n))
        assert not broadcasts(
            _family_docs(spark, n, "string", "https://example.com/" + "p" * 380)
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_dedup_representatives_job_count(spark):
    """Guard on Spark jobs per dedup call: every size decision rides a
    checkpoint job the operator needs anyway (checkpoint_observed), so a
    300-doc call plus one count runs 11 jobs; one more means a decision
    grew a Spark job of its own."""
    sc = spark.sparkContext
    df = (
        gen.docs_df(spark, 300, partitions=4)
        .select(F.col("url").alias("doc_id"), "text")
        .localCheckpoint(eager=True)
    )
    group = "test_dedup_representatives_job_count"
    sc.setJobGroup(group, "dedup_representatives")
    try:
        n_dup = dedup.dedup_representatives(df).where("is_duplicate").count()
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert n_dup == 30
    assert len(jobs) == 11, sorted(jobs)


def test_fold_into_index_sequential_equals_concatenated(spark):
    """fold_into_index closes the operational loop: two increments
    processed sequentially must equal one concatenated batch — labels
    (is_duplicate AND dup_of) and the folded index — under the documented
    provisos: monotone ids across increments, pairwise-LSH-linked families
    (normal_zh + near_dup classes: family members share an 8-sentence
    base, so every member pair links directly), and the same cap (None =
    the provable form) on both paths."""
    from chinese_corpus_cleaning_spark.config import DedupConfig

    cfg = DedupConfig(
        similarity_threshold=0.5, shingle_size=5, num_hashes=16, num_bands=4
    )
    docs = (
        gen.docs_df(spark, 600, partitions=4)
        .where(F.col("doc_class").isin("normal_zh", "near_dup"))
        .select(
            F.split("url", "/").getItem(4).cast("long").alias("doc_id"),
            "text",
        )
        .cache()
    )
    b1 = docs.where("doc_id < 300")
    b2 = docs.where("doc_id >= 300")

    l_all, idx_all = dedup.fold_into_index(
        docs, None, cfg, max_band_bucket=None
    )
    l1, idx1 = dedup.fold_into_index(b1, None, cfg, max_band_bucket=None)
    idx1 = idx1.localCheckpoint(eager=True)
    l2, idx2 = dedup.fold_into_index(b2, idx1, cfg, max_band_bucket=None)

    one_shot = {r["id"]: (r["is_duplicate"], r["dup_of"]) for r in l_all.collect()}
    seq = {r["id"]: (r["is_duplicate"], r["dup_of"]) for r in l1.collect()}
    seq.update(
        {r["id"]: (r["is_duplicate"], r["dup_of"]) for r in l2.collect()}
    )
    assert one_shot == seq
    ids_all = sorted(r["doc_id"] for r in idx_all.select("doc_id").collect())
    ids_seq = sorted(r["doc_id"] for r in idx2.select("doc_id").collect())
    assert ids_all == ids_seq
    # the index is exactly the survivor set
    assert set(ids_all) == {k for k, v in one_shot.items() if not v[0]}
    # sources: second increment must see at least one corpus-side dup
    # (near-dup families straddle the id-300 boundary by construction)
    srcs = {r["id"]: r["dup_source"] for r in l2.collect()}
    assert "corpus" in set(srcs.values())
    # survivors carry NULL source; every dup carries one
    for r in l2.collect():
        assert (r["dup_source"] is None) == (not r["is_duplicate"])


def test_fold_into_index_bootstrap_matches_representatives(spark):
    """corpus_index=None bootstraps: labels must equal
    dedup_representatives over the same batch (batch-internal semantics),
    and every new doc appears in exactly one of {index, duplicates}."""
    from chinese_corpus_cleaning_spark.config import DedupConfig

    cfg = DedupConfig(
        similarity_threshold=0.5, shingle_size=5, num_hashes=16, num_bands=4
    )
    docs = gen.docs_df(spark, 300, partitions=4).select(
        F.split("url", "/").getItem(4).cast("long").alias("doc_id"), "text"
    )
    labels, index = dedup.fold_into_index(
        docs, None, cfg, max_band_bucket=None
    )
    reps = {
        r["id"]: (r["is_duplicate"], r["component"])
        for r in dedup.dedup_representatives(
            docs, cfg, max_band_bucket=None
        ).collect()
    }
    got = {r["id"]: r for r in labels.collect()}
    assert set(got) == set(reps)
    for i, (dup, comp) in reps.items():
        assert got[i]["is_duplicate"] == dup
        assert got[i]["dup_of"] == (comp if dup else None)
        assert got[i]["dup_source"] == ("batch" if dup else None)
    idx_ids = {r["doc_id"] for r in index.select("doc_id").collect()}
    assert idx_ids == {i for i, (dup, _) in reps.items() if not dup}


def test_precomputed_signatures_equal_recompute(spark):
    """dedup_representatives(precomputed=with_minhash(docs)) must equal
    the recompute path bit-for-bit (fold_into_index threads its
    checkpointed signatures through the internal pass — review finding:
    it used to re-sign every remaining doc), and fold's index append
    must survive a REORDERED reloaded index (unionByName, not positional
    union — minhash and band_keys are both array<bigint>, so a positional
    swap would type-check and silently corrupt every probe)."""
    from chinese_corpus_cleaning_spark.config import DedupConfig

    cfg = DedupConfig(
        similarity_threshold=0.5, shingle_size=5, num_hashes=16, num_bands=4
    )
    docs = gen.docs_df(spark, 240, partitions=4).select(
        F.split("url", "/").getItem(4).cast("long").alias("doc_id"), "text"
    )
    signed = dedup.with_minhash(docs, cfg).localCheckpoint(eager=True)
    base = sorted(
        map(tuple, dedup.dedup_representatives(docs, cfg).collect())
    )
    pre = sorted(
        map(
            tuple,
            dedup.dedup_representatives(
                docs, cfg, precomputed=signed
            ).collect(),
        )
    )
    assert pre == base
    # reordered index reload: same labels as the naturally-ordered index
    b1 = docs.where("doc_id < 120")
    b2 = docs.where("doc_id >= 120")
    _, idx1 = dedup.fold_into_index(b1, None, cfg, max_band_bucket=None)
    reordered = idx1.select("band_keys", "minhash", "doc_id")
    l_nat, _ = dedup.fold_into_index(b2, idx1, cfg, max_band_bucket=None)
    l_re, idx_re = dedup.fold_into_index(
        b2, reordered, cfg, max_band_bucket=None
    )
    assert sorted(map(tuple, l_re.collect())) == sorted(
        map(tuple, l_nat.collect())
    )
    # and the appended index is well-formed for a THIRD increment probe
    assert idx_re.select("doc_id", "minhash", "band_keys").count() > 0
