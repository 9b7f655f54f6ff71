"""SemDeDup (operators/similarity.semdedup) + distributed k-means
(kmeans_fit).

Reference anchor: the reference's embedding duplicate criterion is the
driver-bound full cosine matrix (/root/reference/utils/embed.py:58-82,
clustering.py:169-185); SemDeDup (Abbas et al. 2023) is the published
cluster-bounded form of the same cosine test. kmeans_fit is checked
differentially against a driver-side numpy Lloyd with identical rules
(lowest-id seeds, L2 argmin, centroid-id tie-break, empty cell keeps its
previous centroid).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from chinese_corpus_cleaning_spark.operators import similarity
from chinese_corpus_cleaning_spark.operators.similarity import (
    assign_cells,
    kmeans_fit,
    semdedup,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").localCheckpoint(
        eager=True
    )


def _with_planted_copies(emb, every=10, offset=1_000_000):
    """Union scaled near-copies (x * 1.0000001f — cosine to the original
    ~1.0, L2 position within 1e-7 relative so the cell cannot change) of
    every `every`-th vector, at ids ABOVE the whole corpus so the original
    is always the earlier item."""
    copies = emb.where(F.col("vec_id") % every == 0).select(
        (F.col("vec_id") + offset).alias("vec_id"),
        F.expr(
            "transform(embedding, x -> x * cast(1.0000001 as float))"
        ).alias("embedding"),
        "label",
    )
    return emb.unionByName(copies)


def test_semdedup_drops_planted_near_duplicates(emb):
    dfin = _with_planted_copies(emb)
    out = semdedup(dfin, n_cells=8, tau=0.95).cache()
    copies = {
        r["vec_id"]: r for r in out.where("vec_id >= 1000000").collect()
    }
    originals = {
        r["vec_id"]: r for r in out.where("vec_id < 1000000").collect()
    }
    assert len(copies) == 50
    # every planted copy is similar (~1.0) to its earlier original -> drop
    for r in copies.values():
        assert r["semdedup_keep"] is False
        assert r["max_prior_cos"] > 0.9999
    # the synthetic corpus is near-orthogonal (max pairwise cos ~0.49):
    # at tau=0.95 every original survives
    assert all(r["semdedup_keep"] for r in originals.values())
    # copy landed in its original's cell (the 1e-7 perturbation cannot
    # cross a cell boundary on this data)
    for vid, r in copies.items():
        assert r["cell"] == originals[vid - 1_000_000]["cell"]
    out.unpersist()


def test_semdedup_first_of_cell_has_null_prior(emb):
    out = semdedup(emb, n_cells=8, tau=0.3)
    rows = out.collect()
    assert len(rows) == 500
    # per cell, exactly the lowest id has NULL max_prior_cos
    by_cell = {}
    for r in rows:
        by_cell.setdefault(r["cell"], []).append(r)
    for cell_rows in by_cell.values():
        first = min(cell_rows, key=lambda r: r["vec_id"])
        assert first["max_prior_cos"] is None and first["semdedup_keep"]
        for r in cell_rows:
            if r["vec_id"] != first["vec_id"]:
                assert r["max_prior_cos"] is not None
                assert r["semdedup_keep"] == (r["max_prior_cos"] < 0.3)


def test_semdedup_partitioning_invariant(emb):
    a = semdedup(emb, n_cells=8, tau=0.3)
    b = semdedup(emb.repartition(13), n_cells=8, tau=0.3)
    ra = {(r["vec_id"], r["cell"], r["semdedup_keep"]) for r in a.collect()}
    rb = {(r["vec_id"], r["cell"], r["semdedup_keep"]) for r in b.collect()}
    assert ra == rb


def _numpy_lloyd(ids, vecs, k, iters):
    """Driver-side Lloyd with kmeans_fit's exact rules."""
    order = np.argsort(ids)
    ids, vecs = ids[order], vecs[order]
    cids = ids[:k].copy()
    cents = vecs[:k].astype(np.float64).copy()
    for _ in range(iters):
        d2 = ((vecs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        # argmin with centroid-ID tie-break == numpy argmin on first axis
        # occurrence IF centroids are stored in cid order (they are)
        assign = d2.argmin(axis=1)
        for j in range(k):
            m = assign == j
            if m.any():
                cents[j] = vecs[m].mean(axis=0)
    return cids, cents


def test_kmeans_fit_matches_numpy_lloyd(spark, emb):
    k, iters = 4, 3
    got = {
        int(r["cid"]): np.array(r["c"])
        for r in kmeans_fit(emb, k=k, iters=iters).collect()
    }
    pdf = emb.orderBy("vec_id").toPandas()
    ids = pdf["vec_id"].to_numpy()
    vecs = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    cids, cents = _numpy_lloyd(ids, vecs, k, iters)
    assert sorted(got) == sorted(int(c) for c in cids)
    for cid, cvec in zip(cids, cents):
        # float partial-sum order differs (Spark avg combines partials);
        # the synthetic clusters are well-separated so assignments agree
        # and centroids match to ~1e-12 relative
        np.testing.assert_allclose(got[int(cid)], cvec, rtol=1e-9, atol=1e-12)


def test_semdedup_with_trained_centroids(emb):
    cents = kmeans_fit(emb, k=4, iters=2)
    dfin = _with_planted_copies(emb)
    out = semdedup(dfin, tau=0.95, centroids=cents).cache()
    assert out.count() == 550
    dropped = out.where("not semdedup_keep")
    # the planted copies are dropped under trained centroids too
    assert dropped.where("vec_id >= 1000000").count() == 50
    # assignment matches assign_cells directly
    cells = {
        r["vec_id"]: r["cell"]
        for r in assign_cells(dfin, cents).collect()
    }
    for r in out.collect():
        assert cells[r["vec_id"]] == r["cell"]
    out.unpersist()


def test_semdedup_empty_input(spark):
    empty = spark.createDataFrame([], "vec_id bigint, embedding array<float>")
    assert semdedup(empty, n_cells=4, tau=0.9).count() == 0
    assert kmeans_fit(empty, k=4, iters=1).count() == 0


def test_degenerate_vectors_do_not_abort(spark, emb):
    """Spark 4's default ANSI mode made one bad embedding job-fatal
    (review findings): a zero-norm vector hit DIVIDE_BY_ZERO in every
    cosine, and a ragged (short) vector hit INVALID_ARRAY_INDEX_IN_
    ELEMENT_AT in the hyperplane expression. Both must degrade per-row in
    every pair operator: NULL cosine (zero vector keeps: similarity is
    unjudgeable) and bucket 0 (NULL-poisoned sign sum — the DuckDB twin's
    behavior)."""
    bad = spark.createDataFrame(
        [
            (9_000_001, [0.0] * 64),  # zero norm
            (9_000_002, [1.0, 2.0]),  # ragged: 2 of 64 dims
        ],
        "vec_id bigint, embedding array<float>",
    )
    dfin = emb.select("vec_id", "embedding").unionByName(bad)
    n_in = dfin.count()
    bad_ids = {9_000_001, 9_000_002}
    # per-vector operators: no job abort, every input id keeps its row
    for op in (similarity.duplicate_ratio_ann, similarity.duplicate_ratio):
        ratios = op(dfin).cache()
        assert ratios.count() == n_in, op.__name__
        assert ratios.where("vec_id >= 9000000").count() == 2, op.__name__
        # the zero vector's cosines are all NULL: no max to take
        if op is similarity.duplicate_ratio:
            z = ratios.where("vec_id = 9000001").collect()[0]
            assert z["dup_ratio"] is None
        ratios.unpersist()
    # top-k operators: the zero vector is never a neighbor with a non-NULL
    # cosine. Both bad vectors share bucket 0 (ann) and have same-cell
    # candidates (ivf), so each keeps its own query rows, NULL-scored.
    topk_ops = {
        "cosine_topk": similarity.cosine_topk(dfin, k=3),
        "ann_topk_lsh": similarity.ann_topk_lsh(dfin, k=3),
        "ivf_topk": similarity.ivf_topk(dfin),
    }
    for name, top in topk_ops.items():
        top = top.cache()
        assert top.where("neighbor_id = 9000001").where(
            "cos_sim is not null"
        ).count() == 0, name
        got = {r["vec_id"] for r in top.where("vec_id >= 9000000").collect()}
        assert got == bad_ids, name
        assert top.where("vec_id >= 9000000").where(
            "cos_sim is not null"
        ).count() == 0, name
        top.unpersist()
    # threshold pairs: a NULL cosine never passes, so neither bad id pairs
    pairs = similarity.embedding_near_dup_pairs(dfin, threshold=0.3)
    assert pairs.where(
        "id_a >= 9000000 or id_b >= 9000000"
    ).count() == 0
    # ragged vector: sign sums NULL-poison -> deterministic bucket 0
    b = {
        r["vec_id"]: r["bucket"]
        for r in similarity.rp_lsh_buckets(bad).collect()
    }
    assert b[9_000_002] == 0
    # semdedup keeps the zero vector (max_prior_cos NULL) and completes
    sd = semdedup(dfin, n_cells=4, tau=0.5)
    zrow = sd.where("vec_id = 9000001").collect()[0]
    assert zrow["semdedup_keep"] is True


def test_kmeans_fit_string_ids(spark):
    """kmeans_fit must accept arbitrary id types like its siblings
    (review finding: int(cid) crashed string-keyed corpora)."""
    rows = [
        (f"doc-{i:03d}", [float(i % 4 == j) * 10.0 + 0.1 * i for j in range(4)])
        for i in range(24)
    ]
    vecs = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    cents = kmeans_fit(vecs, k=4, iters=2)
    got = cents.collect()
    assert len(got) == 4
    assert {type(r["cid"]) for r in got} == {str}
    # the trained table drives assign_cells/semdedup end-to-end
    out = semdedup(vecs, tau=0.99, centroids=cents)
    assert out.count() == 24


def test_kmeans_arms_agree_on_nan_input(spark, monkeypatch):
    """Both arms of kmeans_fit's size cutover must give the same cells on
    a NaN coordinate: numpy's argmin stops at the first NaN distance while
    Spark orders NaN above every double, so NaN input takes the
    distributed arm."""
    from chinese_corpus_cleaning_spark.operators.similarity import assign_cells

    rng = np.random.default_rng(7)
    rows = [(i, [float(x) for x in rng.normal(size=4)]) for i in range(40)]
    rows[0] = (0, [float("nan"), 0.0, 0.0, 0.0])
    vecs = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")

    def cells(driver_max_n):
        monkeypatch.setattr(similarity, "_KMEANS_DRIVER_MAX_N", driver_max_n)
        cents = kmeans_fit(vecs, k=3, iters=3)
        return {r["vec_id"]: r["cell"] for r in assign_cells(vecs, cents).collect()}

    assert cells(100_000) == cells(0)
