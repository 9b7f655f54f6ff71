"""Multimodal binary plumbing + Structured Streaming pipeline tests."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from chinese_corpus_cleaning_spark.functions.dfa import build_trie
from chinese_corpus_cleaning_spark.operators import multimodal
from chinese_corpus_cleaning_spark.sources import gen
from chinese_corpus_cleaning_spark.sources.wordlists import SMALL_LEXICON
from chinese_corpus_cleaning_spark.streaming import stream_pipeline


@pytest.fixture(scope="module")
def media_df(spark):
    rows = [
        ("a", b"\xff\xd8\xff\xe0" + b"x" * 500),
        ("b", b"\x89PNG\r\n" + b"y" * 2000),
        ("c", b"RIFF....WAVE" + b"z" * 100),
        ("d", None),
        ("e", b"plain bytes, no magic"),
        ("f", b"RIFF....WEBP" + b"w" * 60),
        ("g", b"RIFF....AVI " + b"v" * 60),
        ("h", b"RIFF....????" + b"q" * 60),
    ]
    return spark.createDataFrame(rows, "media_id string, blob binary")


def test_media_meta(spark, media_df):
    out = {r["media_id"]: r for r in multimodal.media_meta(media_df, "media_id", "blob").collect()}
    assert out["a"]["magic"] == "jpeg" and out["a"]["media_kind"] == "image"
    assert out["b"]["magic"] == "png"
    assert out["c"]["magic"] == "wav" and out["c"]["media_kind"] == "audio"
    assert out["d"]["n_bytes"] == 0 and out["d"]["magic"] == "empty"
    assert out["e"]["magic"] == "unknown"
    # RIFF is a container — the form type decides the kind (review
    # finding: flat RIFF->audio sent WebP/AVI down the audio path)
    assert out["f"]["magic"] == "webp" and out["f"]["media_kind"] == "image"
    assert out["g"]["magic"] == "avi" and out["g"]["media_kind"] == "video"
    assert out["h"]["magic"] == "riff" and out["h"]["media_kind"] == "unknown"
    assert out["a"]["n_bytes"] == 504


def test_decode_meta_deterministic(spark, media_df):
    a = multimodal.decode_meta(media_df, "media_id", "blob").collect()
    b = multimodal.decode_meta(media_df.repartition(3), "media_id", "blob").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    byid = {r["media_id"]: r for r in a}
    assert byid["a"]["width"] >= 64 and byid["a"]["channels"] in (1, 2, 3, 4)
    assert byid["d"]["width"] == 0


def test_decode_image_stub_raises():
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"\xff\xd8\xff")


def test_frame_sample_fanout(spark, media_df):
    frames = multimodal.frame_sample_plan(media_df, "media_id", "blob", every_n=1).collect()
    by_id: dict = {}
    for r in frames:
        by_id.setdefault(r["media_id"], []).append(r)
    # bigger blob -> more frames, capped at 16
    assert len(by_id["b"]) > len(by_id["c"])
    assert all(len(v) <= 16 for v in by_id.values())
    assert by_id["b"][0]["frame_bytes"] is not None


def test_streaming_pipeline_matches_batch(spark, tmp_path):
    from chinese_corpus_cleaning_spark.operators.quality import with_quality

    in_dir, out_dir = str(tmp_path / "in"), str(tmp_path / "out")
    pdf = gen.docs_pandas(120)
    docs = spark.createDataFrame(pdf)
    docs.write.parquet(in_dir)

    trie_bc = spark.sparkContext.broadcast(build_trie(SMALL_LEXICON))
    q1, q2 = stream_pipeline.run_stream(spark, in_dir, out_dir, trie_bc)
    for q in (q1, q2):
        q.awaitTermination(120)
    assert not q1.isActive and not q2.isActive

    stream_labels = spark.read.parquet(f"{out_dir}/labels")
    batch_labels = with_quality(docs.select("url", "warc_ts", "text"), trie_bc)
    s = {r["url"]: (r["keep"], r["quality_score"]) for r in stream_labels.collect()}
    b = {r["url"]: (r["keep"], r["quality_score"]) for r in batch_labels.collect()}
    assert s == b

    metrics = spark.sql("select * from ccc_stream_metrics").collect()
    assert sum(r["total"] for r in metrics) == 120
    assert sum(r["high_quality"] for r in metrics) == sum(1 for v in b.values() if v[0])

    # exactly-once labels sink: REPLAYING a microbatch (crash between the
    # parquet write and the checkpoint commit) rewrites its batch_id
    # partition instead of appending duplicates (review finding: the old
    # plain append doubled the batch on replay)
    n_before = stream_labels.count()
    replay_ids = [r["batch_id"] for r in stream_labels.select("batch_id").distinct().collect()]
    replayed = with_quality(docs.select("url", "warc_ts", "text"), trie_bc)
    stream_pipeline.write_labels_batch(replayed, int(replay_ids[0]), out_dir)
    assert spark.read.parquet(f"{out_dir}/labels").count() == n_before


def test_media_meta_prunes_other_columns(spark, tmp_path):
    """Metadata queries over a mixed table must not read unrelated columns."""
    import contextlib, io

    path = str(tmp_path / "media")
    df = spark.createDataFrame(
        [("a", b"\x89PNG", "big other column " * 100)],
        "media_id string, blob binary, other string",
    )
    df.write.parquet(path)
    out = multimodal.media_meta(spark.read.parquet(path), "media_id", "blob")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    read_schema = [ln for ln in buf.getvalue().splitlines() if "ReadSchema" in ln][0]
    assert "other" not in read_schema


def test_streaming_stateful_dedup(spark, tmp_path):
    """Exact duplicates arriving in later microbatches are dropped by the
    stateful dedup (watermarked seen-hash state)."""
    import pandas as pd

    in_dir = str(tmp_path / "sin")
    chk = str(tmp_path / "chk")
    pdf = gen.docs_pandas(60)
    # duplicate the first 20 docs with new urls (recrawl of identical pages)
    dups = pdf.head(20).copy()
    dups["url"] = dups["url"] + "?recrawl=1"
    both = pd.concat([pdf, dups], ignore_index=True)
    spark.createDataFrame(both).write.parquet(in_dir)

    stream = stream_pipeline.stream_from_directory(spark, in_dir)
    deduped = stream_pipeline.streaming_dedup(stream)
    q = (
        deduped.writeStream.format("memory")
        .queryName("ccc_stream_dedup")
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("select * from ccc_stream_dedup").collect()
    n_unique_texts = len(set(both["text"]))
    assert len(out) == n_unique_texts
    md5s = [r["content_md5"] for r in out]
    assert len(md5s) == len(set(md5s))


def test_stateful_host_totals_matches_batch(spark, tmp_path):
    """applyInPandasWithState per-host running totals: after a bounded
    multi-microbatch run, the LAST emitted row per host must equal the batch
    groupBy over all input — i.e. state accumulates correctly across
    microbatches."""
    in_dir = str(tmp_path / "hin")
    chk = str(tmp_path / "hchk")
    pdf = gen.docs_pandas(150)
    sdf = spark.createDataFrame(pdf)
    # several files -> maxFilesPerTrigger=8 in stream_from_directory gives
    # multiple microbatches, so per-host state is exercised across batches
    sdf.repartition(24).write.parquet(in_dir)

    stream = stream_pipeline.stream_from_directory(spark, in_dir)
    totals = stream_pipeline.stateful_host_totals(stream)
    q = (
        totals.writeStream.format("memory")
        .queryName("ccc_host_totals")
        .outputMode("update")
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert not q.isActive

    # last emitted cumulative row per host = the max n_docs row
    emitted = spark.sql("select * from ccc_host_totals").collect()
    final: dict = {}
    for r in emitted:
        cur = final.get(r["host"])
        if cur is None or r["n_docs"] > cur[0]:
            final[r["host"]] = (r["n_docs"], r["total_chars"])
    batch = {
        r["host"]: (r["n"], r["c"])
        for r in sdf.groupBy(
            F.parse_url("url", F.lit("HOST")).alias("host")
        )
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.length("text")).alias("c"))
        .collect()
    }
    assert final == batch
    # multiple microbatches actually happened (some host emitted >1 row)
    assert len(emitted) > len(batch)


# ---------------------------------------------------- round-6 header decode


def test_parse_image_dims_pure():
    """Header kernel vs the generator's spec-conformant bytes, plus
    malformed inputs (truncated / junk / dimensionless JPEG / restart
    markers) — all must return None, never raise."""
    for i in (0, 1, 2, 7, 100, 54321):
        magic, w, h = multimodal.parse_image_dims(gen.image_blob_for(i))
        assert magic == {0: "png", 1: "jpeg", 2: "gif"}[i % 3]
        assert (w, h) == (16 + (i * 7) % 2048, 16 + (i * 13) % 2048)
    assert multimodal.parse_image_dims(None) is None
    assert multimodal.parse_image_dims(b"") is None
    assert multimodal.parse_image_dims(b"plain bytes") is None
    assert multimodal.parse_image_dims(b"\x89PNG\r\n\x1a\n1234") is None
    assert multimodal.parse_image_dims(b"GIF89a\x01") is None
    # JPEG: DQT segment then SOS without any SOFn -> no dims
    assert (
        multimodal.parse_image_dims(
            b"\xff\xd8\xff\xdb\x00\x04ab\xff\xda\x00\x02"
        )
        is None
    )
    # JPEG: APP0 + restart marker + fill byte before SOF0 still parses
    import struct

    j = (
        b"\xff\xd8"
        + b"\xff\xe0\x00\x04ab"
        + b"\xff\xd0"  # standalone RST0
        + b"\xff"  # fill byte
        + b"\xff\xc2"  # progressive SOF2 counts as a frame header
        + struct.pack(">H", 17)
        + b"\x08"
        + struct.pack(">HH", 33, 44)
        + b"\x03" * 10
    )
    assert multimodal.parse_image_dims(j) == ("jpeg", 44, 33)
    # corrupt streams must FAIL CLOSED (None), never yield plausible dims:
    # zero/one segment length would otherwise advance into the payload and
    # reinterpret payload bytes as markers
    assert (
        multimodal.parse_image_dims(b"\xff\xd8\xff\xdb\x00\x00ab\xff\xda")
        is None
    )
    assert (
        multimodal.parse_image_dims(b"\xff\xd8\xff\xdb\x00\x01ab\xff\xda")
        is None
    )
    # stray SOI mid-stream is corruption, not a length-bearing segment
    assert (
        multimodal.parse_image_dims(b"\xff\xd8\xff\xd8\x00\x04ab\xff\xda")
        is None
    )


def test_media_dims_spark(spark, media_df):
    """Real blobs through the mapInPandas kernel: parsed rows for the
    generator's images, NULL rows (not failures) for junk/NULL blobs."""
    d = spark.range(0, 8, 1, 2).select(
        F.col("id").alias("doc_id"),
        gen.media_blob_udf()(F.col("id")).alias("blob"),
    )
    out = {
        int(r["media_id"]): r
        for r in multimodal.media_dims(d, "doc_id", "blob").collect()
    }
    assert len(out) == 8
    for i in range(8):
        assert out[i]["magic"] == {0: "png", 1: "jpeg", 2: "gif"}[i % 3]
        assert out[i]["width"] == 16 + (i * 7) % 2048
        assert out[i]["height"] == 16 + (i * 13) % 2048
    junk = {
        r["media_id"]: r
        for r in multimodal.media_dims(media_df, "media_id", "blob").collect()
    }
    assert len(junk) == 8  # incl. the 3 RIFF-container fixture rows
    assert all(junk[k]["magic"] is None for k in ("c", "d", "e"))
    # 'a' is a truncated JPEG (APP0 length runs past the buffer) and 'b' a
    # truncated PNG signature — header kernel must return NULLs, not rows
    # with garbage dims
    assert junk["a"]["width"] is None and junk["b"]["width"] is None


def test_streaming_incremental_dedup_matches_batch(spark, tmp_path):
    """Stream-static incremental dedup: the streamed new batch probed
    against a static corpus signature index must produce EXACTLY the batch
    dedup_incremental_pairs set (ids, est_jaccard values)."""
    from chinese_corpus_cleaning_spark.config import DedupConfig
    from chinese_corpus_cleaning_spark.operators import dedup

    cfg = DedupConfig(
        similarity_threshold=0.5, shingle_size=5, num_hashes=16, num_bands=4
    )
    in_dir = str(tmp_path / "inc_in")
    chk = str(tmp_path / "inc_chk")
    pdf = gen.docs_pandas(300)
    corpus_pdf, new_pdf = pdf.iloc[::2], pdf.iloc[1::2]
    corpus_index = dedup.with_minhash(
        spark.createDataFrame(corpus_pdf), cfg, id_col="url"
    ).localCheckpoint(eager=True)
    new_df = spark.createDataFrame(new_pdf)
    new_df.write.parquet(in_dir)

    expected = {
        (r["new_id"], r["corpus_id"], round(r["est_jaccard"], 9))
        for r in dedup.dedup_incremental_pairs(
            new_df, corpus_index, cfg, id_col="url"
        ).collect()
    }
    assert expected  # near-dup families span adjacent rows by construction

    stream = stream_pipeline.stream_from_directory(spark, in_dir)
    matches = stream_pipeline.streaming_incremental_dedup(
        stream, corpus_index, cfg
    )
    q = (
        matches.writeStream.format("memory")
        .queryName("ccc_inc_dedup")
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["new_id"], r["corpus_id"], round(r["est_jaccard"], 9))
        for r in spark.sql("select * from ccc_inc_dedup").collect()
    }
    assert got == expected


def test_streaming_classifier_scores_match_batch(spark, tmp_path):
    """Stream-static classifier scoring: classifier_score has one body for
    a batch frame and a stream, which scores each row independently
    (weights broadcast once, zero stream-side state) — the streamed output
    must equal the batch output over the same docs: the same schema, and
    every row to the last decimal digit."""
    from chinese_corpus_cleaning_spark.operators import classifier as C

    in_dir = str(tmp_path / "clf_in")
    chk = str(tmp_path / "clf_chk")
    lab = gen.labeled_docs_df(spark, 300, partitions=4).localCheckpoint(
        eager=True
    )
    w = C.nb_logodds_weights(lab, n_buckets=1 << 12).localCheckpoint(
        eager=True
    )
    batch = C.classifier_score(lab, w, n_buckets=1 << 12)
    expected = sorted(map(tuple, batch.collect()))
    assert expected and any(r[-1] for r in expected)

    lab.write.parquet(in_dir)
    stream = (
        spark.readStream.schema(
            "doc_id long, text string, label int, doc_class string"
        )
        .option("maxFilesPerTrigger", 2)
        .parquet(in_dir)
    )
    scored = C.classifier_score(stream, w, n_buckets=1 << 12)
    assert scored.dtypes == batch.dtypes
    q = (
        scored.writeStream.format("memory")
        .queryName("ccc_clf_stream")
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.sql("select * from ccc_clf_stream")
    assert got.dtypes == batch.dtypes
    assert sorted(map(tuple, got.collect())) == expected
