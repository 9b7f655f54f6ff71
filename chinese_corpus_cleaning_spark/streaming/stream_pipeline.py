"""Structured Streaming quality filter.

The reference is strictly batch (SURVEY.md §2.12 — no watermarks/state
anywhere), but a continuously-crawled corpus is naturally a stream of pages.
This module runs the SAME per-document operators (operators/quality.py UDFs
are stateless map-side transforms, so they lift to streaming unchanged) over
a file-source stream, with:

  * ``readStream`` over an arriving-parquet directory (schema = the docs
    table) or any other source the caller supplies;
  * event-time windowed keep/drop metrics with a watermark for late pages
    (the streaming analogue of the batch stats.json, main.py:310-312);
  * ``foreachBatch`` labels sink — per-microbatch idempotent parquet append
    keyed by batch id (exactly-once via sink-side dedup on re-run).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT, PipelineConfig
from ..operators.quality import keep_drop_counters, with_quality

DOCS_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, "
    "lang string, doc_class string"
)
# event-time window and lateness bound of the keep/drop metrics; how long
# the dedup operators remember a seen key
_METRICS_WINDOW = "10 minutes"
_METRICS_WATERMARK = "30 minutes"
_DEDUP_WATERMARK = "1 hour"


def stream_from_directory(spark: SparkSession, path: str) -> DataFrame:
    return (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(path)
    )


def labeled_stream(
    stream: DataFrame, trie_bc, cfg: PipelineConfig = DEFAULT
) -> DataFrame:
    """Stateless transform — identical column semantics to the batch plan."""
    return with_quality(stream.select("url", "warc_ts", "text"), trie_bc, cfg)


def windowed_metrics(labeled: DataFrame) -> DataFrame:
    """Event-time keep/drop counters per warc_ts window, late data bounded by
    the watermark (streaming stats.json)."""
    return (
        labeled.withWatermark("warc_ts", _METRICS_WATERMARK)
        .groupBy(F.window("warc_ts", _METRICS_WINDOW).alias("w"))
        .agg(*keep_drop_counters())
        .select(F.col("w.start").alias("window_start"), "total", "high_quality", "low_quality", "error")
    )


def write_labels_batch(
    batch_df: DataFrame, batch_id: int, output_dir: str
) -> None:
    """Idempotent labels sink for one microbatch: partition by batch_id
    and DYNAMICALLY overwrite only this batch's partition — a microbatch
    replayed after a crash between the parquet write and the checkpoint
    commit rewrites its own partition instead of appending the whole
    batch a second time (review finding: a plain append made the
    module's exactly-once claim false). Module-level so the replay
    semantics are directly testable."""
    (
        batch_df.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(f"{output_dir}/labels")
    )


def run_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    trie_bc,
    cfg: PipelineConfig = DEFAULT,
):
    """Start the streaming job: labels to parquet via foreachBatch (idempotent
    per batch id), metrics to memory sink for inspection. Returns the two
    StreamingQuery handles."""
    labeled = labeled_stream(stream_from_directory(spark, input_dir), trie_bc, cfg)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        write_labels_batch(batch_df, batch_id, output_dir)

    labels_q = (
        labeled.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", f"{output_dir}/_chk_labels")
        .trigger(availableNow=True)
        .start()
    )
    # complete mode: append-mode windowed aggs only emit once the watermark
    # passes a window's end, which never happens in a bounded availableNow
    # run; complete re-emits all windows every trigger (fine for a small
    # metrics table)
    metrics_q = (
        windowed_metrics(labeled)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("ccc_stream_metrics")
        .option("checkpointLocation", f"{output_dir}/_chk_metrics")
        .trigger(availableNow=True)
        .start()
    )
    return labels_q, metrics_q


def stateful_host_totals(stream: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-host
    RUNNING totals (n_docs, total_chars) maintained across microbatches —
    the streaming analogue of textanalysis.host_rollup for a continuous
    crawl, where per-batch aggregation alone would forget history.

    State = one (n_docs, total_chars) tuple per host; each microbatch that
    touches a host emits that host's updated cumulative row ("update" output
    mode). Arrow-batched like every other UDF in this repo. State size is
    O(#hosts) — bounded for a web crawl (~10^8 hosts -> a few GB across the
    cluster, partitioned by the groupBy hash)."""
    import pandas as pd  # local: streaming module is importable without arrow
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "host string, n_docs long, total_chars long"
    state_schema = "n_docs long, total_chars long"

    def update(key, pdf_iter, state: GroupState):
        n, chars = state.get if state.exists else (0, 0)
        for pdf in pdf_iter:
            n += len(pdf)
            chars += int(pdf["n_chars"].sum())
        state.update((n, chars))
        yield pd.DataFrame(
            {"host": [key[0]], "n_docs": [n], "total_chars": [chars]}
        )

    # try_parse_url: one malformed url in a microbatch must not
    # terminate the whole StreamingQuery (CLAUDE.md crawl-facing rule;
    # url_blocklist_filter/domain_quality_filter already do this) —
    # malformed rows roll up under the NULL host
    hosted = stream.select(
        F.try_parse_url(F.col("url"), F.lit("HOST")).alias("host"),
        F.length("text").alias("n_chars"),
    )
    return hosted.groupBy("host").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def streaming_incremental_dedup(
    stream: DataFrame,
    corpus_index: DataFrame,
    cfg=None,
    id_col: str = "url",
    text_col: str = "text",
    ts_col: str = "warc_ts",
) -> DataFrame:
    """Stream-static near-dup probe — the streaming form of
    operators/dedup.dedup_incremental_pairs for a continuous crawl: each
    arriving microbatch is MinHashed in place (with_minhash is a stateless
    map transform — the same Arrow signature UDF lifts to streaming
    unchanged) and probed against a STATIC corpus signature index
    (a ``with_minhash`` table persisted by a prior batch run).

    Join shape per microbatch, all stream-static (the static side is never
    shuffled by the stream; Catalyst plans each as a broadcast/hash probe of
    the static relation):
      1. exploded (new_id, band_key) x static slim (corpus_id, band_key);
      2. matched corpus ids x static (corpus_id, minhash) to fetch only the
         candidate signatures — the stream side carries its own signature.
    A (new_id, corpus_id) pair that collides in several bands would emit
    once per band, so matches are deduped with
    ``dropDuplicatesWithinWatermark`` keyed on the pair — state is bounded
    by the event-time watermark, like streaming_dedup above.

    Returns (new_id, corpus_id, est_jaccard, ts_col) rows with
    est >= cfg.similarity_threshold; batch≡stream parity is pinned in
    tests/test_multimodal_streaming.py."""
    from ..config import DedupConfig
    from ..operators.dedup import _est_jaccard_exprs, with_minhash

    cfg = cfg or DedupConfig()
    signed = with_minhash(stream, cfg, id_col, text_col, keep_cols=(ts_col,))
    new_bands = signed.select(
        F.col(id_col).alias("new_id"),
        F.col(ts_col),
        F.col("minhash").alias("minhash_b"),
        F.explode("band_keys").alias("band_key"),
    )
    corpus_bands = corpus_index.select(
        F.col(id_col).alias("corpus_id"),
        F.explode("band_keys").alias("band_key"),
    )
    corpus_sigs = corpus_index.select(
        F.col(id_col).alias("corpus_id"), F.col("minhash").alias("minhash_a")
    )
    cond, est_col = _est_jaccard_exprs(cfg)
    return (
        new_bands.join(corpus_bands, "band_key")
        .join(corpus_sigs, "corpus_id")
        .where(cond)
        .withColumn("est_jaccard", est_col)
        .withWatermark(ts_col, _DEDUP_WATERMARK)
        .dropDuplicatesWithinWatermark(["new_id", "corpus_id"])
        .select("new_id", "corpus_id", "est_jaccard", ts_col)
    )


def streaming_dedup(stream: DataFrame) -> DataFrame:
    """Stateful exact dedup across microbatches: the first arrival of each
    content hash passes, later copies are dropped. State is bounded by the
    event-time watermark (Spark evicts seen-keys older than it) — the
    streaming analogue of the batch exact-dedup stage for a continuously
    crawled corpus where the same page recurs across fetches."""
    return (
        stream.withColumn("content_md5", F.md5(F.encode("text", "UTF-8")))
        .withWatermark("warc_ts", _DEDUP_WATERMARK)
        .dropDuplicatesWithinWatermark(["content_md5"])
    )
