"""End-to-end quality-filter pipeline plan (rebuild of reference E1/E2,
SURVEY.md §3).

    docs(url, warc_ts, html, text, lang)
      -> [repartition by xxhash64(url)]            explicit parallelism/lineage
      -> quality eval (ONE Arrow round trip)        operators/quality.py
      -> quality_score, keep (native exprs)         Catalyst-visible
      -> labels table  (url, keep, scores, checks, scrub outputs)
      -> metrics       (observe() counters + per-partition lineage rows)

Scale notes (10^12-doc target):
  * The input scan only reads (url, text) — column pruning keeps the html
    binary out of the plan entirely (verify via .explain: ReadSchema).
  * repartition(N, xxhash64(url)) gives stable, evenly-sized partitions
    independent of source file layout, and partition ids usable as lineage
    keys for resume (north_rule).
  * No shuffle after the repartition: eval + score + write are all
    map-side; the only wide stages in the full job are the optional dedup
    join (operators/dedup.py) and the metrics aggregation (tiny).
  * Kept/scrubbed outputs are written partitioned (bucket-by-url-hash dirs
    via partition_id) so a resumed run can anti-join completed partitions.

Run via spark-submit:  python -m chinese_corpus_cleaning_spark.plans.pipeline
  --input <parquet-or-iceberg> --output <dir> [--partitions N] [--resume]
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT, PipelineConfig
from ..operators.quality import keep_drop_counters, with_quality
from ..sources.wordlists import broadcast_trie

LABEL_COLUMNS = (
    "url",
    "keep",
    "quality_score",
    "rule_passed",
    "rule_score",
    "rule_checks",
    "feature_passed",
    "feature_count",
    "feature_words",
    "avg_feature_per_line",
    "feature_score",
    "scrubbed_text",
    "scrub_reasons",
    "error",
    "part_id",
)


def quality_filter_plan(
    docs: DataFrame,
    trie_bc,
    cfg: PipelineConfig = DEFAULT,
    partitions: int | None = None,
    skip_part_ids: DataFrame | None = None,
) -> DataFrame:
    """The labels DataFrame. Column-prunes to (url, text) before the UDF
    stage; repartitions on xxhash64(url) when ``partitions`` is given.

    ``skip_part_ids`` (resume): a (part_id) frame anti-joined away
    BEFORE the quality UDF — part_id is stamped right after the
    repartition, and the anti-join is a broadcast hash join (no
    exchange), so completed partitions never reach the Arrow scoring
    pass at all. The old shape filtered AFTER the UDF: Catalyst cannot
    push a join below a non-deterministic spark_partition_id
    projection, so a 90 %-complete resume re-paid ~90 % of the
    dominant per-row cost and threw it away (review finding)."""
    slim = docs.select("url", "text")
    if partitions:
        slim = slim.repartition(partitions, F.xxhash64("url"))
    slim = slim.withColumn("part_id", F.spark_partition_id())
    if skip_part_ids is not None:
        slim = slim.join(F.broadcast(skip_part_ids), "part_id", "left_anti")
    labeled = with_quality(slim, trie_bc, cfg)
    return labeled.select(*LABEL_COLUMNS)


def read_table(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """URI-dispatched table read: ``iceberg:<catalog.db.table>`` loads via
    the Iceberg source; anything else is a parquet directory, read with
    ``schema`` when one is given (no footer-reading inference job; an
    Iceberg table carries its own schema)."""
    if path.startswith("iceberg:"):
        return spark.read.format("iceberg").load(path[len("iceberg:") :])
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def build_labels_writer(observed: DataFrame, labels_path: str, resume: bool):
    """Select the labels sink by output URI (SURVEY.md §1.2 maps the K1/K4
    sinks to partitioned Iceberg tables; partitioned parquet is the
    sandbox/dev fallback — the resume/idempotency contract is identical).

    Returns ``(sink_kind, commit)`` where ``commit()`` performs the terminal
    write action — split so plan tests can assert the sink dispatch without
    needing an Iceberg catalog in the sandbox. Mode mapping mirrors the
    parquet branch: fresh run -> full replace (createOrReplace ==
    static overwrite), resume -> overwritePartitions (== dynamic partition
    overwrite: only re-run part_id partitions are replaced)."""
    if labels_path.startswith("iceberg:"):
        table = labels_path[len("iceberg:") :]
        if resume:
            return "iceberg:overwritePartitions", observed.writeTo(
                table
            ).overwritePartitions
        return (
            "iceberg:createOrReplace",
            observed.writeTo(table).partitionedBy(F.col("part_id")).createOrReplace,
        )

    def commit() -> None:
        (
            observed.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic" if resume else "static")
            .partitionBy("part_id")
            .parquet(labels_path)
        )

    return ("parquet:dynamic" if resume else "parquet:static"), commit


def run(
    spark: SparkSession,
    docs: DataFrame,
    output_dir: str,
    cfg: PipelineConfig = DEFAULT,
    partitions: int | None = None,
    resume: bool = False,
) -> dict:
    """Execute the pipeline with metrics + per-partition lineage and
    idempotent, resumable writes.

    Resume contract (north_rule): lineage rows record completed partition
    ids; a resumed run anti-joins them away and appends only missing
    partitions. Output layout is partitioned by part_id so re-writing a
    partition is idempotent (dynamic overwrite).
    """
    trie_bc = broadcast_trie(spark)

    if output_dir.startswith("iceberg:"):
        base = output_dir[len("iceberg:") :]
        labels_path = f"iceberg:{base}_labels"
        lineage_path = f"iceberg:{base}_lineage"
    else:
        labels_path = f"{output_dir}/labels"
        lineage_path = f"{output_dir}/lineage"

    done = None
    if resume:
        try:
            prior = read_table(spark, lineage_path)
        except Exception:
            prior = None  # no lineage yet -> full run
        if prior is not None:
            # part_id is spark_partition_id(): it only identifies the
            # same work across runs if the partitioning is the same. A
            # resume with a different (or missing) --partitions would
            # silently drop new documents whose part_id collides with a
            # 'complete' id and double-count the rest (review finding) —
            # refuse loudly instead.
            if "n_partitions" in prior.columns:
                recorded = [
                    r["n_partitions"]
                    for r in prior.select("n_partitions").distinct().collect()
                ]
                current = partitions or -1
                if recorded and set(recorded) != {current}:
                    raise ValueError(
                        f"resume partitioning mismatch: lineage was "
                        f"written with --partitions "
                        f"{sorted(set(recorded))} but this run uses "
                        f"{current} (-1 = input layout); part_id-keyed "
                        f"resume is only valid under the identical "
                        f"partitioning — rerun with the original value "
                        f"or start fresh (resume=False)"
                    )
            else:
                # legacy lineage (written before n_partitions was recorded)
                # is exactly the UNVERIFIABLE case the guard above exists
                # for — a silently different --partitions would drop or
                # double-count documents. Surface it loudly instead of
                # silently proceeding (r7 advice).
                import warnings

                warnings.warn(
                    "resume: lineage table has no n_partitions column "
                    "(written by an older run), so the partitioning "
                    "cannot be verified against this run's --partitions; "
                    "proceeding is only safe if it is IDENTICAL to the "
                    "original run's. Rewrite the lineage or start fresh "
                    "(resume=False) to clear this warning.",
                    stacklevel=2,
                )
            done = (
                prior.where(F.col("status") == "complete")
                .select("part_id")
                .distinct()
            )
    labels = quality_filter_plan(docs, trie_bc, cfg, partitions, done)

    # run-level counters ride the same action via observe() (K3 rebuild:
    # stats.json of main.py:310-312 without a second pass); harvested from
    # the Observation right after the write job commits — no listener, no
    # extra scan
    from pyspark.sql import Observation

    obs = Observation("metrics")
    observed = labels.observe(obs, *keep_drop_counters())
    # Write modes (idempotency contract):
    #   fresh run  -> static overwrite / createOrReplace: the output is fully
    #                 replaced, so stale part_id partitions from an earlier
    #                 wider run can't leak into the recomputed stats;
    #   resume     -> dynamic partition overwrite / overwritePartitions: only
    #                 the re-run partitions are replaced, so a crash between
    #                 the labels commit and the lineage write re-runs those
    #                 partitions idempotently (an append here would duplicate
    #                 their rows). The mode is a writer option, not a session
    #                 conf — nothing leaks into other writes on this session.
    _, commit_labels = build_labels_writer(observed, labels_path, resume)
    commit_labels()

    # Per-partition lineage: the ONE read-back of the labels table (it must
    # re-scan, not re-derive — lineage certifies what was actually committed,
    # over ALL partitions including those kept from earlier runs). The
    # schema is the one just written, so the read starts no inference job.
    lineage = (
        read_table(spark, labels_path, labels.schema)
        .groupBy("part_id")
        .agg(
            F.count(F.lit(1)).alias("rows_in"),
            F.sum(F.col("keep").cast("long")).alias("rows_kept"),
            F.sum(F.col("error").isNotNull().cast("long")).alias("rows_error"),
        )
        .withColumn("status", F.lit("complete"))
        .withColumn("n_partitions", F.lit(partitions or -1))
    )
    if lineage_path.startswith("iceberg:"):
        lineage.writeTo(lineage_path[len("iceberg:") :]).createOrReplace()
    else:
        lineage.write.mode("overwrite").parquet(lineage_path)

    if not resume:
        # fresh run: the observe() counters that rode the write job ARE the
        # whole-table stats — zero additional scans
        return {k: int(v or 0) for k, v in obs.get.items()}

    # resume: the write covered only the missing partitions, so whole-table
    # stats are the lineage sums (lineage itself was just written; this agg
    # scans that tiny table, not the labels)
    t = (
        read_table(spark, lineage_path)
        .agg(
            F.sum("rows_in").alias("total"),
            F.sum("rows_kept").alias("high_quality"),
            F.sum("rows_error").alias("error"),
        )
        .collect()[0]
    )
    total = int(t["total"] or 0)
    high = int(t["high_quality"] or 0)
    err = int(t["error"] or 0)
    return {
        "total": total,
        "high_quality": high,
        "low_quality": total - high - err,
        "error": err,
    }


def main() -> None:  # pragma: no cover - spark-submit entry
    import argparse

    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--partitions", type=int, default=None)
    p.add_argument("--resume", action="store_true")
    args = p.parse_args()

    spark = (
        SparkSession.builder.appName("ccc-quality-filter")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    from ..sources.shipping import ensure_pyfiles

    ensure_pyfiles(spark)
    docs = read_table(spark, args.input)
    if "url" not in docs.columns:
        # accept any table carrying (id-ish, text): synthesize the url key
        id_col = "doc_id" if "doc_id" in docs.columns else docs.columns[0]
        docs = docs.withColumn(
            "url", F.concat(F.lit("doc://"), F.col(id_col).cast("string"))
        )
    stats = run(
        spark,
        docs,
        args.output,
        partitions=args.partitions,
        resume=args.resume,
    )
    print(stats)


if __name__ == "__main__":  # pragma: no cover
    main()
