"""A/B: paragraph_dedup's winner-per-paragraph-hash selection — row_number
window over the hash (every occurrence of a hash sorted in ONE task) vs the
production PARTIAL min-struct aggregate + join-back (map-side combine: a
paragraph duplicated n_docs times reaches the reduce side as
<= n_map_partitions pre-combined rows).

The stress is a HOT paragraph: a footer in EVERY doc (n_docs-way
duplicate, `hot_mult` copies per doc — the skew lever that reaches
100 TB-like hot-key magnitudes at bench scale) plus a 1000-way semi-hot
tier and unique tails — the shape real boilerplate takes. The window
variant must sort the full hot key (hot_mult * n_docs rows) in ONE task;
the min-agg variant pre-combines it map-side (<= n_map_partitions rows
reach the reduce side).

Equality of both forms' outputs is asserted per cell (sum of
crc32(text), sum n_dropped). Interleaved min-of-N in one JVM.

MEASURED CONCLUSION (local[8], BENCH/para_dedup_ab_runs.jsonl; full
table + reading in BENCH/BASELINE.md "Paragraph-dedup design A/B"):
min-agg speedup grows monotonically with hot-key size — 0.46x at 0.4M
hot rows, 0.75x at 1.6M, 0.97x at 25.6M, 1.74x at 25.6M with tails 4x
lighter (the hot-key-dominated regime). The window form's wall is a
straight-line extrapolation of one task sorting the hot key; min-agg's
reduce side stays <= n_map_partitions rows regardless of duplication —
hence the production default, same small-scale-cost-for-scale-shape
trade as the round-6 band-join broadcast probe.

Usage: python BENCH/para_dedup_ab.py [n_docs] [hot_mult]   (default 400000 1)
Appends JSON lines to BENCH/para_dedup_ab_runs.jsonl.
Run with NOTHING else on the machine (CLAUDE.md contamination rule).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

OUT = os.path.join(REPO, "BENCH", "para_dedup_ab_runs.jsonl")


def _window_variant(docs, id_col="doc_id", text_col="text"):
    """paragraph_dedup with the winner chosen by a row_number window over
    the paragraph hash (the shape the operator deliberately avoids);
    everything else identical."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from chinese_corpus_cleaning_spark.functions.hashing import h60_sql

    sep = "\n"
    arr = F.split(F.coalesce(F.col(text_col), F.lit("")), sep)
    slim = (
        docs.select(
            F.col(id_col).alias("__id"),
            F.expr(h60_sql(f"cast({id_col} as string)")).alias("__ord"),
            F.posexplode(
                F.split(F.coalesce(F.col(text_col), F.lit("")), sep)
            ).alias("__idx", "__p"),
        )
        .where(F.length("__p") >= 1)
        .select("__id", "__ord", "__idx", F.expr(h60_sql("__p")).alias("__ph"))
    )
    w = Window.partitionBy("__ph").orderBy("__ord", "__id", "__idx")
    drops = (
        slim.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") > 1)
        .groupBy(F.col("__id").alias(id_col))
        .agg(F.sort_array(F.collect_list("__idx")).alias("__drop"))
    )
    kept = F.filter(
        arr,
        lambda p, i: F.col("__drop").isNull()
        | ~F.array_contains(F.col("__drop"), i),
    )
    return docs.join(drops, id_col, "left").select(
        F.col(id_col),
        F.array_join(kept, sep).alias(text_col),
        F.coalesce(F.size("__drop"), F.lit(0)).alias("n_dropped"),
    )


def main(n_docs: int, hot_mult: int = 1) -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from chinese_corpus_cleaning_spark.operators.textanalysis import (
        paragraph_dedup,
    )

    spark = (
        SparkSession.builder.master("local[16]")
        .appName("para-dedup-ab")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "48g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    import __spark_entry__ as entrymod

    entrymod._ensure_pyfiles(spark)

    # 10 unique paragraphs + the n_docs-way hot footer + a 1000-way
    # semi-hot tier + a unique tail — all native exprs, partition-stable
    docs = (
        spark.range(0, n_docs, 1, 32)
        .select(
            F.col("id").alias("doc_id"),
            F.concat_ws(
                "\n",
                F.expr(
                    "array_join(transform(sequence(1, 10),"
                    " j -> md5(concat(cast(id as string), '_', j))), '\\n')"
                ),
                F.expr(
                    f"array_join(transform(sequence(1, {hot_mult}),"
                    " j -> 'HOT FOOTER all rights reserved'), '\\n')"
                ),
                F.expr("concat('SEMI_', id % 1000)"),
                F.expr("concat('tail_', id)"),
            ).alias("text"),
        )
        .localCheckpoint(eager=True)
    )

    def run(variant) -> tuple[float, tuple]:
        t0 = time.perf_counter()
        row = (
            variant(docs)
            .agg(
                F.sum(F.crc32(F.encode("text", "UTF-8"))).alias("h"),
                F.sum("n_dropped").alias("r"),
            )
            .collect()[0]
        )
        return round(time.perf_counter() - t0, 2), (row["h"], row["r"])

    def prod(d):
        return paragraph_dedup(d).select("doc_id", "text", "n_dropped")

    cell: dict = {"n_docs": n_docs, "hot_mult": hot_mult}
    for name, variant in (("window", _window_variant), ("minagg", prod)):
        walls, sig = [], None
        for _ in range(3):
            w, s = run(variant)
            walls.append(w)
            sig = s
        cell[name] = min(walls)
        cell[f"{name}_runs"] = walls
        cell[f"{name}_sig"] = sig
    assert cell["window_sig"] == cell["minagg_sig"], cell
    cell["speedup_minagg"] = round(cell["window"] / cell["minagg"], 2)
    print(json.dumps(cell), flush=True)
    with open(OUT, "a") as f:
        f.write(json.dumps(cell) + "\n")
    spark.stop()


if __name__ == "__main__":
    main(
        int(sys.argv[1]) if len(sys.argv) > 1 else 400_000,
        int(sys.argv[2]) if len(sys.argv) > 2 else 1,
    )
