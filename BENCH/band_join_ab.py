"""A/B: oversized-bucket probe shape in the LSH band join (round-6 task).

'annotate' (round-5 production): join the full size aggregate back onto
every exploded (id, band_key) row to carry _bsz, then filter — AQE reuses
the band_key exchange, but the join sorts/merges ALL exploded rows and was
the worst-scaling dedup phase at 1.6M docs (eff ~0.41).

'broadcast' (round-6 candidate): only keys with size > cap matter, and
there are provably <= n_rows/cap of them — broadcast exactly those and
split the exploded table with map-side anti/semi joins; the exploded table
never enters a sort-merge join against the size table.

Both shapes produce bit-identical candidate (and therefore duplicate) sets
— asserted per leg via n_dup. Each leg = one fresh JVM (subprocess),
interleaved within a level, loadavg logged. MUST run with nothing else on
the machine (CLAUDE.md bench contamination rule).

Usage:
  python BENCH/band_join_ab.py [n_docs]            # default 1600000
  python BENCH/band_join_ab.py worker <cpus> <n_docs> <probe> <cap>
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)

RUNS = os.path.join(HERE, "band_join_ab_runs.jsonl")


def worker(cpus: int, n_docs: int, probe: str, cap: int) -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod
    from chinese_corpus_cleaning_spark.config import DedupConfig
    from chinese_corpus_cleaning_spark.operators import dedup
    from chinese_corpus_cleaning_spark.sources import gen

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "48g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    entrymod._ensure_pyfiles(spark)
    cfg = DedupConfig()
    docs = (
        gen.docs_df(spark, n_docs, partitions=cpus * 4)
        .select(F.col("url").alias("doc_id"), "text")
        .cache()
    )
    docs.count()
    dedup.with_minhash(docs.limit(64)).agg(F.count(F.lit(1))).collect()
    load0 = os.getloadavg()[0]

    t: dict[str, float] = {}

    def timed(name, fn):
        t0 = time.perf_counter()
        r = fn()
        t[name] = round(time.perf_counter() - t0, 2)
        return r

    # mirror dedup_representatives' production path (the exact pass, then
    # the capped band join; phase table in BENCH/BASELINE.md round 5)
    keyed = docs.select(
        F.col("doc_id").alias("id"),
        F.md5(F.encode(F.col("text"), "UTF-8")).alias("h"),
    )
    groups = timed(
        "exact_groups",
        lambda: keyed.groupBy("h")
        .agg(F.min("id").alias("rep"))
        .localCheckpoint(eager=True),
    )
    exact_edges = timed(
        "exact_edges",
        lambda: keyed.join(groups, "h")
        .where(F.col("id") != F.col("rep"))
        .select(F.col("rep").alias("id_a"), F.col("id").alias("id_b"))
        .localCheckpoint(eager=True),
    )
    reps = timed(
        "reps_semijoin",
        lambda: docs.select(F.col("doc_id").alias("id"), "text")
        .join(groups.select(F.col("rep").alias("id")), "id", "left_semi")
        .localCheckpoint(eager=True),
    )
    signed = timed(
        "signature",
        lambda: dedup.with_minhash(reps, cfg, "id", "text").localCheckpoint(
            eager=True
        ),
    )
    pairs = timed(
        "lsh_band_join",
        lambda: dedup.lsh_candidate_pairs(
            signed, "id", cap, oversize_probe=probe
        ).localCheckpoint(eager=True),
    )
    n_cand = pairs.count()
    sig_a = signed.select(
        F.col("id").alias("id_a"), F.col("minhash").alias("minhash_a")
    )
    sig_b = signed.select(
        F.col("id").alias("id_b"), F.col("minhash").alias("minhash_b")
    )
    near = timed(
        "est_join_filter",
        lambda: pairs.join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .withColumn(
            "est_jaccard",
            F.expr(
                "size(filter(zip_with(minhash_a, minhash_b, (x, y) -> x = y),"
                " v -> v)) / size(minhash_a)"
            ),
        )
        .where(F.col("est_jaccard") >= cfg.similarity_threshold)
        .select("id_a", "id_b")
        .localCheckpoint(eager=True),
    )
    edges = near.union(exact_edges).localCheckpoint(eager=True)
    comp = timed("cc", lambda: dedup.connected_components(edges))
    n, nd = timed(
        "label",
        lambda: docs.select(F.col("doc_id").alias("id"))
        .join(comp, "id", "left")
        .withColumn("component", F.coalesce("comp", "id"))
        .agg(
            F.count(F.lit(1)),
            F.sum((F.col("id") != F.col("component")).cast("long")),
        )
        .collect()[0],
    )
    spark.stop()
    print(
        json.dumps(
            {
                "cpus": cpus,
                "n_docs": n_docs,
                "probe": probe,
                "cap": cap,
                "phases": t,
                "total": round(sum(t.values()), 2),
                "n_cand": n_cand,
                "n_docs_out": n,
                "n_dup": int(nd),
                "loadavg_pre": round(load0, 2),
                "loadavg_post": round(os.getloadavg()[0], 2),
            }
        )
    )


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 1_600_000
    cap = 64
    legs = [
        (2, "annotate"),
        (2, "broadcast"),
        (8, "annotate"),
        (8, "broadcast"),
    ]
    results = []
    with open(RUNS, "a") as logf:
        for cpus, probe in legs:
            logf.write(
                json.dumps(
                    {
                        "leg_start": f"{probe}@{cpus}",
                        "n_docs": n_docs,
                        "loadavg": os.getloadavg()[0],
                        "ts": time.time(),
                    }
                )
                + "\n"
            )
            logf.flush()
            out = subprocess.run(
                [
                    sys.executable,
                    os.path.abspath(__file__),
                    "worker",
                    str(cpus),
                    str(n_docs),
                    probe,
                    str(cap),
                ],
                capture_output=True,
                text=True,
            )
            line = out.stdout.strip().splitlines()[-1] if out.stdout else ""
            try:
                rec = json.loads(line)
            except Exception:
                print("WORKER FAILED", probe, cpus, out.stderr[-2000:])
                raise
            results.append(rec)
            logf.write(line + "\n")
            logf.flush()
            print(line)
    dups = {r["n_dup"] for r in results}
    print(json.dumps({"n_dup_identical": len(dups) == 1, "n_dup": sorted(dups)}))


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "worker":
        worker(int(sys.argv[2]), int(sys.argv[3]), sys.argv[4], int(sys.argv[5]))
    else:
        main()
