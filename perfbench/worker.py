"""Spark side of one benchmark run, started by run.py in a fresh process.

    python3 perfbench/worker.py <spec.json>

The spec names the workload, its cached inputs, the run length and whether
this is the traced run. The worker times set-up from the moment run.py
spawned it, runs untimed warm-up passes until the JIT has settled, runs
timed passes for the requested seconds, checks every pass's output against
the reference, and writes a result JSON. It calls only the package's public
functions; per-layer timings are spans around those calls.
"""

from __future__ import annotations

import datetime
import json
import math
import os
import shutil
import sys
import threading
import time
from contextlib import contextmanager

import pandas as pd
import pyarrow.parquet as pq

SPEC = json.load(open(sys.argv[1]))
sys.path.insert(0, SPEC["root"])

import procstat  # noqa: E402

PID = os.getpid()


class Spans:
    """In-memory spans (name, start, end, parent index), dumped at exit."""

    def __init__(self) -> None:
        self.items: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def __call__(self, name: str):
        idx = len(self.items)
        parent = self._stack[-1] if self._stack else None
        item = {"name": name, "start": time.time(), "end": None, "parent": parent}
        self.items.append(item)
        self._stack.append(idx)
        try:
            yield item
        finally:
            self._stack.pop()
            item["end"] = time.time()


span = Spans()


def dur(item: dict) -> float:
    return item["end"] - item["start"]


def build_session(work: str, cores: int, trace: bool):
    from pyspark.sql import SparkSession

    for d in ("tmp", "spark-local", "eventlog"):
        os.makedirs(f"{work}/{d}", exist_ok=True)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(f"perfbench-{SPEC['workload']}")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "2g")
        .config("spark.local.dir", f"{work}/spark-local")
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        )
    )
    if trace:
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.rolling.enabled", "false")
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.dir", f"file://{work}/eventlog")
        )
    return b.getOrCreate()


# ----------------------------------------------------------------- passes


def measure(label: str, fn, check) -> dict:
    """One pass: one call of the workload's plan plus its sink. Its output
    is checked after the pass, outside the timing."""
    cpu0, drv0 = procstat.tree_cpu_s(PID), time.process_time()
    with span(label) as s:
        out = fn()
    cpu1, drv1 = procstat.tree_cpu_s(PID), time.process_time()
    try:
        problem = check(out)
    except Exception as e:  # a check that cannot run is a failed pass
        problem = f"check raised {type(e).__name__}: {e}"
    if problem:
        print(f"[perfbench] {label}: WRONG OUTPUT: {problem}", file=sys.stderr)
    return {
        "label": label,
        "start": s["start"],
        "end": s["end"],
        "wall_s": dur(s),
        "cpu_s": cpu1 - cpu0,
        "driver_cpu_s": drv1 - drv0,
        "ok": not problem,
        "problem": problem,
    }


def loop(fn, check, n_warm: int, seconds: float) -> tuple[list, list]:
    """``n_warm`` untimed warm-up passes, then timed passes until
    ``seconds`` of pass time are measured."""
    warm = [measure(f"warm-{i}", fn, check) for i in range(n_warm)]
    timed: list[dict] = []
    while sum(p["wall_s"] for p in timed) < seconds:
        timed.append(measure(f"pass-{len(timed)}", fn, check))
    return warm, timed


def read_committed(path: str, columns: list[str], filters=None) -> pd.DataFrame:
    """What a Spark write committed, read back with pyarrow (hive-style
    partition columns included); no Spark job runs between passes."""
    return pq.read_table(path, columns=columns, filters=filters).to_pandas()


def overwrite(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


# ---------------------------------------------------------------- ingest


def ingest_plan(spark, src: str):
    from pyspark.sql import functions as F

    from chinese_corpus_cleaning_spark.operators.extract import with_extraction

    docs = spark.read.parquet(src)
    return (
        with_extraction(docs)
        .where(F.col("is_zh"))
        .select("url", F.col("extracted_text").alias("text"))
    )


def ingest_fn(spark, src: str, out: str, parts: int):
    from chinese_corpus_cleaning_spark.plans import pipeline

    return lambda: pipeline.run(spark, ingest_plan(spark, src), out, partitions=parts)


def label_ok(e: dict | None, keep, score, err) -> bool:
    """A committed label equals the reference label ``e``."""
    if e is None or bool(keep) != e["keep"] or (None if pd.isna(err) else err) != e["error"]:
        return False
    if e["quality_score"] is None:
        return pd.isna(score)
    return not pd.isna(score) and math.isclose(score, e["quality_score"], rel_tol=1e-12)


def labels_problem(out: str, expected: list[dict]) -> str | None:
    """First mismatch between committed labels and reference labels."""
    want = {e["url"]: e for e in expected}
    cols = ["url", "keep", "quality_score", "error"]
    rows = read_committed(f"{out}/labels", cols, [("url", "in", list(want))])
    if len(rows) != len(want):
        return f"{len(rows)} sampled labels committed, expected {len(want)}"
    for url, keep, score, err in rows[cols].itertuples(index=False):
        if not label_ok(want[url], keep, score, err):
            return f"{url}: keep/score/error {keep}/{score}/{err} != reference {want[url]}"
    return None


def ingest_check(out: str, expect: dict | None):
    def check(stats: dict) -> str | None:
        t = stats["total"]
        if t != stats["high_quality"] + stats["low_quality"] + stats["error"]:
            return f"total {t} != high + low + error in {stats}"
        if expect is None:
            return None
        if t != expect["zh_docs"]:
            return f"total {t} != {expect['zh_docs']} zh docs"
        return labels_problem(out, expect["sample"])

    return check


# ----------------------------------------------------------------- dedup


def dedup_fn(spark, src: str, out: str):
    from chinese_corpus_cleaning_spark.operators.dedup import dedup_representatives

    def run():
        res = dedup_representatives(spark.read.parquet(src))
        res.write.mode("overwrite").parquet(out)
        return out

    return run


def dedup_check(n_docs: int, expect: dict | None, counts: dict):
    def check(out: str) -> str | None:
        pdf = read_committed(out, ["id", "component", "is_duplicate"])
        counts["duplicates"] = int(pdf["is_duplicate"].sum())
        if len(pdf) != n_docs or pdf["id"].nunique() != n_docs:
            return f"{len(pdf)} rows / {pdf['id'].nunique()} ids for {n_docs} docs"
        if expect is None:
            return None
        comp = dict(zip(pdf["id"], pdf["component"]))
        dup = dict(zip(pdf["id"], pdf["is_duplicate"]))
        missed = [c for c, _ in expect["copies"] if not dup[c]]
        if missed:
            return f"{len(missed)} exact copies not flagged, e.g. id {missed[0]}"
        for c, src in expect["copies"]:
            if comp[c] != comp[src]:
                return f"exact copy {c} not in the component of its source {src}"
        for fam in expect["families"]:
            comps = {comp[i] for i in fam}
            if len(comps) != 1:
                return f"family of {len(fam)} (first id {fam[0]}) split into {len(comps)} components"
        # families are drawn independently at random and share almost no
        # shingles, so any merge between two of them is wrong
        fam_comps = {comp[fam[0]] for fam in expect["families"]}
        if len(fam_comps) != len(expect["families"]):
            return f"{len(expect['families'])} families merged into {len(fam_comps)} components"
        return None

    return check


# ---------------------------------------------------------------- stream


def stream_run(spark, trie_bc, inp: str, work: str, expect: dict, warm: int) -> dict:
    """Open loop: a generator thread drops pre-written shards into the
    watched directory on a fixed schedule, whatever the query's progress.
    Latency of a shard = commit of the micro-batch holding it - its due
    time. The first ``warm`` shards warm the query and are not measured:
    they go in closed loop, each as soon as the batch before it committed,
    so the JIT sees many batches in little time."""
    from chinese_corpus_cleaning_spark.streaming.stream_pipeline import (
        labeled_stream,
        stream_from_directory,
        write_labels_batch,
    )

    rate = SPEC["rate"]
    shards = sorted(os.listdir(f"{inp}/shards"))
    watch = overwrite(f"{work}/stream-in")
    out = overwrite(f"{work}/stream-out")
    os.makedirs(watch)
    commits: dict[int, float] = {}

    def sink(batch_df, batch_id: int) -> None:
        write_labels_batch(batch_df, batch_id, out)
        commits[batch_id] = time.time()

    query = (
        labeled_stream(stream_from_directory(spark, watch), trie_bc)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", f"{work}/stream-chk")
        .trigger(processingTime="250 milliseconds")
        .start()
    )
    due: list[float] = []
    lag: list[float] = []
    cpu = {}

    def drop(name: str) -> None:
        stage = f"{watch}/.{name}"
        shutil.copyfile(f"{inp}/shards/{name}", stage)
        os.rename(stage, f"{watch}/{name}")

    def generate() -> None:
        for i, name in enumerate(shards[:warm]):
            due.append(time.time())
            drop(name)
            while len(commits) <= i and query.isActive:
                time.sleep(0.01)
        # Processing-time triggers fire on multiples of the interval since
        # the epoch. Shards fall due 50 ms before a trigger tick, so the wait
        # for the next trigger is the same in every run, not a random phase.
        t0 = math.ceil(time.time()) + 1.0 - 0.05
        for i, name in enumerate(shards[warm:]):
            d = t0 + i / rate
            due.append(d)
            time.sleep(max(0.0, d - time.time()))
            if i == 0:
                cpu["start"] = procstat.tree_cpu_s(PID)
                cpu["driver_start"] = time.process_time()
            drop(name)
            lag.append(time.time() - d)

    gen = threading.Thread(target=generate, daemon=True)
    with span("stream"):
        gen.start()
        gen.join()
        query.processAllAvailable()
        cpu["end"] = procstat.tree_cpu_s(PID)
        cpu["driver_end"] = time.process_time()
    progress = [p for p in query.recentProgress if p.numInputRows > 0]
    query.stop()

    cols = ["url", "keep", "quality_score", "error"]
    labels = read_committed(f"{out}/labels", [*cols, "batch_id"])
    labels["batch_id"] = labels["batch_id"].astype(int)  # a categorical partition key
    labels["shard"] = labels["url"].str.rsplit("=", n=1).str[1].astype(int)
    want = expect["labels"]
    labels["ok"] = [
        label_ok(want.get(url), keep, score, err)
        for url, keep, score, err in labels[cols].itertuples(index=False)
    ]
    g = labels.groupby("shard").agg(
        n=("url", "size"), urls=("url", "nunique"), ok=("ok", "all"),
        bmin=("batch_id", "min"), bmax=("batch_id", "max"),
    )
    # a shard is correct when each of its docs is labeled exactly once, in
    # one micro-batch, with the reference's keep / quality_score / error
    per = SPEC["shard_docs"]
    good = g[(g["n"] == per) & (g["urls"] == per) & g["ok"] & (g["bmin"] == g["bmax"])]
    measured = [s for s in range(warm, len(shards)) if s in g.index]
    batch_of = {s: int(g.loc[s, "bmax"]) for s in g.index}
    meas_batches = {batch_of[s] for s in measured}
    span_s = max(commits[b] for b in meas_batches) - due[warm]

    def epoch(ts: str) -> float:
        return datetime.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()

    return {
        "shards": len(shards),
        "failed_shards": len(shards) - len(good),
        "docs_measured": per * len(measured),
        "delivered_docs_per_s": per * len(measured) / span_s,
        "latency_s": [commits[batch_of[s]] - due[s] for s in measured],
        "cpu_s": cpu["end"] - cpu["start"],
        "driver_cpu_s": cpu["driver_end"] - cpu["driver_start"],
        "generator_lag_max_s": max(lag),
        "progress": [
            {
                "batch": p.batchId,
                "start": epoch(p.timestamp),
                "rows": p.numInputRows,
                "measured": p.batchId in meas_batches,
                **{k: p.durationMs.get(k) for k in ("triggerExecution", "addBatch", "queryPlanning", "walCommit")},
            }
            for p in progress
        ],
    }


# ------------------------------------------------------- traced layer passes


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def arrow_eval_nodes(df) -> int:
    return df._jdf.queryExecution().executedPlan().toString().count("ArrowEvalPython")


def profiled_self_s(spark, fn, work: str) -> float:
    """Run ``fn`` with the perf UDF profiler on; Python self time summed
    over every profiled UDF, read from the dumped pstats files."""
    import pstats

    spark.profile.clear()
    spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
    try:
        fn()
    finally:
        spark.conf.unset("spark.sql.pyspark.udf.profiler")
    path = overwrite(f"{work}/udf-profile")
    spark.profile.dump(path, type="perf")
    total = 0.0
    for name in sorted(os.listdir(path)) if os.path.isdir(path) else ():
        total += pstats.Stats(os.path.join(path, name)).total_tt
    return total


def timed(name: str, fn) -> float:
    with span(name) as s:
        fn()
    return dur(s)


def quality_layers(spark, trie_bc, text_df, work: str, sink) -> dict:
    """Arrow UDF boundary layers over one frame of (url, text): the quality
    pass to noop, an identity pandas UDF over the same column (the boundary
    floor), the profiled Python self time, and the label write beyond the
    quality pass."""
    from pyspark.sql import functions as F

    from chinese_corpus_cleaning_spark.operators.quality import with_quality

    @F.pandas_udf("string")
    def identity(s: pd.Series) -> pd.Series:
        return s

    quality = lambda: noop_write(with_quality(text_df, trie_bc))  # noqa: E731
    m = {
        "quality.pass_s": timed("quality.pass", quality),
        "udf.noop_floor_s": timed(
            "udf.noop_floor", lambda: noop_write(text_df.select(identity("text")))
        ),
        "udf.python_self_s": profiled_self_s(spark, quality, work),
    }
    m["pipeline.write_s"] = timed("pipeline.run", sink) - m["quality.pass_s"]
    return m


def layers_ingest(spark, trie_bc, inp: str, work: str, parts: int) -> dict:
    from chinese_corpus_cleaning_spark.operators.extract import with_extraction
    from chinese_corpus_cleaning_spark.plans import pipeline

    src = f"{inp}/pass"
    m = {"extract.pass_s": timed(
        "extract.pass", lambda: noop_write(with_extraction(spark.read.parquet(src)))
    )}
    zh_path = f"{work}/zh-text"
    ingest_plan(spark, src).repartition(parts).write.mode("overwrite").parquet(zh_path)
    zh = spark.read.parquet(zh_path)
    out = f"{work}/layer-out"
    m.update(quality_layers(
        spark, trie_bc, zh, work, lambda: pipeline.run(spark, zh, out, partitions=parts)
    ))
    m["plan.arrow_eval_nodes"] = arrow_eval_nodes(
        pipeline.quality_filter_plan(ingest_plan(spark, src), trie_bc, partitions=parts)
    )
    return m


def layers_stream(spark, trie_bc, inp: str, work: str) -> dict:
    """The stream's boundary layers over one shard, i.e. one micro-batch."""
    from chinese_corpus_cleaning_spark.operators.quality import with_quality
    from chinese_corpus_cleaning_spark.streaming.stream_pipeline import write_labels_batch

    shard = sorted(os.listdir(f"{inp}/shards"))[0]
    docs = spark.read.parquet(f"{inp}/shards/{shard}").select("url", "warc_ts", "text")
    out = overwrite(f"{work}/layer-out")
    m = quality_layers(
        spark, trie_bc, docs, work,
        lambda: write_labels_batch(with_quality(docs, trie_bc), 0, out),
    )
    m["plan.arrow_eval_nodes"] = arrow_eval_nodes(with_quality(docs, trie_bc))
    return m


def layers_dedup(spark, inp: str) -> dict:
    from pyspark.sql import functions as F

    from chinese_corpus_cleaning_spark.operators import dedup

    docs = spark.read.parquet(f"{inp}/docs")
    m = {"dedup.minhash_s": timed(
        "dedup.minhash", lambda: noop_write(dedup.with_minhash(docs))
    )}
    edges = {}

    def build_edges():
        edges["df"] = dedup.dedup_edges(docs).localCheckpoint(eager=True)

    m["dedup.edges_s"] = timed("dedup.edges", build_edges)
    m["dedup.cc_s"] = timed(
        "dedup.cc", lambda: dedup.connected_components(edges["df"]).count()
    )
    m["dedup.edges"] = edges["df"].count()
    reps = (
        docs.groupBy(F.md5(F.encode("text", "UTF-8")).alias("h"))
        .agg(F.min("doc_id").alias("doc_id"), F.first("text").alias("text"))
    )
    m["dedup.candidate_pairs"] = dedup.lsh_candidate_pairs(
        dedup.with_minhash(reps), max_band_bucket=64
    ).count()
    return m


# ------------------------------------------------------------------- main


def main() -> None:
    t_spawn = SPEC["t_spawn"]
    work, inp, wl = SPEC["work"], SPEC["inputs"], SPEC["workload"]
    cores, trace = SPEC["cores"], SPEC["trace"]
    parts = cores
    with open(f"{inp}/expect.json") as f:
        expect = json.load(f)
    result: dict = {"workload": wl}
    with span("setup"):
        with span("session"):
            spark = build_session(work, cores, trace)
        session_end = time.time()
        from chinese_corpus_cleaning_spark.sources.shipping import ensure_pyfiles
        from chinese_corpus_cleaning_spark.sources.wordlists import broadcast_trie

        with span("pyfiles") as s_py:
            ensure_pyfiles(spark)
        with span("trie") as s_trie:
            trie_bc = broadcast_trie(spark)
        cold_out = f"{work}/cold-out"
        if wl == "ingest":
            cold_fn = ingest_fn(spark, f"{inp}/cold", cold_out, parts)
            cold_check = ingest_check(cold_out, None)
        elif wl == "dedup":
            cold_fn = dedup_fn(spark, f"{inp}/cold", cold_out)
            cold_check = dedup_check(SPEC["cold_docs"], None, {})
        else:
            from chinese_corpus_cleaning_spark.operators.quality import with_quality
            from chinese_corpus_cleaning_spark.streaming.stream_pipeline import (
                write_labels_batch,
            )

            def cold_fn():
                df = spark.read.parquet(f"{inp}/cold").select("url", "warc_ts", "text")
                write_labels_batch(with_quality(df, trie_bc), 0, cold_out)
                return spark.read.parquet(f"{cold_out}/labels").count()

            def cold_check(n):
                return None if n == SPEC["cold_docs"] else f"{n} cold labels"

        cold = measure("cold", cold_fn, cold_check)
    result["setup"] = {
        "setup_s": cold["end"] - t_spawn,
        "session_s": session_end - t_spawn,
        "pyfiles_s": dur(s_py),
        "trie_s": dur(s_trie),
        "cold_pass_s": cold["wall_s"],
    }
    n_warm, seconds = SPEC["warm_passes"], SPEC["seconds"]
    counts: dict = {}
    if wl == "ingest":
        out = f"{work}/out"
        warm, passes = loop(
            ingest_fn(spark, f"{inp}/pass", out, parts),
            ingest_check(out, expect), n_warm, seconds,
        )
    elif wl == "dedup":
        out = f"{work}/out"
        warm, passes = loop(
            dedup_fn(spark, f"{inp}/docs", out),
            dedup_check(SPEC["docs"], expect, counts), n_warm, seconds,
        )
    else:
        warm, passes = [], []
        result["stream"] = stream_run(
            spark, trie_bc, inp, work, expect, SPEC["warm_shards"]
        )
    result.update(cold=cold, warm=warm, passes=passes, counts=counts)
    if trace:
        with span("layers"):
            if wl == "ingest":
                layers = layers_ingest(spark, trie_bc, inp, work, parts)
            elif wl == "dedup":
                layers = layers_dedup(spark, inp)
            else:
                layers = layers_stream(spark, trie_bc, inp, work)
        result["layers"] = layers
    spark.stop()
    result["spans"] = span.items
    with open(SPEC["result"], "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
