"""Offline trace analysis for the traced run: the Spark event log cut into
the worker's measured passes, plus the ``functions/`` micro-bench.

Jobs are attributed to a pass by submission time: a job belongs to the pass
whose span (from the worker's in-memory spans) contains its submission. The
event log and the spans read the same host clock.
"""

from __future__ import annotations

import json
import os
import statistics
import time

# Spark engine metrics per pass, from the event log.
ENGINE = (
    "jobs", "stages", "tasks", "exchanges", "shuffle_write_mb",
    "shuffle_records", "task_skew", "gc_s", "idle_core_s",
)


def read_eventlog(path: str) -> tuple[list[dict], dict[int, list[dict]]]:
    """(jobs, tasks by stage id). Each job: submission time (s), stage ids."""
    jobs, tasks = [], {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                jobs.append({"t": e["Submission Time"] / 1000, "stages": e["Stage IDs"]})
            elif ev == "SparkListenerTaskEnd":
                m = e.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                tasks.setdefault(e["Stage ID"], []).append({
                    "run_ms": m.get("Executor Run Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "sw_bytes": sw.get("Shuffle Bytes Written", 0),
                    "sw_records": sw.get("Shuffle Records Written", 0),
                })
    return jobs, tasks


def engine_window(jobs, tasks, start: float, end: float, slots: int) -> dict:
    """Engine metrics of the jobs submitted in [start, end]. A stage shared
    by several jobs (a reused shuffle) counts once, where it ran."""
    mine = [j for j in jobs if start <= j["t"] <= end]
    stages = sorted({s for j in mine for s in j["stages"] if s in tasks})
    ts = [t for s in stages for t in tasks[s]]
    widest = max(stages, key=lambda s: len(tasks[s]), default=None)
    skew = 0.0
    if widest is not None:
        run = [t["run_ms"] for t in tasks[widest]]
        skew = max(run) / max(statistics.median(run), 1)
    run_s = sum(t["run_ms"] for t in ts) / 1000
    return {
        "jobs": len(mine),
        "stages": len(stages),
        "tasks": len(ts),
        "exchanges": sum(1 for s in stages if any(t["sw_records"] for t in tasks[s])),
        "shuffle_write_mb": sum(t["sw_bytes"] for t in ts) / 1e6,
        "shuffle_records": sum(t["sw_records"] for t in ts),
        "task_skew": skew,
        "gc_s": sum(t["gc_ms"] for t in ts) / 1000,
        "idle_core_s": (end - start) * slots - run_s,
    }


def engine_metrics(eventlog_dir: str, windows: list[tuple[float, float]], slots: int) -> dict:
    """Median over the windows of each engine metric."""
    (name,) = os.listdir(eventlog_dir)
    jobs, tasks = read_eventlog(os.path.join(eventlog_dir, name))
    per = [engine_window(jobs, tasks, a, b, slots) for a, b in windows]
    return {k: statistics.median(p[k] for p in per) for k in ENGINE}


# ------------------------------------------------------------ functions/

KERNELS = ("extract", "repeats", "langid", "rules", "dfa", "features", "minhash")


def kernel_us_per_doc(docs: list[tuple[bytes, str]], budget_s: float = 0.3) -> dict:
    """µs/doc of each ``functions/`` kernel family over (html, text) docs,
    in-process and without Spark. Each kernel cycles over the sample until
    ``budget_s`` has passed (at least one full pass over the sample)."""
    from chinese_corpus_cleaning_spark.config import DEFAULT
    from chinese_corpus_cleaning_spark.functions import langid
    from chinese_corpus_cleaning_spark.functions.cleaning import (
        extract_html_text,
        remove_long_repeated_substrings_ex,
    )
    from chinese_corpus_cleaning_spark.functions.dfa import scan_positions
    from chinese_corpus_cleaning_spark.functions.feature import evaluate_features
    from chinese_corpus_cleaning_spark.functions.hashing import char_shingles, minhash_signature
    from chinese_corpus_cleaning_spark.functions.textstats import (
        check_flags,
        compute_stats,
        rule_score,
    )
    from chinese_corpus_cleaning_spark.sources.wordlists import full_trie

    trie, cfg = full_trie(), DEFAULT
    htmls = [h for h, _ in docs]
    texts = [t for _, t in docs]
    positions = [scan_positions(t, trie)[1] for t in texts]

    def rules(t):
        st = compute_stats(t)
        try:
            rule_score(t, st, check_flags(st, cfg.rule), cfg.rule)
        except ZeroDivisionError:  # empty text: an error row, by design
            pass

    kernels = {
        "extract": (extract_html_text, htmls),
        "repeats": (remove_long_repeated_substrings_ex, texts),
        "langid": (langid.identify, texts),
        "rules": (rules, texts),
        "dfa": (lambda t: scan_positions(t, trie), texts),
        "features": (
            lambda tp: evaluate_features(tp[0], trie, cfg.feature, matches=tp[1]),
            list(zip(texts, positions)),
        ),
        "minhash": (
            lambda t: minhash_signature(char_shingles(t, 5), 128), texts[: max(1, len(texts) // 5)]
        ),
    }
    out = {}
    for name in KERNELS:
        fn, xs = kernels[name]
        n, t0 = 0, time.perf_counter()
        while n < len(xs) or time.perf_counter() - t0 < budget_s:
            fn(xs[n % len(xs)])
            n += 1
        out[name] = 1e6 * (time.perf_counter() - t0) / n
    return out


def sample_docs(workload: str, inputs_dir: str, n: int = 100) -> list[tuple[bytes, str]]:
    """The first ``n`` docs of the workload's own input, as (html, text)."""
    import pyarrow.parquet as pq

    import reference

    if workload == "ingest":
        t = pq.read_table(f"{inputs_dir}/pass/part-000.parquet", columns=["html"])
        htmls = t.column("html").to_pylist()[:n]
        return [(h, reference.extract(h)[0] or "") for h in htmls]
    path = (
        f"{inputs_dir}/docs/part-000.parquet"
        if workload == "dedup"
        else f"{inputs_dir}/shards/{sorted(os.listdir(f'{inputs_dir}/shards'))[0]}"
    )
    t = pq.read_table(path, columns=["html", "text"]).slice(0, n)
    return list(zip(t.column("html").to_pylist(), t.column("text").to_pylist()))
