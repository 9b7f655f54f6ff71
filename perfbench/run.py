"""End-to-end benchmark of the corpus-quality engine: one workload, one seed,
one fresh process.

    python3 perfbench/run.py --workload {ingest,dedup,stream} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. Inputs are generated from the seed and cached
under ``.perfbench/cache`` before the Spark worker starts. The worker
(perfbench/worker.py) is spawned fresh, so ``setup_s`` covers process start,
session, ``ensure_pyfiles``, ``broadcast_trie`` and one cold pass.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs with the
Spark event log and the UDF profiler on and prints the per-layer metrics
instead. The last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. Exit status is 0 only when every
attempted operation produced correct output.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

import procstat
import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
WORKER_TIMEOUT_S = 165
RSS_SAMPLE_S = 0.25

# Untimed warm-up after set-up's cold pass and before the timed passes (the
# JIT and codegen caches settle during these): passes for the batch
# workloads, shards for the stream.
WARM_PASSES = 1
WARM_SHARDS = 6


def fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def parse_args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("ingest", "dedup", "stream"))
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def hd_quantile(values: list[float], p: float) -> float:
    """Harrell-Davis estimate of the p-quantile: the mean of all order
    statistics weighted by a Beta(p(n+1), (1-p)(n+1)) distribution. With the
    12 or fewer samples of one run, a tail quantile read off one or two order
    statistics swings with a single slow sample; this estimator uses them all.
    The Beta mass of each interval [i/n, (i+1)/n] is integrated by Simpson's
    rule."""
    xs = sorted(values)
    n = len(xs)
    if n == 1:
        return xs[0]
    a, b = p * (n + 1), (1 - p) * (n + 1)
    log_norm = math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)

    def pdf(x: float) -> float:
        if x <= 0.0 or x >= 1.0:
            return 0.0
        return math.exp(log_norm + (a - 1) * math.log(x) + (b - 1) * math.log(1 - x))

    def mass(lo: float, hi: float, k: int = 64) -> float:
        h = (hi - lo) / k
        inner = sum((4 if j % 2 else 2) * pdf(lo + j * h) for j in range(1, k))
        return h / 3 * (pdf(lo) + pdf(hi) + inner)

    w = [mass(i / n, (i + 1) / n) for i in range(n)]
    return sum(wi * x for wi, x in zip(w, xs)) / sum(w)


def spawn_worker(spec: dict, run_dir: str) -> dict:
    spec_path = f"{run_dir}/spec.json"
    spec["result"] = f"{run_dir}/result.json"
    env = dict(os.environ, PYTHONPATH=ROOT, TMPDIR=f"{run_dir}/tmp")
    os.makedirs(f"{run_dir}/tmp", exist_ok=True)
    spec["t_spawn"] = time.time()
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), spec_path],
        cwd=ROOT, env=env, stdout=sys.stderr,
    )
    # The tree's memory is sampled from here, not from a thread of the
    # worker, so the sampling costs the measured processes neither CPU nor
    # the driver's GIL.
    tree = procstat.Descendants(proc.pid)
    peak_mb = 0.0
    deadline = time.time() + WORKER_TIMEOUT_S
    try:
        while proc.poll() is None and time.time() < deadline:
            peak_mb = max(peak_mb, procstat.pss_mb(tree.sample()))
            time.sleep(RSS_SAMPLE_S)
        code = proc.poll()
    finally:
        if proc.poll() is None:
            tree.sample()
            proc.kill()
        proc.wait()
        left = tree.wait()
    if left:
        fail(f"processes {left} of the run did not exit", 1)
    if code != 0 or not os.path.exists(spec["result"]):
        fail(f"worker {'timed out' if code is None else f'exited {code}'}", 1)
    with open(spec["result"]) as f:
        res = json.load(f)
    res["peak_rss_mb"] = peak_mb
    return res


def end_to_end(wl: str, res: dict, docs: int) -> tuple[dict, int, int]:
    """(metrics, attempted, failed) from the worker's result; ``docs`` is
    the input size of one batch pass."""
    if wl == "stream":
        st = res["stream"]
        lat = st["latency_s"]
        m = {
            "docs_per_s": st["delivered_docs_per_s"],
            "latency_p50_s": statistics.median(lat),
            "latency_p90_s": hd_quantile(lat, 0.9),
            "cpu_ms_per_doc": 1000 * st["cpu_s"] / st["docs_measured"],
        }
        attempted = st["shards"] + 1
        failed = st["failed_shards"] + (not res["cold"]["ok"])
    else:
        passes = res["passes"]
        walls = [p["wall_s"] for p in passes]
        m = {
            "docs_per_s": docs / statistics.median(walls),
            "latency_p50_s": statistics.median(walls),
            "latency_p90_s": hd_quantile(walls, 0.9),
            "cpu_ms_per_doc": 1000 * statistics.median(p["cpu_s"] for p in passes) / docs,
        }
        ops = [res["cold"], *res["warm"], *passes]
        attempted, failed = len(ops), sum(not p["ok"] for p in ops)
    m["peak_rss_mb"] = res["peak_rss_mb"]
    m["setup_s"] = res["setup"]["setup_s"]
    return m, attempted, failed


UNITS = {
    "docs_per_s": "docs/s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "cpu_ms_per_doc": "ms",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}

ALL = ("ingest", "dedup", "stream")
QUALITY_PATH = ("ingest", "stream")
ENGINE_UNITS = {
    "jobs": "count", "stages": "count", "tasks": "count", "exchanges": "count",
    "shuffle_write_mb": "MB", "shuffle_records": "count", "task_skew": "ratio",
    "gc_s": "s", "idle_core_s": "s",
}

# Per-layer metrics: (name, unit, better, workloads whose path the layer is on).
PER_LAYER = [
    *[(f"functions.{k}_us_per_doc", "us", "lower", ALL) for k in tracing.KERNELS],
    ("extract.pass_s", "s", "lower", ("ingest",)),
    ("quality.pass_s", "s", "lower", QUALITY_PATH),
    ("udf.noop_floor_s", "s", "lower", QUALITY_PATH),
    ("udf.python_self_s", "s", "lower", QUALITY_PATH),
    ("plan.arrow_eval_nodes", "count", "lower", QUALITY_PATH),
    ("pipeline.write_s", "s", "lower", QUALITY_PATH),
    ("dedup.minhash_s", "s", "lower", ("dedup",)),
    ("dedup.edges_s", "s", "lower", ("dedup",)),
    ("dedup.cc_s", "s", "lower", ("dedup",)),
    ("dedup.candidate_pairs", "count", "lower", ("dedup",)),
    ("dedup.edges", "count", "lower", ("dedup",)),
    ("dedup.duplicates", "count", "higher", ("dedup",)),
    ("dedup.jobs", "count", "lower", ("dedup",)),
    *[(f"spark.{k}", u, "lower", ALL) for k, u in ENGINE_UNITS.items()],
    ("driver.python_cpu_s", "s", "lower", ALL),
    ("stream.trigger_ms_p50", "ms", "lower", ("stream",)),
    ("stream.addbatch_ms_p50", "ms", "lower", ("stream",)),
    ("stream.planning_ms_p50", "ms", "lower", ("stream",)),
    ("stream.walcommit_ms_p50", "ms", "lower", ("stream",)),
    ("stream.rows_per_batch_p50", "rows", "lower", ("stream",)),
    ("stream.batches", "count", "higher", ("stream",)),
    ("stream.generator_lag_ms", "ms", "lower", ("stream",)),
    ("sources.session_s", "s", "lower", ALL),
    ("sources.pyfiles_s", "s", "lower", ALL),
    ("sources.trie_s", "s", "lower", ALL),
    ("setup.cold_pass_s", "s", "lower", ALL),
    ("trace.overhead_pct", "%", "lower", ALL),
]


def history_path() -> str:
    return os.path.join(WORK, "history.jsonl")


def untraced_latency(inputs_key: str) -> float | None:
    """Median untraced latency_p50_s recorded on these inputs, else on the
    inputs of the same generator version and size under any seed."""
    try:
        with open(history_path()) as f:
            rows = [json.loads(line) for line in f]
    except FileNotFoundError:
        return None

    def any_seed(key: str) -> str:
        return re.sub(r"-seed-?\d+-", "-", key)

    same = [r for r in rows if r["inputs"] == inputs_key] or [
        r for r in rows if any_seed(r["inputs"]) == any_seed(inputs_key)
    ]
    return statistics.median(r["latency_p50_s"] for r in same) if same else None


def per_layer(wl: str, res: dict, inputs_dir: str, run_dir: str,
              cores: int, e2e: dict) -> tuple[dict, dict]:
    """(values, reasons for absent metrics) of every per-layer metric."""
    v: dict = {}
    docs = tracing.sample_docs(wl, inputs_dir)
    for k, us in tracing.kernel_us_per_doc(docs).items():
        v[f"functions.{k}_us_per_doc"] = us
    v.update(res.get("layers", {}))
    if wl == "stream":
        st = res["stream"]
        meas = [p for p in st["progress"] if p["measured"]]
        windows = [(p["start"], p["start"] + p["triggerExecution"] / 1000) for p in meas]
        for key, name in (("triggerExecution", "trigger"), ("addBatch", "addbatch"),
                          ("queryPlanning", "planning"), ("walCommit", "walcommit")):
            v[f"stream.{name}_ms_p50"] = statistics.median(p[key] for p in meas)
        v["stream.rows_per_batch_p50"] = statistics.median(p["rows"] for p in meas)
        v["stream.batches"] = len(meas)
        v["stream.generator_lag_ms"] = 1000 * st["generator_lag_max_s"]
        v["driver.python_cpu_s"] = st["driver_cpu_s"] / len(meas)
    else:
        windows = [(p["start"], p["end"]) for p in res["passes"]]
        v["driver.python_cpu_s"] = statistics.median(p["driver_cpu_s"] for p in res["passes"])
    engine = tracing.engine_metrics(os.path.join(run_dir, "eventlog"), windows, cores)
    v.update({f"spark.{k}": x for k, x in engine.items()})
    if wl == "dedup":
        v["dedup.jobs"] = engine["jobs"]
        v["dedup.duplicates"] = res["counts"]["duplicates"]
    setup = res["setup"]
    v["sources.session_s"] = setup["session_s"]
    v["sources.pyfiles_s"] = setup["pyfiles_s"]
    v["sources.trie_s"] = setup["trie_s"]
    v["setup.cold_pass_s"] = setup["cold_pass_s"]
    base = untraced_latency(os.path.basename(inputs_dir))
    if base:
        v["trace.overhead_pct"] = 100 * (e2e["latency_p50_s"] / base - 1)
    absent = {}
    for name, _, _, on in PER_LAYER:
        if wl not in on:
            absent[name] = f"not on the {wl} workload's path"
        elif name not in v:
            absent[name] = "no untraced run on these inputs recorded in .perfbench/history.jsonl"
    for name in absent:
        v[name] = 0
    return v, absent


def main() -> None:
    args = parse_args()
    if not os.path.isfile(os.path.join(ROOT, "chinese_corpus_cleaning_spark", "__init__.py")):
        fail(f"no chinese_corpus_cleaning_spark package under {ROOT}")
    sys.path[:0] = [ROOT, HERE]
    import inputs

    wl, cores = args.workload, min(4, len(os.sched_getaffinity(0)))
    spec = {
        "root": ROOT, "workload": wl, "seed": args.seed, "cores": cores,
        "trace": bool(args.trace), "seconds": args.seconds,
        "warm_passes": WARM_PASSES, "warm_shards": WARM_SHARDS,
        "rate": inputs.SHARD_RATE, "shard_docs": inputs.SHARD_DOCS,
        "cold_docs": inputs.COLD_DOCS,
    }
    size = {
        "ingest": inputs.INGEST_DOCS,
        "dedup": inputs.DEDUP_BASE,
        "stream": WARM_SHARDS + max(1, round(args.seconds * inputs.SHARD_RATE)),
    }[wl]
    spec["inputs"] = inputs.ensure(os.path.join(WORK, "cache"), wl, args.seed, size)
    props = inputs.load_props(spec["inputs"])
    spec["docs"] = props["docs"] if wl == "dedup" else None
    run_dir = os.path.join(WORK, "runs", f"{wl}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    spec["work"] = run_dir
    try:
        res = spawn_worker(spec, run_dir)
        metrics, attempted, failed = end_to_end(wl, res, props.get("docs"))
        if args.trace:
            layers, absent = per_layer(wl, res, spec["inputs"], run_dir, cores, metrics)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"inputs": props, "setup": res["setup"]}), file=sys.stderr)
    for p in res.get("warm", []) + res.get("passes", []):
        print(f"{p['label']:>8} {p['wall_s']:.3f} s  cpu {p['cpu_s']:.2f} s", file=sys.stderr)
    if wl == "stream":
        st = res["stream"]
        print("shard latency s: " + " ".join(f"{x:.3f}" for x in st["latency_s"]), file=sys.stderr)
        for p in st["progress"]:
            print(json.dumps(p), file=sys.stderr)
    for k, v in metrics.items():
        print(f"{k:>16} {v:12.4f} {UNITS[k]}")
    if args.trace:
        units = {name: unit for name, unit, _, _ in PER_LAYER}
        for name, _, _, _ in PER_LAYER:
            if name in absent:
                print(f"{name:>28}            - absent: {absent[name]}")
            else:
                print(f"{name:>28} {layers[name]:14.4f} {units[name]}")
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        with open(os.path.join(WORK, "traces", f"{wl}-seed{args.seed}.json"), "w") as f:
            json.dump({"inputs": props, "end_to_end": metrics, "per_layer": layers,
                       "absent": absent, "spans": res["spans"]}, f, indent=1)
        out = {k: {"value": layers[k], "unit": units[k]} for k in units}
    else:
        with open(history_path(), "a") as f:
            f.write(json.dumps({"inputs": os.path.basename(spec["inputs"]), **metrics}) + "\n")
        out = {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()}
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": out,
    }))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
