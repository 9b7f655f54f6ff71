"""Repeat the benchmark over several seeds and summarise its spread.

    python3 perfbench/repeat.py --workloads ingest,dedup,stream \
        --seeds 1-10 --seconds 10 [--trace 0] [--out runs.jsonl] [--summary-only]

Runs ``perfbench/run.py`` once per (workload, seed), one after another,
recording each result line with ``/proc/loadavg`` at its start, its wall
time, and the share of host CPU time stolen by the hypervisor while it ran. Then prints, per workload and metric, the median, the quartiles
(``statistics.quantiles(n=4)``) and the quartile spread as a share of the
median, which is the figure the benchmark's bounds are checked against.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out.extend(range(int(a), int(b or a) + 1))
    return out


def cpu_ticks() -> list[int]:
    """Host-wide CPU ticks: user nice system idle iowait irq softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    with open("/proc/loadavg") as f:
        load = f.read().split()[:3]
    ticks0 = cpu_ticks()
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
    )
    lines = proc.stdout.strip().splitlines()
    d = [b - a for a, b in zip(ticks0, cpu_ticks())]
    rec = {"workload": workload, "seed": seed, "trace": trace, "exit": proc.returncode,
           "loadavg": load, "wall_s": time.time() - t0,
           "steal_pct": round(100 * d[7] / max(sum(d), 1), 2)}
    if lines:
        try:
            rec.update(json.loads(lines[-1]))
        except json.JSONDecodeError:
            pass
    return rec


def summary(records: list[dict]) -> str:
    rows = ["workload  metric                 n     median         q1         q3  spread"]
    for wl in sorted({r["workload"] for r in records}):
        recs = [r for r in records if r["workload"] == wl and "metrics" in r]
        bad = sum(1 for r in records if r["workload"] == wl and (r["exit"] or not r.get("correct")))
        for name in recs[0]["metrics"] if recs else ():
            vals = [r["metrics"][name]["value"] for r in recs]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
            spread = (q3 - q1) / med if med else float("nan")
            rows.append(f"{wl:<9} {name:<20} {len(vals):>3} {med:>10.4f} {q1:>10.4f} {q3:>10.4f}  {spread:6.3f}")
        walls = [r["wall_s"] for r in records if r["workload"] == wl]
        rows.append(f"{wl:<9} (runs failed: {bad}; wall per run {statistics.median(walls):.1f} s median, {max(walls):.1f} s max)")
    return "\n".join(rows)


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workloads", default="ingest,dedup,stream")
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--out", help="append each run's record to this JSONL file")
    p.add_argument("--summary-only", action="store_true",
                   help="summarise the records already in --out, run nothing")
    args = p.parse_args()
    records = []
    if args.summary_only:
        with open(args.out) as f:
            records = [json.loads(line) for line in f]
    else:
        for wl in args.workloads.split(","):
            for seed in seeds(args.seeds):
                rec = run_once(wl, seed, args.seconds, args.trace)
                records.append(rec)
                print(json.dumps(rec), file=sys.stderr)
                if args.out:
                    with open(args.out, "a") as f:
                        f.write(json.dumps(rec) + "\n")
    print(summary(records))


if __name__ == "__main__":
    main()
