#!/usr/bin/env python3
"""Run every workload repeatedly and report how steady each metric is.

    python3 perfbench/steady.py --runs 10 --seconds 25 --out .bench_work/steady.json

Run ``i`` of each workload uses seed ``--seed + i``; the workloads take
turns in an order that rotates from one round to the next, so a slow
stretch of the machine does not land on one workload only.  For each
workload and metric it prints and writes the median, the quartiles (as
``statistics.quantiles(values, n=4)`` gives them) and the spread
``(q3 - q1) / median``, plus each run's wall time and failed share.

The bounds in BENCHMARK.json were derived from this output on a 4-core,
15 GB machine (README.md, reference figures): a bound is three times the
largest spread seen, capped at 0.25.  To re-derive them on another
machine, run this twice at different times and compare the spreads and
the medians of the two runs.
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


def benchmark_workloads() -> list[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [w["name"] for w in json.load(f)["workloads"]]


def one_run(workload: str, seed: int, seconds: float) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", "0"]
    t0 = time.time()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=600)
    elapsed = time.time() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}")
    out = json.loads(lines[-1])
    out["elapsed_s"] = elapsed
    return out


def summarise(values: list[float]) -> dict:
    med = statistics.median(values)
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q3 = med
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("nan"),
            "values": values}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--seed", type=int, default=1, help="first seed")
    p.add_argument("--workloads", default=",".join(benchmark_workloads()),
                   help="comma-separated (default: those in BENCHMARK.json)")
    p.add_argument("--out", default=os.path.join(ROOT, ".bench_work",
                                                 "steady.json"))
    args = p.parse_args(argv)
    names = args.workloads.split(",")
    runs: dict[str, list[dict]] = {w: [] for w in names}
    for i in range(args.runs):
        order = names[i % len(names):] + names[:i % len(names)]
        for w in order:
            r = one_run(w, args.seed + i, args.seconds)
            runs[w].append(r)
            print(f"{w} seed {args.seed + i}: {r['elapsed_s']:.1f}s "
                  f"correct={r['correct']} failed={r['failed']}/"
                  f"{r['attempted']} " + " ".join(
                      f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
                  flush=True)
    report = {}
    for w, rs in runs.items():
        metrics = {k: summarise([r["metrics"][k]["value"] for r in rs])
                   for k in rs[0]["metrics"]}
        report[w] = {
            "metrics": metrics,
            "all_correct": all(r["correct"] for r in rs),
            "failed_share": sorted({r["failed"] / r["attempted"] for r in rs}),
            "elapsed_s": summarise([r["elapsed_s"] for r in rs]),
        }
        print(f"\n{w}: all correct={report[w]['all_correct']} failed shares="
              f"{report[w]['failed_share']} run wall median "
              f"{report[w]['elapsed_s']['median']:.1f}s max "
              f"{max(report[w]['elapsed_s']['values']):.1f}s")
        for k, s in metrics.items():
            print(f"  {k:28s} median {s['median']:12.4f}  q1 {s['q1']:12.4f}"
                  f"  q3 {s['q3']:12.4f}  spread {s['spread']:.3f}")
    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
