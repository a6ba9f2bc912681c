#!/usr/bin/env python3
"""Run one benchmark workload, check its outputs and print its metrics.

    python3 perfbench/run.py --workload extract_mix --seed 1 --seconds 25 --trace 0

Run from the root of a checkout; the package is imported from there and
everything the run writes goes under ``.bench_work/``.  The last line of
standard output is one JSON object::

    {"correct": true, "attempted": 3600, "failed": 0,
     "metrics": {"pages_per_s": {"value": 412.3, "unit": "1/s"}, ...}}

With ``--trace 0`` the metrics are the end-to-end ones (README.md):
pages per second, CPU seconds per 1000 pages of the whole process tree,
peak resident memory of the tree (the JVM's heap counted at what the
program retains), and set-up time.  ``--trace 1`` runs
the per-layer probes of :mod:`perfbench.traced` instead.

A run first generates (or loads) its inputs from ``--seed``, then sets up
a session and runs an untimed warm-up pass on a slice, then runs whole
timed passes until ``--seconds`` have gone by, checking every pass's
output.  ``setup_s`` runs from process start (input preparation
excluded) to the end of the warm-up pass: one set-up per run, so the
JVM launch and the first imports are in it; its run-to-run noise is left
to the median over repeated runs.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")


def process_start() -> float:
    """Wall-clock time this process was started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rpartition(")")[2].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f
                     if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("extract_mix", "extract_large", "curate_dups"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size factor (the tests use a small one)")
    return p.parse_args(argv)


def stop_spark() -> None:
    """Stop the active session, if any, then end the JVM and wait for it
    to exit (the JVM stops the Python workers it started)."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - any failure to exit: kill it
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def set_up(cls, inp, t_inputs: float, ui: bool):
    """Start a session and warm it up.  Returns the warm workload object,
    the set-up seconds from process start (input preparation excluded)
    and the session start seconds (``get_spark`` plus package ship)."""
    from perfbench import sparkenv

    t0 = time.time()
    spark = sparkenv.start(ROOT, WORK, ui=ui)
    t_started = time.time()
    wl = cls(spark, inp, WORK)
    wl.warmup()
    return wl, {"setup": time.time() - process_start() - t_inputs,
                "start": t_started - t0}


def measure(wl, seconds: float) -> dict:
    """Whole timed passes until ``seconds`` have gone by; every pass's
    output is checked, and the JVM's heap collected, outside its timed
    region."""
    from perfbench import procstat, sparkenv

    n = wl.inp.n_pages
    walls, cpus, failed, problems = [], [], 0, []
    with procstat.PeakRss() as rss:
        t_begin = time.time()
        while True:
            result, cpu, wall = procstat.cpu_wall(wl.run_pass)
            walls.append(wall)
            cpus.append(cpu)
            # a full collection with the pass's caches still held: the
            # GC log then shows the heap the program retains
            wl.spark._jvm.java.lang.System.gc()
            verdict = wl.check(result)
            wl.reset()
            failed += len(verdict.failed)
            problems += verdict.problems
            if time.time() - t_begin >= seconds:
                break
    # the heap retained after the first pass: later passes' figures also
    # hold what earlier ones left behind, so they move with the number of
    # passes that fit in ``seconds`` (they go to stderr)
    gcs = procstat.full_gcs(sparkenv.gc_log_path(WORK))[-len(walls):]
    print(f"heap retained after each pass {[round(u) for u, _ in gcs]} MB",
          file=sys.stderr)
    for line in problems[:20]:
        print(f"check: {line}", file=sys.stderr)
    print(f"{wl.name}: {len(walls)} passes, wall "
          f"{[round(w, 3) for w in walls]}, cpu {[round(c, 2) for c in cpus]}",
          file=sys.stderr)
    return {
        "correct": not problems and failed == 0,
        "attempted": n * len(walls),
        "failed": failed,
        "pass_wall_s": statistics.median(walls),
        "pass_cpu_s": statistics.median(cpus),
        "pages_per_s": statistics.median(n / w for w in walls),
        "cpu_s_per_kpage": statistics.median(1000 * c / n for c in cpus),
        "rss": procstat.held_peaks(rss.samples, *gcs[0]),
    }


def units() -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "rs_trafilatura_spark",
                                       "__init__.py")):
        print("perfbench: the rs_trafilatura_spark package is not next to "
              "perfbench/; run from the root of a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import inputs, sparkenv, traced
    from perfbench.workloads import WORKLOADS

    sparkenv.configure(WORK)
    t0 = time.time()
    inp = inputs.prepare(args.workload, args.seed, args.scale, WORK)
    t_inputs = time.time() - t0
    cls = WORKLOADS[args.workload]
    try:
        wl, setup = set_up(cls, inp, t_inputs, ui=bool(args.trace))
        print(f"setup {setup['setup']:.2f} s (session start "
              f"{setup['start']:.2f} s), inputs {t_inputs:.2f} s",
              file=sys.stderr)
        if args.trace:
            out = traced.run(wl, args.seconds, measure, WORK)
            out["metrics"]["session.start_s"] = setup["start"]
        else:
            m = measure(wl, args.seconds)
            out = {k: m[k] for k in ("correct", "attempted", "failed")}
            out["metrics"] = {
                "pages_per_s": m["pages_per_s"],
                "cpu_s_per_kpage": m["cpu_s_per_kpage"],
                "peak_rss_mb": m["rss"]["total"],
                "setup_s": setup["setup"],
            }
        unit = units()
        out["metrics"] = {k: {"value": v, "unit": unit[k]}
                          for k, v in out["metrics"].items()}
    finally:
        stop_spark()
        sparkenv.remove_files(WORK)
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
