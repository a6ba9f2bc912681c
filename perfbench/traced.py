"""Per-layer metrics: the ``--trace 1`` run.

Layers are measured from outside the package, by timing calls into the
public functions of each module and by running each layer as its own
Spark job in its own job group.  The package itself carries no
instrumentation.  What a traced run does, after the same set-up as an
untraced run (with the Spark UI on, for its REST API):

1. untraced passes for ``--seconds`` (the end-to-end reference);
2. one traced pass: layer functions wrapped in spans (wall, process-tree
   CPU); its wall against the untraced median is the tracing overhead;
3. layer probes on the workload's own input, each a separate job group:
   JVM scan alone, scan plus a pass-through ``mapInArrow`` (the Arrow
   hop), the workload's kernel job with a noop sink, extraction plus a
   plain parquet write, the checkpointed runner, the Python-side scan
   planner, and curation, with the LSH tier's calls wrapped to time the
   feature pass and count candidate and verified pairs;
4. the kernel in this process, single thread, over a fixed sample of the
   input, with the step functions ``kernel/extract.py`` calls wrapped in
   self-time timers, and the Arrow output assembly around it.

The summed layer CPU is compared with the end-to-end CPU of a pass; the
difference is reported as ``trace.cpu_residual_pct``.
"""

from __future__ import annotations

import importlib
import json
import os
import shutil
import statistics
import sys
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import replace

from . import procstat

PKG = "rs_trafilatura_spark"
KERNEL_SAMPLE = {"extract_mix": 240, "curate_dups": 240, "extract_large": 8}

# kernel step -> the (module, function) pairs kernel/extract.py calls for
# it.  Names imported inside extract() are looked up on their module at
# call time, so they are wrapped there.
KERNEL_STEPS = {
    "parse": [("functions.encoding", "transcode_to_utf8"),
              ("kernel.extract", "Document")],
    "metadata": [("kernel.extract", "extract_metadata"),
                 ("kernel.extract", "find_jsonld_article_body"),
                 ("kernel.extract", "find_jsonld_product_description"),
                 ("kernel.fallback", "extract_discourse_content")],
    "page_type": [("kernel.extract", "classify_page"),
                  ("kernel.extract", "profile_for")],
    "cleaning": [("kernel.extract", "doc_cleaning")],
    "content_select": [("kernel.extract", "find_main_content_node"),
                       ("kernel.content_select", "find_content_node_bottom_up")],
    "traversal_text": [("kernel.extract", "extract_filtered_text")],
    "traversal_html": [("kernel.extract", "extract_filtered_html")],
    "fallback": [("kernel.extract", "baseline"),
                 ("kernel.fallback", "candidate_is_usable")],
    "post": [("kernel.splitbody", "maybe_merge_split_bodies"),
             ("kernel.postprocess", "try_multi_candidate_merge"),
             ("kernel.postprocess", "try_collect_repeated_items"),
             ("kernel.postprocess", "extract_collection_description"),
             ("kernel.extract", "dedup_blocks"),
             ("kernel.comments", "extract_comments"),
             ("kernel.images", "extract_images"),
             ("functions.markdown", "html_tree_to_markdown")],
    "quality": [("kernel.extract", "compute_extraction_quality")],
}

# (module, function) pairs whose calls the traced pass records as spans
SPANS = [
    ("sources", "run_extraction_checkpointed"),
    ("sources", "extract_from_parquet"),
    ("sources.checkpoint", "run_extraction"),
    ("sources.fastscan", "list_parquet_files"),
    ("sources.fastscan", "pack_bins"),
    ("plans.curate", "curate_pages"),
    ("plans.curate", "mark_near_duplicates"),
    ("plans.curate", "curation_report"),
    ("plans.curate", "release_cache"),
    ("operators.dedup", "lsh_features"),
    ("operators.dedup", "lsh_near_dup_pairs"),
]


def _module(name: str):
    return importlib.import_module(f"{PKG}.{name}")


@contextmanager
def patched(pairs, wrap):
    """Replace each module attribute with ``wrap(key, fn)`` for the
    duration of the block; always restores the originals."""
    saved = []
    try:
        for key, (mod, attr) in pairs:
            m = _module(mod)
            fn = getattr(m, attr)
            saved.append((m, attr, fn))
            setattr(m, attr, wrap(key, fn))
        yield
    finally:
        for m, attr, fn in reversed(saved):
            setattr(m, attr, fn)


# --- Spark status REST API ------------------------------------------------


class Rest:
    def __init__(self, sc):
        self.sc = sc
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def jobs(self, group: str) -> set[int]:
        return set(self.sc.statusTracker().getJobIdsForGroup(group))

    def stages(self, group: str) -> list[dict]:
        """Every completed attempt of every stage the group's jobs ran;
        waits for the status listener to catch up with the ended jobs."""
        tracker = self.sc.statusTracker()
        ids = set()
        for j in self.jobs(group):
            info = tracker.getJobInfo(j)
            if info is not None:
                ids.update(info.stageIds)
        out = []
        for sid in sorted(ids):
            for _ in range(50):
                attempts = self.get(f"/stages/{sid}")
                if all(a["status"] in ("COMPLETE", "SKIPPED", "FAILED")
                       for a in attempts):
                    break
                time.sleep(0.1)
            out.extend(a for a in attempts if a["status"] == "COMPLETE")
        return out

    def totals(self, group: str) -> dict:
        st = self.stages(group)
        mb = 2 ** 20
        return {
            "shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in st) / mb,
            "shuffle_read_mb": sum(s["shuffleReadBytes"] for s in st) / mb,
            "spill_mb": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                            for s in st) / mb,
            "jvm_gc_s": sum(s["jvmGcTime"] for s in st) / 1e3,
            "jvm_cpu_s": sum(s["executorCpuTime"] for s in st) / 1e9,
            "stages": len(st),
            "tasks": sum(s["numCompleteTasks"] for s in st),
        }

    def task_times(self, group: str) -> list[float]:
        """Run times (s) of the tasks of the group's widest stage."""
        st = max(self.stages(group), key=lambda s: s["numTasks"])
        tasks = self.get(f"/stages/{st['stageId']}/{st['attemptId']}/"
                         f"taskList?length=100000")
        return [t["duration"] / 1e3 for t in tasks if "duration" in t]

    def python_metrics(self, group: str) -> dict:
        """Spark's Python SQL metrics summed over the group's MapInArrow
        nodes."""
        jobs = self.jobs(group)
        names = {
            "time to start Python workers": "python_boot_s",
            "time to initialize Python workers": "python_init_s",
            "time to run Python workers": "python_run_s",
            "data sent to Python workers": "python_sent_mb",
            "data returned from Python workers": "python_received_mb",
        }
        out = {v: 0.0 for v in names.values()}
        for ex in self.get("/sql?details=true&planDescription=false"
                           "&length=100000"):
            if not jobs & set(ex.get("successJobIds", ())):
                continue
            for node in ex["nodes"]:
                if node["nodeName"] != "MapInArrow":
                    continue
                for m in node["metrics"]:
                    if m["name"] in names:
                        out[names[m["name"]]] += parse_metric(m["value"])
        return out


_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "min": 60.0,
          "B": 1 / 2 ** 20, "KiB": 1 / 2 ** 10, "MiB": 1.0, "GiB": 2 ** 10}


def parse_metric(value: str) -> float:
    """A SQL metric as the REST API prints it (``"total (min, med, max)\\n
    1.2 s (...)"``) in seconds or MB."""
    total = value.split("\n")[-1].split(" (")[0].split()
    return float(total[0].replace(",", "")) * _UNITS[total[1]]


# --- kernel, in this process ----------------------------------------------


def sample_batches(inp, n: int):
    """The first ``n`` pages of the input files, as Arrow batches."""
    import pyarrow.parquet as pq

    batches, left = [], n
    for path in inp.files:
        for b in pq.ParquetFile(path).iter_batches(
                batch_size=64, columns=["url", "warc_ts", "html", "lang"]):
            batches.append(b.slice(0, left))
            left -= batches[-1].num_rows
            if left == 0:
                return batches
    return batches


class StepTimer:
    """Self time per kernel step: a step's time excludes the wrapped steps
    it calls, so the steps add up without double counting."""

    def __init__(self):
        self.self_s = {k: 0.0 for k in KERNEL_STEPS}
        self.calls: dict[str, int] = {}  # per wrapped function name
        self._stack: list[list[float]] = []

    def wrap(self, step, fn):
        name = fn.__name__

        def timed(*a, **kw):
            frame = [time.perf_counter(), 0.0]
            self._stack.append(frame)
            try:
                return fn(*a, **kw)
            finally:
                self._stack.pop()
                elapsed = time.perf_counter() - frame[0]
                self.self_s[step] += elapsed - frame[1]
                self.calls[name] = self.calls.get(name, 0) + 1
                if self._stack:
                    self._stack[-1][1] += elapsed

        return timed


def kernel_layers(inp, name: str) -> dict:
    from rs_trafilatura_spark.kernel.extract import extract_bytes
    from rs_trafilatura_spark.plans.job import make_extract_arrow_batches

    from .workloads import _options

    opts = _options()
    batches = sample_batches(inp, KERNEL_SAMPLE[name])
    pages = [(u, h) for b in batches
             for u, h in zip(b.column(0).to_pylist(), b.column(2).to_pylist())]
    n = len(pages)

    def kernel_alone():
        for url, html in pages:
            extract_bytes(html, replace(opts, url=url))

    def closure():
        for _ in make_extract_arrow_batches(opts)(iter(batches)):
            pass

    kernel_alone()  # first calls compile patterns and fill caches
    alone, with_assembly = [], []
    for _ in range(3):  # interleaved, best of three: the difference is small
        alone.append(procstat.cpu_wall(kernel_alone)[2])
        with_assembly.append(procstat.cpu_wall(closure)[2])
    alone, with_assembly = min(alone), min(with_assembly)

    timer = StepTimer()
    pairs = [(step, pair) for step, fns in KERNEL_STEPS.items() for pair in fns]
    with patched(pairs, timer.wrap):
        _, _, traced_total = procstat.cpu_wall(kernel_alone)
    out = {"kernel.ms_per_page": 1e3 * alone / n}
    for step, secs in timer.self_s.items():
        out[f"kernel.{step}_ms"] = 1e3 * secs / n
    out["kernel.residual_ms"] = 1e3 * (traced_total - sum(timer.self_s.values())) / n
    out["kernel.parses_per_page"] = timer.calls.get("Document", 0) / n
    out["plans.assembly_ms_per_page"] = 1e3 * (with_assembly - alone) / n
    return out


def python_scan_cpu(inp) -> float:
    """CPU of reading the input columns with pyarrow, as the Python-side
    scan does."""
    import pyarrow.parquet as pq

    def read():
        for path in inp.files:
            for _ in pq.ParquetFile(path).iter_batches(
                    batch_size=256, columns=["url", "warc_ts", "html", "lang"]):
                pass

    return procstat.cpu_wall(read)[1]


# --- the traced run -------------------------------------------------------


def _group(sc, name: str):
    sc.setJobGroup(name, name)


def _dir_mb(path: str) -> float:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files) / 2 ** 20


def spark_layers(wl, work: str) -> tuple[dict, dict]:
    """Layer probes as their own job groups: (metrics, layer CPU seconds)."""
    from rs_trafilatura_spark.plans import curate
    from rs_trafilatura_spark.plans.job import run_extraction
    from rs_trafilatura_spark.sources import (extract_from_parquet,
                                              run_extraction_checkpointed)
    from rs_trafilatura_spark.sources.fastscan import (list_parquet_files,
                                                      pack_bins)

    from .workloads import N_CHUNKS, _options

    spark, inp, sc = wl.spark, wl.inp, wl.spark.sparkContext
    rest, m, cpu = Rest(sc), {}, {}
    cols = ["url", "warc_ts", "html", "lang"]
    opts = _options()
    pages = spark.read.parquet(inp.pages_dir)
    noop = lambda df: df.write.format("noop").mode("overwrite").save()  # noqa: E731

    _group(sc, "scan")
    _, cpu["scan"], _ = procstat.cpu_wall(lambda: noop(pages.select(*cols)))
    m["sources.scan_cpu_s"] = cpu["scan"]

    def passthrough(batches):
        yield from batches

    _group(sc, "hop")
    scanned = pages.select(*cols)
    _, hop, _ = procstat.cpu_wall(lambda: noop(
        scanned.mapInArrow(passthrough, schema=scanned.schema)))
    m["plans.hop_cpu_s"] = cpu["hop"] = hop - cpu["scan"]

    _group(sc, "kernel")
    if wl.name == "extract_large":
        kernel_df = extract_from_parquet(spark, inp.pages_dir, opts)
    else:
        kernel_df = run_extraction(spark, pages, opts)
    _, cpu["kernel_job"], _ = procstat.cpu_wall(lambda: noop(kernel_df))
    times = rest.task_times("kernel")
    m["plans.kernel_tasks"] = len(times)
    m["plans.task_skew"] = max(times) / statistics.median(times)

    t0 = time.perf_counter()
    files = list_parquet_files(spark, inp.pages_dir)
    bins = pack_bins(files, sc.defaultParallelism)
    m["sources.fastscan_plan_s"] = time.perf_counter() - t0
    size = dict(files)
    loads = [sum(size[u] for u in b) for b in bins]
    m["sources.fastscan_bin_skew"] = max(loads) / statistics.mean(loads)

    out = os.path.join(work, "out", "probe")
    _group(sc, "write")
    shutil.rmtree(out, ignore_errors=True)
    _, plain, _ = procstat.cpu_wall(lambda: run_extraction(spark, pages, opts)
                           .write.mode("overwrite").parquet(out))
    shutil.rmtree(out, ignore_errors=True)
    _group(sc, "ckpt")
    _, ckpt, _ = procstat.cpu_wall(lambda: run_extraction_checkpointed(
        spark, pages, out, opts, n_chunks=N_CHUNKS))
    m["sources.checkpoint_jobs"] = len(rest.jobs("ckpt"))
    m["sources.checkpoint_extra_cpu_s"] = ckpt - plain
    m["sources.write_mb"] = _dir_mb(out)
    cpu["write_and_lineage"] = ckpt - cpu["kernel_job"]
    shutil.rmtree(out, ignore_errors=True)

    # curation, with the LSH tier's intermediate frames kept for counting
    kept = {}

    def keep(key, fn):
        def call(*a, **kw):
            if key == "lsh_features":
                res, kept["features_cpu"], _ = procstat.cpu_wall(
                    lambda: fn(*a, **kw))
            else:
                res = fn(*a, **kw)
            kept[key] = res
            return res
        return call

    _group(sc, "curate")
    with patched([("lsh_features", ("operators.dedup", "lsh_features")),
                  ("candidates", ("operators.dedup", "_lsh_banded_candidates")),
                  ("verified", ("operators.dedup", "lsh_near_dup_pairs"))],
                 keep):
        curated, populate, populate_s = procstat.cpu_wall(
            lambda: curate.curate_pages(spark, pages, opts))
        m["plans.cache_mb"] = sum(
            (i.memSize() + i.diskSize())
            for i in sc._jsc.sc().getRDDStorageInfo()) / 2 ** 20
        _, near, near_s = procstat.cpu_wall(lambda: curate.curation_report(
            curate.mark_near_duplicates(curated, method="exact")).collect())
    m["plans.curate_populate_s"] = populate_s
    m["plans.near_dup_s"] = near_s
    for key, value in rest.totals("curate").items():
        m[f"plans.{key}"] = value
    _group(sc, "lsh-count")
    n_cand = kept["candidates"].count()
    n_ver = kept["verified"].count()
    curate.release_cache()
    m["operators.lsh_features_cpu_s"] = kept["features_cpu"]
    m["operators.lsh_candidates"] = n_cand
    m["operators.lsh_verified"] = n_ver
    m["operators.verify_yield"] = n_ver / n_cand if n_cand else 0.0
    cpu["curate_tiers"] = populate + near - cpu["kernel_job"]
    return m, cpu


def traced_pass(wl):
    """One checked pass with the layer functions wrapped in spans; returns
    its wall seconds, its verdict and a span table."""
    spans: dict[str, list[float]] = {}

    def wrap(key, fn):
        def call(*a, **kw):
            res, c, w = procstat.cpu_wall(lambda: fn(*a, **kw))
            s = spans.setdefault(key, [0, 0.0, 0.0])
            s[0] += 1
            s[1] += w
            s[2] += c
            return res
        return call

    _group(wl.spark.sparkContext, "pass")
    with patched([(f"{mod}.{fn}", (mod, fn)) for mod, fn in SPANS], wrap):
        w0 = time.perf_counter()
        result = wl.run_pass()
        wall = time.perf_counter() - w0
    verdict = wl.check(result)
    wl.reset()
    table = [f"{k}: calls={c} wall={w:.3f}s cpu={cp:.2f}s"
             for k, (c, w, cp) in spans.items()]
    return wall, verdict, table


def run(wl, seconds: float, measure, work: str) -> dict:
    """The traced run; ``measure`` is the untraced pass loop of run.py.
    ``session.start_s`` is added by run.py from its set-up."""
    untraced = measure(wl, seconds)
    n = wl.inp.n_pages
    e2e_cpu = untraced["pass_cpu_s"]
    m = {}

    wall, verdict, table = traced_pass(wl)
    rest = Rest(wl.spark.sparkContext)
    for key, value in rest.python_metrics("pass").items():
        m[f"plans.{key}"] = value
    m["trace.overhead_pct"] = 100 * (wall / untraced["pass_wall_s"] - 1)

    spark_m, cpu = spark_layers(wl, work)
    m.update(spark_m)
    m.update(kernel_layers(wl.inp, wl.name))
    m["mem.jvm_peak_mb"] = untraced["rss"]["jvm"]
    m["mem.python_peak_mb"] = untraced["rss"]["python"]

    # CPU per layer for one pass; the kernel and the Arrow assembly are the
    # in-process times scaled to the input size
    kernel = (m["kernel.ms_per_page"] + m["plans.assembly_ms_per_page"]) * n / 1e3
    if wl.name == "extract_large":
        # the sink: the hashing pass against the same job into a noop sink
        layers = {"python_scan": python_scan_cpu(wl.inp), "kernel": kernel,
                  "hash_sink": e2e_cpu - cpu["kernel_job"]}
    else:
        extra = ("write_and_lineage" if wl.name == "extract_mix"
                 else "curate_tiers")
        layers = {"scan": cpu["scan"], "hop": cpu["hop"], "kernel": kernel,
                  extra: cpu[extra]}
    layer_sum = sum(layers.values())
    m["trace.layer_cpu_s"] = layer_sum
    m["trace.e2e_cpu_s"] = e2e_cpu
    m["trace.cpu_residual_pct"] = 100 * (e2e_cpu - layer_sum) / e2e_cpu
    for line in (table + verdict.problems
                 + [f"layer cpu {k}: {v:.2f}s" for k, v in layers.items()]):
        print(f"trace: {line}", file=sys.stderr)
    return {
        "correct": untraced["correct"] and verdict.ok,
        "attempted": untraced["attempted"] + n,
        "failed": untraced["failed"] + len(verdict.failed),
        "metrics": m,
    }
