"""The Spark session the benchmark runs on, kept inside the checkout.

Local mode, one executor thread per core this process may use, and a JVM
heap sized for a 4-core, 15 GB machine.  Everything Spark, the JVM and
the Python workers write (shuffle, spill, temp files, the shipped package
zip) goes under the work directory.

Two JVM settings make short runs comparable:

- ``-XX:TieredStopAtLevel=1`` (C1 compiler only).  With the default C2
  tier a run's first minute is a JIT warm-up: the compiler threads' CPU
  lands on the timed passes and the pass cost drifts down pass by pass
  (measured on extract_mix: 10.9 to 6.9 CPU-s per pass over 11 passes).
  With C1 alone the passes are flat from the first one (5.3 to 6.2 CPU-s).
  A long production job amortises C2 compilation, so this overstates the
  JVM's share of a pass somewhat; the kernel runs in Python either way.
- A fixed, pre-touched heap (``-Xms`` = ``-Xmx``, ``AlwaysPreTouch``).
  An elastic heap's resident size follows the garbage collector's
  sizing decisions, which swung peak memory by 40 % between runs of the
  same workload.  A pre-touched heap is resident in full, so the JVM logs
  its collections (``-Xlog:gc``) and ``peak_rss_mb`` counts, of the heap,
  only what is in use after each collection (``procstat.held_peaks``).
"""

from __future__ import annotations

import os
import zipfile

HEAP = "2g"
# one input file (one row group) per scan task: the layout, not the
# session's 32 MB default, decides the task count
SPLIT_BYTES = str(4 * 1024 * 1024)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def configure(work: str) -> None:
    """Point every temp and scratch path at ``work``.  Must run before
    the first session starts the JVM."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join([
        os.environ.get("SPARK_SUBMIT_OPTS", ""), f"-Djava.io.tmpdir={tmp}",
        "-XX:TieredStopAtLevel=1", f"-Xms{HEAP}", "-XX:+AlwaysPreTouch",
        f"-Xlog:gc:file={gc_log_path(work)}:timemillis",
    ]).strip()
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def gc_log_path(work: str) -> str:
    """The GC log of the JVM this process starts (one per process)."""
    return os.path.join(work, f"gc-{os.getpid()}.log")


def _zip_path(work: str) -> str:
    return os.path.join(work, f"package-{os.getpid()}.zip")


def remove_files(work: str) -> None:
    """Remove the package zip and the GC log of this process."""
    for path in (_zip_path(work), gc_log_path(work)):
        if os.path.exists(path):
            os.remove(path)


def ship(spark, root: str, work: str) -> None:
    """Send the package to the Python workers, as ``--py-files`` would."""
    zip_path = _zip_path(work)
    if not os.path.exists(zip_path):
        pkg = os.path.join(root, "rs_trafilatura_spark")
        with zipfile.ZipFile(zip_path + ".tmp", "w", zipfile.ZIP_DEFLATED) as zf:
            for base, _dirs, files in os.walk(pkg):
                for name in files:
                    if name.endswith(".py"):
                        full = os.path.join(base, name)
                        zf.write(full, os.path.relpath(full, root))
        os.replace(zip_path + ".tmp", zip_path)
    spark.sparkContext.addPyFile(zip_path)


def start(root: str, work: str, ui: bool = False):
    from rs_trafilatura_spark.session import get_spark

    spark = get_spark(app="perfbench", parallelism=cpus(), driver_memory=HEAP,
                      ui=ui)
    spark.conf.set("spark.sql.files.maxPartitionBytes", SPLIT_BYTES)
    spark.conf.set("spark.sql.files.openCostInBytes", SPLIT_BYTES)
    ship(spark, root, work)
    return spark
