"""CPU and memory of this process and every process it started.

Spark in local mode runs as three kinds of process: this Python process,
the JVM it launches, and the Python worker daemon with its forked
workers.  Their cost is read from ``/proc``:

- CPU is ``utime + stime + cutime + cstime`` summed over the live tree.
  A worker that exits during a measured interval moves its CPU into its
  parent's ``cutime``/``cstime`` once reaped, so the difference of two
  readings still counts it.
- Memory is the resident set summed over the tree, sampled by a
  background thread.  Forked workers share pages with their parent, so
  the sum over-counts shared pages: it is an upper bound on the tree's
  footprint, measured the same way on every run.  The JVM's fixed,
  pre-touched heap is resident in full; :func:`held_peaks` counts only
  the part of it the program retains, read from the JVM's GC log.
"""

from __future__ import annotations

import os
import re
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
SAMPLE_S = 0.05  # seconds between memory samples


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name may hold spaces or parentheses: split after the last ')'
    head, _, rest = raw.rpartition(")")
    return [head.split(" (", 1)[1]] + rest.split()


def process_tree(root: int | None = None) -> dict[int, list[str]]:
    """{pid: stat fields} for ``root`` (default: this process) and all of
    its descendants.  Field 0 is the command name, field 2 the parent pid."""
    root = os.getpid() if root is None else root
    stats: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                stats[int(name)] = fields
    children: dict[int, list[int]] = {}
    for pid, fields in stats.items():
        children.setdefault(int(fields[2]), []).append(pid)
    tree: dict[int, list[str]] = {}
    todo = [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            tree[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return tree


def tree_cpu_s(tree: dict[int, list[str]] | None = None) -> float:
    """User + system CPU seconds of the tree, reaped children included."""
    tree = process_tree() if tree is None else tree
    # after the name: state=1 ppid=2 ... utime=12 stime=13 cutime=14 cstime=15
    ticks = sum(sum(int(f[i]) for i in (12, 13, 14, 15)) for f in tree.values())
    return ticks / _TICK


def cpu_wall(fn):
    """(result, tree CPU seconds, wall seconds) of ``fn()``."""
    c0, w0 = tree_cpu_s(), time.perf_counter()
    out = fn()
    return out, tree_cpu_s() - c0, time.perf_counter() - w0


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE / 2**20
    except OSError:
        return 0.0


def tree_rss_mb(tree: dict[int, list[str]] | None = None) -> dict[str, float]:
    """Resident MB of the tree: ``total``, ``jvm`` and ``python`` parts."""
    tree = process_tree() if tree is None else tree
    out = {"total": 0.0, "jvm": 0.0, "python": 0.0}
    for pid, fields in tree.items():
        parent = tree.get(int(fields[2]))
        if (parent is not None and parent[0] == "java"
                and not fields[0].startswith("python")):
            # the JVM starting a helper command (Hadoop's local file system
            # runs chmod this way): until the child execs, it shares the
            # JVM's memory and shows all of it as its own resident set.
            # The JVM's only lasting children are the Python daemons.
            continue
        mb = _rss_mb(pid)
        out["total"] += mb
        out["jvm" if fields[0] == "java" else "python"] += mb
    return out


class PeakRss:
    """Samples the tree's resident memory every SAMPLE_S seconds while
    running; ``samples`` holds {"jvm": MB, "python": MB} per reading.
    Use as a context manager so the thread is always stopped and joined."""

    def __init__(self):
        self.samples: list[dict[str, float]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        self.samples.append(tree_rss_mb())

    def _loop(self) -> None:
        while not self._stop.wait(SAMPLE_S):
            self._sample()

    def __enter__(self) -> "PeakRss":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


_FULL_GC = re.compile(
    r"Pause Full .*?(\d+)([KMG])->(\d+)([KMG])\((\d+)([KMG])\)")
_UNIT_MB = {"K": 1 / 1024, "M": 1.0, "G": 1024.0}


def full_gcs(path: str) -> list[tuple[float, float]]:
    """(heap MB in use after, heap MB committed) per full collection in a
    JVM unified GC log (``-Xlog:gc:file=<path>``)."""
    events = []
    with open(path) as f:
        for line in f:
            m = _FULL_GC.search(line)
            if m:
                events.append((int(m[3]) * _UNIT_MB[m[4]],
                               int(m[5]) * _UNIT_MB[m[6]]))
    return events


def held_peaks(samples: list[dict[str, float]], retained: float,
               committed: float) -> dict[str, float]:
    """Peak memory the program holds, in MB: ``total``, ``jvm``, ``python``.

    The JVM's heap is fixed and pre-touched, so all ``committed`` MB of it
    are resident whatever the program keeps there.  Each sample's JVM part
    therefore counts the heap at ``retained`` instead: the heap in use
    after a full collection at the end of a pass, with the pass's caches
    still held."""
    free = committed - retained
    return {
        "total": max(r["jvm"] + r["python"] for r in samples) - free,
        "jvm": max(r["jvm"] for r in samples) - free,
        "python": max(r["python"] for r in samples),
    }
