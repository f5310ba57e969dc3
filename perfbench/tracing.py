"""In-memory spans and process-tree meters for the benchmark.

A span records name, start, end, parent span and run id, plus what the
layer did inside it: Spark jobs/stages/tasks (one job group per span,
read back from ``SparkContext.statusTracker()``), CPU seconds split
into the main Python process, the JVM and the Python workers (``/proc``),
and any counts the caller attaches. Spans stay in memory and are
written out once, when the run ends.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager

_HZ = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_table() -> dict[int, tuple[int, str, int, int, int]]:
    """pid -> (ppid, comm, own cpu ticks, reaped-children cpu ticks, rss pages)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        head, tail = raw.rsplit(")", 1)
        comm = head.split("(", 1)[1]
        p = tail.split()
        # fields after ')': 0 state, 1 ppid, 11 utime, 12 stime,
        # 13 cutime, 14 cstime, 21 rss (pages) — man proc(5)
        out[int(d)] = (
            int(p[1]),
            comm,
            int(p[11]) + int(p[12]),
            int(p[13]) + int(p[14]),
            int(p[21]),
        )
    return out


def _descendants(table: dict, root: int) -> set[int]:
    tree, changed = {root}, True
    while changed:
        changed = False
        for pid, row in table.items():
            if row[0] in tree and pid not in tree:
                tree.add(pid)
                changed = True
    return tree


def tree_pids(root: int | None = None) -> set[int]:
    """Live descendants of ``root`` (default this process), itself excluded."""
    root = os.getpid() if root is None else root
    return _descendants(_proc_table(), root) - {root}


def cpu_split(root: int | None = None) -> dict[str, float]:
    """CPU seconds of this process tree, split by role: the main Python
    process itself, JVM processes, and everything the JVM spawned (the
    pyspark daemon and its Python workers, including reaped ones)."""
    root = os.getpid() if root is None else root
    t = _proc_table()
    tree = _descendants(t, root)
    jvms = [p for p in tree if p != root and t[p][1] == "java"]
    py = set()
    for j in jvms:
        py |= _descendants(t, j) - {j}
    return {
        "main": t[root][2] / _HZ if root in t else 0.0,
        "jvm": sum(t[p][2] for p in jvms) / _HZ,
        "py": sum(t[p][2] + t[p][3] for p in py if p in t) / _HZ,
    }


def tree_rss_mb(root: int | None = None) -> float:
    t = _proc_table()
    tree = _descendants(t, os.getpid() if root is None else root)
    return sum(t[p][4] for p in tree if p in t) * _PAGE / 2**20


class RssSampler:
    """Background sampler of the process tree's summed RSS; ``peak_mb``
    is the largest sample since the last ``reset``."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def sample(self) -> None:
        mb = tree_rss_mb()
        with self._lock:
            self.peak_mb = max(self.peak_mb, mb)

    def reset(self) -> None:
        with self._lock:
            self.peak_mb = 0.0
        self.sample()

    def __enter__(self) -> "RssSampler":
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)


def job_counts(sc, group: str) -> dict[str, int]:
    """Jobs, executed stages and completed tasks of one job group."""
    st = sc.statusTracker()
    jobs = list(st.getJobIdsForGroup(group))
    stages = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    ran, tasks = 0, 0
    for s in stages:
        info = st.getStageInfo(s)
        if info is not None and info.numCompletedTasks > 0:
            ran += 1
            tasks += info.numCompletedTasks
    return {"jobs": len(jobs), "stages": ran, "tasks": tasks}


class Tracer:
    """Collects spans for one run. ``span(name)`` is a context manager
    yielding the span's dict; the caller may add counts to
    ``span["counts"]``. With ``sc=None`` no Spark job groups are set
    (used by tests)."""

    def __init__(self, run_id: str, sc=None):
        self.run_id = run_id
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def _set_group(self, group: str | None, desc: str | None) -> None:
        if self.sc is None:
            return
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(group, desc)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "run_id": self.run_id,
            "counts": {},
        }
        self.spans.append(rec)
        self._stack.append(rec)
        group = f"{self.run_id}/{rec['id']}"
        self._set_group(group, name)
        cpu0 = cpu_split() if self.sc is not None else None
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            if self.sc is not None:
                cpu1 = cpu_split()
                rec["cpu_s"] = {k: cpu1[k] - cpu0[k] for k in cpu1}
                rec.update(job_counts(self.sc, group))
            self._stack.pop()
            if parent is not None:
                self._set_group(f"{self.run_id}/{parent['id']}", parent["name"])
            else:
                self._set_group(None, None)


def merged_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> self time: duration minus the part of its interval
    that its child spans cover (overlapping children counted once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        clipped = [
            (max(a, s["start"]), min(b, s["end"]))
            for a, b in children.get(s["id"], [])
            if min(b, s["end"]) > max(a, s["start"])
        ]
        out[s["id"]] = (s["end"] - s["start"]) - merged_length(clipped)
    return out
