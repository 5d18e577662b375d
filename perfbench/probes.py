"""Measurement helpers: process-tree CPU and memory from /proc, spans
with their own Spark job groups, and Spark's per-job-group counters.

Nothing here imports pyspark; the Spark objects are passed in.
"""

from __future__ import annotations

import os
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# -- /proc ---------------------------------------------------------------

def _read_stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may hold spaces and parentheses; fields resume after the last ')'
    head, _, tail = raw.rpartition(")")
    return [head.partition("(")[2]] + tail.split()


def process_tree(root: int) -> dict[int, str]:
    """pid -> kind for ``root`` and its descendants. Kinds: ``driver``
    (root), ``jvm`` (a java process), ``worker`` (anything below the
    JVM, i.e. pyspark daemon and workers), ``other``."""
    children: dict[int, list[int]] = {}
    comm: dict[int, str] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _read_stat(int(name))
        if st is None:
            continue
        comm[int(name)] = st[0]
        children.setdefault(int(st[2]), []).append(int(name))
    kinds: dict[int, str] = {}
    stack = [(root, "driver")]
    while stack:
        pid, kind = stack.pop()
        kinds[pid] = kind
        for c in children.get(pid, ()):
            if kind in ("jvm", "worker"):
                stack.append((c, "worker"))
            else:
                stack.append((c, "jvm" if comm.get(c) == "java" else "other"))
    return kinds


def cpu_by_kind(root: int) -> dict[str, float]:
    """CPU seconds (user+system, including reaped children) of the
    tree under ``root``, summed per kind, plus ``total``."""
    out = {"driver": 0.0, "jvm": 0.0, "worker": 0.0, "other": 0.0}
    for pid, kind in process_tree(root).items():
        st = _read_stat(pid)
        if st is None:
            continue
        # utime stime cutime cstime are fields 14-17 of stat(5)
        out[kind] += sum(int(x) for x in st[12:16]) / _CLK
    out["total"] = sum(out.values())
    return out


def tree_rss_mb(root: int) -> float:
    total = 0
    for pid in process_tree(root):
        st = _read_stat(pid)
        if st is not None:
            total += int(st[22])
    return total * _PAGE / 2**20


class RssSampler:
    """Background thread recording the peak summed RSS of a process
    tree every 0.25 s. Use as a context manager."""

    def __init__(self, root: int):
        self.root = root
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))
            self._stop.wait(0.25)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))


def occupancy() -> dict:
    """Run-validity markers: 1-minute load average and the cumulative
    CPU-steal tick count of /proc/stat (delta them around a run)."""
    with open("/proc/stat") as fh:
        parts = fh.readline().split()
    # cpu user nice system idle iowait irq softirq steal ...
    return {"load1": os.getloadavg()[0],
            "steal": int(parts[8]) if len(parts) > 8 else 0}


# -- spans ---------------------------------------------------------------

@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    job: int | None
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans in memory. Each span runs under its own Spark job
    group (``pb-<id>``) so the jobs it launches can be attributed to it
    afterwards; CPU of the process tree is sampled at both ends. A span
    opened with ``job=True`` starts a job: it and every span below it
    carry its id in ``Span.job``.

    A disabled tracer runs the body with no bookkeeping at all."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._pid = os.getpid()

    @contextmanager
    def span(self, name: str, layer: str, job: bool = False):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(id=len(self.spans), name=name, layer=layer,
                  parent=parent.id if parent else None,
                  job=parent.job if parent else None, start=0.0)
        if job:
            sp.job = sp.id
        self.spans.append(sp)
        self._stack.append(sp)
        sc = self.spark.sparkContext
        sc.setJobGroup(f"pb-{sp.id}", name)
        cpu0 = cpu_by_kind(self._pid)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            cpu1 = cpu_by_kind(self._pid)
            for k in ("driver", "jvm", "worker"):
                sp.counts[f"cpu.{k}_s"] = cpu1[k] - cpu0[k]
            self._stack.pop()
            sc.setJobGroup(f"pb-{parent.id}" if parent else "pb-none",
                           parent.name if parent else "")


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part covered by direct children
    (children of one span run one after another, never overlapping)."""
    child_time: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            child_time[s.parent] = child_time.get(s.parent, 0.0) + s.dur
    return {s.id: s.dur - child_time.get(s.id, 0.0) for s in spans}


# -- Spark's status store --------------------------------------------------

_STAGE_FIELDS = {
    "input_mb": ("inputBytes", 1 / 2**20),
    "shuffle_write_mb": ("shuffleWriteBytes", 1 / 2**20),
    "shuffle_read_mb": ("shuffleReadBytes", 1 / 2**20),
    "spill_mb": ("diskBytesSpilled", 1 / 2**20),
    "gc_s": ("jvmGcTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
}


def spark_counters(spark) -> dict[str, dict[str, float]]:
    """Job group -> summed job/stage/task counters, read from Spark's
    in-memory status store after the listener bus has drained. Stages
    that were skipped (reused shuffle output) count as neither stages
    nor tasks."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}
    jobs = store.jobsList(None)
    for i in range(jobs.size()):
        job = jobs.apply(i)
        grp = job.jobGroup()
        g = grp.get() if grp.isDefined() else "pb-none"
        c = out.setdefault(g, {"jobs": 0, "stages": 0, "tasks": 0,
                               **{k: 0.0 for k in _STAGE_FIELDS}})
        c["jobs"] += 1
        ids = job.stageIds()
        for k in range(ids.size()):
            stage_group[ids.apply(k)] = g
    empty = sc._gateway.new_array(sc._jvm.double, 0)
    stages = store.stageList(None, False, False, empty,
                             sc._jvm.java.util.ArrayList())
    for i in range(stages.size()):
        st = stages.apply(i)
        g = stage_group.get(st.stageId())
        if g is None or str(st.status()) == "SKIPPED":
            continue
        c = out[g]
        c["stages"] += 1
        c["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
        for key, (attr, scale) in _STAGE_FIELDS.items():
            c[key] += getattr(st, attr)() * scale
    return out


_PY_NODE_RE = re.compile(
    r"\b(ArrowEvalPython|BatchEvalPython|MapInArrow|MapInPandas|"
    r"PythonMapInArrow|FlatMapGroupsInPandas|FlatMapGroupsInArrow|"
    r"FlatMapCoGroupsInPandas|FlatMapCoGroupsInArrow|AggregateInPandas|"
    r"ArrowAggregatePython|WindowInPandas|ArrowWindowPython|"
    r"BatchEvalPythonUDTF|ArrowEvalPythonUDTF)\b")


def python_nodes(plan_string: str) -> int:
    return len(_PY_NODE_RE.findall(plan_string))


def planning_phases(jdf) -> dict[str, float]:
    """Seconds per Catalyst phase (analysis / optimization / planning)
    from the DataFrame's QueryPlanningTracker."""
    phases = jdf.queryExecution().tracker().phases()
    it = phases.iterator()
    out = {}
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().durationMs() / 1e3
    return out
