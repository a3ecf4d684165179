"""Measurement primitives for the benchmark: spans, /proc readers, the
Spark event log and plan shape. Nothing here imports the program, so
the unit tests of this file run without Spark."""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time
from contextlib import contextmanager

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def median(values) -> float:
    return float(statistics.median(values))


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_available_mb() -> int:
    with open("/proc/meminfo", encoding="ascii") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemAvailable missing from /proc/meminfo")


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, run id). Disabled
    tracers record nothing, so the untraced run pays no span cost."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "run": self.run_id, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, owner, attr: str, name: str):
        """Replace ``owner.attr`` by a spanned wrapper; returns the undo."""
        orig = getattr(owner, attr)

        def wrapped(*a, **kw):
            with self.span(name):
                return orig(*a, **kw)

        setattr(owner, attr, wrapped)
        return lambda: setattr(owner, attr, orig)

    def self_times(self) -> dict:
        """name -> (self seconds summed over spans, span count). A span's
        self time is its duration minus its children's; children run
        one after another on one thread, so they never overlap."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict = {}
        for s in self.spans:
            tot, n = out.get(s["name"], (0.0, 0))
            out[s["name"]] = (tot + s["end"] - s["start"] - child[s["id"]],
                              n + 1)
        return out

    def durations(self, name: str) -> list:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name]

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"run": self.run_id, "spans": self.spans,
                       "self_s": {k: v[0] for k, v in
                                  self.self_times().items()}}, f)


# ---------------------------------------------------------------------------
# /proc
# ---------------------------------------------------------------------------


def _stat_fields(pid: int):
    with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as f:
        raw = f.read()
    # comm may hold spaces; fields after the closing paren are fixed
    return raw[raw.rindex(")") + 2:].split()


def process_tree(root: int) -> list:
    """``root`` and all its live descendants."""
    children: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid = int(_stat_fields(int(name))[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, own and reaped children) of the tree."""
    tot = 0
    for pid in process_tree(root):
        try:
            f = _stat_fields(pid)
        except OSError:
            continue
        tot += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return tot / _CLK_TCK


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode("utf-8", "replace")
    except OSError:
        return ""


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm", encoding="ascii") as f:
            return int(f.read().split()[1]) * _PAGE / 2**20
    except OSError:
        return 0.0


def worker_pids(root: int) -> tuple:
    """(executor JVM pids, Python worker pids) below the process ``root``.
    In local mode the JVM is the executor; Spark's Python workers are
    forked from its ``pyspark.daemon``."""
    jvm, py = [], []
    for pid in process_tree(root):
        if pid == root:
            continue
        cmd = _cmdline(pid)
        if "java" in cmd.split(" ", 1)[0]:
            jvm.append(pid)
        elif "pyspark" in cmd:
            py.append(pid)
    return jvm, py


class RssSampler:
    """Samples summed RSS of the executor JVM and the Python workers in
    a background thread; ``peak`` holds the largest sums seen."""

    def __init__(self, root: int, period_s: float = 0.1):
        self.root = root
        self.period_s = period_s
        self.peak_total_mb = 0.0
        self.peak_python_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        jvm, py = worker_pids(self.root)
        py_mb = sum(_rss_mb(p) for p in py)
        self.peak_python_mb = max(self.peak_python_mb, py_mb)
        self.peak_total_mb = max(self.peak_total_mb,
                                 py_mb + sum(_rss_mb(p) for p in jvm))

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()


def cpu_jiffies() -> dict:
    """Machine-wide busy and steal jiffies from the first /proc/stat line."""
    with open("/proc/stat", encoding="ascii") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal ...
    return {"busy": v[0] + v[1] + v[2] + v[5] + v[6], "steal": v[7]}


def loadavg() -> list:
    with open("/proc/loadavg", encoding="ascii") as f:
        return [float(x) for x in f.read().split()[:3]]


class PassMeter:
    """Wall, tree CPU and machine busy/steal jiffies around one pass."""

    def __init__(self, root: int):
        self.root = root

    def __enter__(self):
        self._j0 = cpu_jiffies()
        self._c0 = tree_cpu_s(self.root)
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall_s = time.perf_counter() - self._t0
        self.cpu_s = tree_cpu_s(self.root) - self._c0
        j1 = cpu_jiffies()
        self.busy_jiffies = j1["busy"] - self._j0["busy"]
        self.steal_jiffies = j1["steal"] - self._j0["steal"]

    @property
    def unstolen_s(self) -> float:
        """Wall time less the share the hypervisor stole: of the jiffies
        the machine's vCPUs wanted to run (busy + steal), steal is the
        part the host gave to other guests. On a shared 4-vCPU host that
        share moved between 0 and 20% from one run to the next; it is no
        cost of the program, so throughput is counted against the rest."""
        wanted = self.busy_jiffies + self.steal_jiffies
        if wanted <= 0:
            return self.wall_s
        return self.wall_s * (1 - self.steal_jiffies / wanted)


# ---------------------------------------------------------------------------
# Spark event log and plans
# ---------------------------------------------------------------------------


def group_task_metrics(log_path: str, group: str) -> dict:
    """Task metrics of every job run under job group ``group``, read from
    an uncompressed, non-rolling Spark event log."""
    stages, jobs = set(), 0
    run_ms = gc_ms = shuffle_b = sent_b = recv_b = 0
    durations = []
    with open(log_path, encoding="utf-8") as f:
        for line in f:
            e = json.loads(line)
            ev = e.get("Event")
            if ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                if props.get("spark.jobGroup.id") == group:
                    jobs += 1
                    stages.update(e.get("Stage IDs", ()))
            elif ev == "SparkListenerTaskEnd" and e["Stage ID"] in stages:
                tm = e.get("Task Metrics") or {}
                info = e["Task Info"]
                run_ms += tm.get("Executor Run Time", 0)
                gc_ms += tm.get("JVM GC Time", 0)
                shuffle_b += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                durations.append(
                    (info["Finish Time"] - info["Launch Time"]) / 1000.0)
                for acc in info.get("Accumulables", ()):
                    if acc.get("Name") == "data sent to Python workers":
                        sent_b += int(acc.get("Update") or 0)
                    elif acc.get("Name") == \
                            "data returned from Python workers":
                        recv_b += int(acc.get("Update") or 0)
    return {"jobs": jobs, "tasks": len(durations), "run_s": run_ms / 1000.0,
            "gc_s": gc_ms / 1000.0, "shuffle_write_mb": shuffle_b / 2**20,
            "python_mb_sent": sent_b / 2**20,
            "python_mb_received": recv_b / 2**20,
            "task_durations_s": durations}


_PY_NODES = {"MapInPandas", "MapInArrow", "PythonMapInArrow",
             "ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas",
             "FlatMapCoGroupsInPandas", "AggregateInPandas",
             "WindowInPandas", "ArrowEvalPythonUDTF", "BatchEvalPythonUDTF"}
_NODE_RE = re.compile(r"^[\s:+\-|]*(?:\*\(\d+\)\s*)?([A-Za-z]+)")


def plan_shape(plan: str) -> dict:
    """Counts of Exchange, BroadcastExchange and Python nodes in a
    physical plan string; for an adaptive plan, the final plan only."""
    if "== Final Plan ==" in plan:
        plan = plan.split("== Final Plan ==", 1)[1].split(
            "== Initial Plan ==", 1)[0]
    out = {"exchange": 0, "broadcast_exchange": 0, "python_nodes": 0}
    for line in plan.splitlines():
        m = _NODE_RE.match(line)
        node = m.group(1) if m else ""
        if node == "Exchange":
            out["exchange"] += 1
        elif node == "BroadcastExchange":
            out["broadcast_exchange"] += 1
        elif node in _PY_NODES:
            out["python_nodes"] += 1
    return out
