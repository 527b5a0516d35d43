"""Measurement probes: process-tree CPU and memory from /proc, Spark SQL
metrics from the status store, and in-memory spans.

None of these touch the program under test; they read what the operating
system and Spark already record.
"""

from __future__ import annotations

import os
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")


# --------------------------------------------------------------------------
# /proc: CPU of the driver's whole process tree, split by role
# --------------------------------------------------------------------------


def _read_stat(pid: int) -> tuple[int, float, str] | None:
    """(ppid, CPU seconds incl. reaped children, comm), None once gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    comm = stat[stat.index("(") + 1 : stat.rindex(")")]
    rest = stat[stat.rindex(")") + 2 :].split()
    ticks = sum(int(v) for v in rest[11:15])  # utime stime cutime cstime
    return int(rest[1]), ticks / _TICK, comm


class TreeCpu:
    """CPU seconds of root's process tree by role: ``driver`` (root),
    ``jvm`` (the java process and any non-Python child it starts) and
    ``python_workers`` (pyspark.daemon and the workers it forks).

    A live process counts its own time plus that of the children it has
    reaped.  pyspark.daemon ignores SIGCHLD, so a worker that exits takes
    its CPU with it: a thread samples the tree every ``interval`` seconds
    and keeps the last reading of every worker, losing at most one
    interval of CPU per exiting worker.  The thread's own CPU is taken
    off the driver's."""

    def __init__(self, root: int, interval: float = 0.02):
        self.root = root
        self.interval = interval
        self._role: dict[int, str] = {}
        self._parent: dict[int, int] = {}
        self._last: dict[int, float] = {}
        self._comm: dict[int, str] = {}
        self._examined: set[int] = set()
        self._gone = 0.0  # CPU of exited workers nobody accounts for
        self._own = 0.0  # the sampling thread's own CPU
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _classify(self, pid: int, ppid: int, comm: str) -> str | None:
        """Role of a process, None when it is outside the tree."""
        if pid == self.root:
            return "driver"
        parent = self._role.get(ppid)
        if comm == "java":
            return "jvm" if parent else None
        if parent == "python_workers" or (
            parent == "jvm" and comm.startswith("python")
        ):
            return "python_workers"
        return {"jvm": "jvm", "driver": "other"}.get(parent)

    def _sample(self) -> None:
        t0 = time.thread_time()
        with self._lock:
            live = {int(n) for n in os.listdir("/proc") if n.isdigit()}
            self._examined &= live
            for pid in sorted(live - self._examined):
                self._examined.add(pid)
                stat = _read_stat(pid)
                role = stat and self._classify(pid, stat[0], stat[2])
                if role:
                    self._role[pid] = role
                    self._parent[pid] = stat[0]
                    self._comm[pid] = stat[2]
                    self._last[pid] = stat[1]
            for pid in list(self._role):
                stat = _read_stat(pid) if pid in live else None
                if stat is not None:
                    # a process the JVM starts shows the JVM's name until it
                    # execs, so classify it again when its name changes
                    if stat[2] != self._comm[pid]:
                        self._comm[pid] = stat[2]
                        self._role[pid] = self._classify(
                            pid, self._parent[pid], stat[2]
                        ) or self._role[pid]
                    self._last[pid] = stat[1]
                    continue
                # exited: a reaping parent has already added its time to
                # its own cutime, except the daemon, which never reaps
                if self._role.get(self._parent[pid]) == "python_workers":
                    self._gone += self._last[pid]
                for d in (self._role, self._parent, self._last, self._comm):
                    del d[pid]
        self._own += time.thread_time() - t0

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def read(self) -> dict[str, float]:
        self._sample()
        with self._lock:
            out = {"driver": 0.0, "jvm": 0.0, "python_workers": self._gone, "other": 0.0}
            for pid, role in self._role.items():
                out[role] += self._last[pid]
            out["driver"] -= self._own
        out["total"] = sum(out.values())
        return out

    def pids(self, role: str) -> list[int]:
        with self._lock:
            return [p for p, r in self._role.items() if r == role]

    def close(self) -> None:
        self._stop.set()
        self._thread.join()


def peak_rss_mb(pids: list[int]) -> float:
    """Largest VmHWM (peak resident set) among pids, in MiB."""
    peak = 0.0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]) / 1024)
        except OSError:
            continue
    return peak


# --------------------------------------------------------------------------
# Spark SQL metrics from the status store
# --------------------------------------------------------------------------

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_S = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE_RE = re.compile(r"^(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")
PYTHON_NODE_RE = re.compile(r"Python|InPandas|InArrow")


def parse_metric(text: str) -> float:
    """A formatted SQL metric as a number: counts as-is, sizes in bytes,
    times in seconds.  Per-task summaries ("total (min, med, max ...)\\n
    <total> (...)") read their total."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _VALUE_RE.match(text.strip())
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return value * _SIZE[unit]
    if unit in _TIME_S:
        return value * _TIME_S[unit]
    return value


@dataclass
class SqlExecution:
    """One finished SQL execution: its plan nodes with parsed metrics."""

    id: int
    description: str
    wall_s: float
    nodes: list  # of {"id", "name", "metrics": {name: float}}
    edges: list  # of (child id, parent id)

    def named(self, pattern: str) -> list[dict]:
        rx = re.compile(pattern)
        return [n for n in self.nodes if rx.search(n["name"])]

    def child_rows(self, node_id: int) -> float:
        """Output rows of the nearest descendant that counts them."""
        by_id = {n["id"]: n for n in self.nodes}
        frontier = [c for c, p in self.edges if p == node_id]
        while frontier:
            nid = frontier.pop(0)
            rows = by_id[nid]["metrics"].get("number of output rows")
            if rows is not None:
                return rows
            frontier.extend(c for c, p in self.edges if p == nid)
        return 0.0


class StatusStore:
    """Reads finished SQL executions through
    ``sharedState().statusStore()`` (works with the UI disabled)."""

    def __init__(self, spark):
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._seen = self._last_id()

    def _last_id(self) -> int:
        ex = self._store.executionsList()
        return ex.apply(ex.size() - 1).executionId() if ex.size() else -1

    def mark(self) -> None:
        """Skip every execution recorded so far."""
        self._seen = self._last_id()

    def new_executions(self, wait_s: float = 5.0) -> list[SqlExecution]:
        """Executions started since the last call, once all have finished."""
        deadline = time.monotonic() + wait_s
        while True:
            ex = self._store.executionsList()
            fresh = [
                ex.apply(i)
                for i in range(ex.size())
                if ex.apply(i).executionId() > self._seen
            ]
            if all(e.completionTime().isDefined() for e in fresh):
                break
            if time.monotonic() > deadline:
                raise TimeoutError("SQL executions did not finish")
            time.sleep(0.02)
        out = []
        for e in fresh:
            eid = e.executionId()
            graph = self._store.planGraph(eid)
            values = self._store.executionMetrics(eid)
            nodes = []
            all_nodes = graph.allNodes()
            for i in range(all_nodes.size()):
                node = all_nodes.apply(i)
                metrics = {}
                ms = node.metrics()
                for j in range(ms.size()):
                    value = values.get(ms.apply(j).accumulatorId())
                    if value.isDefined():
                        metrics[ms.apply(j).name()] = parse_metric(value.get())
                nodes.append(
                    {"id": node.id(), "name": node.name().strip(), "metrics": metrics}
                )
            es = graph.edges()
            edges = [(es.apply(i).fromId(), es.apply(i).toId()) for i in range(es.size())]
            wall = (e.completionTime().get().getTime() - e.submissionTime()) / 1000.0
            out.append(SqlExecution(eid, e.description(), wall, nodes, edges))
            self._seen = max(self._seen, eid)
        return out


def metric_sum(execs: list[SqlExecution], node_re: str, metric: str) -> float:
    return sum(
        n["metrics"].get(metric, 0.0) for e in execs for n in e.named(node_re)
    )


# --------------------------------------------------------------------------
# Spans
# --------------------------------------------------------------------------


class Tracer:
    """Spans kept in memory: name, start, end, parent and the id of the
    execution they belong to.  ``enabled=False`` records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.trace_id = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "trace": self.trace_id,
            "start": time.monotonic(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.monotonic()

    def self_times(self) -> dict[str, list[float]]:
        """Span name -> self time of each span: its duration minus the part
        its children cover (children never overlap: one thread)."""
        child_s = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] += s["end"] - s["start"]
        out: dict[str, list[float]] = {}
        for s in self.spans:
            out.setdefault(s["name"], []).append(
                s["end"] - s["start"] - child_s[s["id"]]
            )
        return out
