"""Measurement plumbing shared by every workload: spans, Spark SQL status
store readings, process-tree memory sampling and sample statistics.

Everything here observes the engine from outside. Spans wrap the benchmark's
own calls into the engine's public functions; node metrics come from Spark's
SQL status store after each action; memory comes from ``/proc``.
"""

from __future__ import annotations

import os
import re
import statistics
import threading
import time
from contextlib import contextmanager


# ---------------------------------------------------------------- statistics

def median(xs):
    return statistics.median(xs) if xs else float("nan")


# -------------------------------------------------------------------- spans

class Tracer:
    """In-memory spans: (name, start, end, parent, op id) plus attributes.

    Disabled tracers hand out a throwaway dict and record nothing, so the
    untraced path pays one branch per call site.
    """

    def __init__(self):
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id = -1

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield {}
            return
        rec = {
            "name": name,
            "op": self.op_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            "attrs": {},
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec["attrs"]
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times_ms(self, root_prefix: str = "") -> dict[str, float]:
        """Total self time per span name: duration minus the part of it
        covered by child spans (children run sequentially, one thread).
        Only trees whose root span name starts with ``root_prefix`` count."""
        child_ms = [0.0] * len(self.spans)
        root = list(range(len(self.spans)))
        for k, s in enumerate(self.spans):
            if s["parent"] is not None:
                child_ms[s["parent"]] += (s["end"] - s["start"]) * 1e3
                root[k] = root[s["parent"]]
        out: dict[str, float] = {}
        for k, (s, c) in enumerate(zip(self.spans, child_ms)):
            if self.spans[root[k]]["name"].startswith(root_prefix):
                dur = (s["end"] - s["start"]) * 1e3
                out[s["name"]] = out.get(s["name"], 0.0) + dur - c
        return out


# ------------------------------------------------------- SQL status store

_UNITS = {
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3,
    "TiB": 1024.0 ** 4,
    "ms": 1.0, "s": 1e3, "m": 60e3, "min": 60e3, "h": 3600e3,
}
_VAL = r"([-\d.,]+)\s*([A-Za-z]*)"
_STATS = re.compile(_VAL + r"\s*\(" + _VAL + r",\s*" + _VAL + r",\s*" + _VAL)


def _num(v: str, unit: str) -> float:
    return float(v.replace(",", "")) * _UNITS.get(unit, 1.0)


def parse_metric(text: str) -> tuple[float, float | None, float | None, float | None]:
    """Status-store metric string -> (total, min, med, max) in bytes/ms/count.

    Forms: ``'200,000'``, ``'17 ms'``, ``'6.4 KiB'`` and the per-task
    ``'total (min, med, max (stageId: taskId))\\n9.4 KiB (2.3 KiB, ...)'``.
    """
    line = text.strip().splitlines()[-1]
    m = _STATS.match(line)
    if m:
        g = m.groups()
        return (_num(g[0], g[1]), _num(g[2], g[3]), _num(g[4], g[5]),
                _num(g[6], g[7]))
    m = re.match(_VAL, line)
    return (_num(m.group(1), m.group(2)) if m else 0.0), None, None, None


class StatusStore:
    """Reads finished SQL executions from
    ``spark._jsparkSession.sharedState().statusStore()``."""

    def __init__(self, spark):
        self._store = spark._jsparkSession.sharedState().statusStore()
        self.last_id = self._max_id()

    def _max_id(self) -> int:
        ex = self._store.executionsList()
        n = ex.size()
        return ex.apply(n - 1).executionId() if n else -1

    def mark(self) -> None:
        self.last_id = self._max_id()

    def new_executions(self, wait_s: float = 5.0) -> list[list[tuple]]:
        """Node metrics of every execution started since the last mark, as
        one list of (node, metric, total, min, med, max) per execution.
        Waits for each execution's end event, which the listener bus posts
        asynchronously after the action returns."""
        out = []
        top = self._max_id()
        deadline = time.monotonic() + wait_s
        for eid in range(self.last_id + 1, top + 1):
            opt = self._store.execution(eid)
            if opt.isEmpty():
                continue
            while opt.get().completionTime().isEmpty() and time.monotonic() < deadline:
                time.sleep(0.01)
                opt = self._store.execution(eid)
            vals = self._store.executionMetrics(eid)
            nodes = self._store.planGraph(eid).allNodes()
            rows = []
            for i in range(nodes.size()):
                node = nodes.apply(i)
                ms = node.metrics()
                for j in range(ms.size()):
                    pm = ms.apply(j)
                    v = vals.get(pm.accumulatorId())
                    if v.isDefined():
                        rows.append((node.name(), pm.name(), *parse_metric(v.get())))
            out.append(rows)
        self.last_id = top
        return out


def node_sum(execs, node: str, metric: str) -> float:
    """Sum of ``metric`` totals over plan nodes whose name contains ``node``."""
    return sum(
        r[2] for rows in execs for r in rows if node in r[0] and r[1] == metric
    )


def task_skew(execs) -> float:
    """max/median task value of the heaviest timed node across executions."""
    best = None
    for rows in execs:
        for r in rows:
            if r[3] is None or r[1] not in (
                "duration", "time to run Python workers", "shuffle write time",
                "time in aggregation build",
            ):
                continue
            if best is None or r[2] > best[2]:
                best = r
    if best is None or not best[4]:
        return 1.0
    return best[5] / best[4]


SPARK_LAYER_METRICS = {
    # per-layer metric -> (plan node name part, status-store metric name)
    "spark.py_worker_start_ms": ("", "time to start Python workers"),
    "spark.py_worker_run_ms": ("", "time to run Python workers"),
    "spark.py_bytes_sent": ("", "data sent to Python workers"),
    "spark.py_bytes_returned": ("", "data returned from Python workers"),
    "spark.shuffle_bytes_written": ("Exchange", "shuffle bytes written"),
    "spark.shuffle_write_ms": ("Exchange", "shuffle write time"),
    "spark.agg_spill_bytes": ("HashAggregate", "spill size"),
    "spark.codegen_ms": ("WholeStageCodegen", "duration"),
}


# --------------------------------------------------------- process memory

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def tree_pss_bytes(pid: int) -> int:
    """Proportional set size summed over ``pid`` and its descendants: pages
    shared by forked Python workers count once across the tree, not once
    per worker as a summed RSS would."""
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def _cpu_ticks(stat_path: str, children: bool) -> int:
    """utime + stime (+ cutime + cstime) from a /proc stat file."""
    try:
        with open(stat_path) as fh:
            stat = fh.read()
    except OSError:
        return 0
    f = stat[stat.rindex(")") + 2:].split()
    return sum(int(v) for v in f[11:15 if children else 13])


class CpuClock:
    """CPU seconds used by this process tree: the driver, the JVM, the
    Python daemon and its workers. A live process counts its own time and
    that of the children it has reaped, so a worker that exits between two
    readings moves into its parent's share and is never lost or counted
    twice. CPU time leaves out the time runnable threads wait for a core or
    lose to the hypervisor (steal), so a busy host inflates it far less
    than wall time; it still rises when neighbours slow the cores down.

    Two sets of threads do not count: ``exclude_tid``, a thread of this
    process (the memory sampler), and the JVM's JIT compiler threads. In a
    run a minute long the JIT is still compiling the engine's hot paths: it
    took over a quarter of the tree's CPU time in the measured loop, in
    bursts whose timing varies from run to run. Its threads are fixed at
    JVM start (``-XX:-UseDynamicNumberOfCompilerThreads``), so none of
    their time is lost to a thread that exits."""

    def __init__(self, exclude_tid: int | None = None):
        pid = os.getpid()
        self.excluded = [] if exclude_tid is None else [f"/proc/{pid}/task/{exclude_tid}/stat"]
        self.jit_threads = 0
        for p in descendants(pid):
            try:
                tids = os.listdir(f"/proc/{p}/task")
            except OSError:
                continue
            for t in tids:
                try:
                    with open(f"/proc/{p}/task/{t}/comm") as fh:
                        name = fh.read()
                except OSError:
                    continue
                if re.match(r"C\d CompilerThre", name):
                    self.excluded.append(f"/proc/{p}/task/{t}/stat")
                    self.jit_threads += 1

    def now(self) -> float:
        pid = os.getpid()
        ticks = sum(_cpu_ticks(f"/proc/{p}/stat", True) for p in [pid, *descendants(pid)])
        ticks -= sum(_cpu_ticks(path, False) for path in self.excluded)
        return ticks * _TICK_S


class MemSampler:
    """Samples this process tree's summed PSS every ``period_s`` seconds on
    a daemon thread and keeps the peak. One sample walks the page tables of
    the pre-touched JVM heap (about 70 ms of kernel time for 2 GiB), so
    sampling faster would take a visible share of a core. ``tid`` is the
    sampling thread's id, so a :class:`CpuClock` can leave it out."""

    def __init__(self, period_s: float = 1.0):
        self.period_s = period_s
        self.peak = 0
        self.tid = None
        self._started = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        pid = os.getpid()
        self.tid = threading.get_native_id()
        self._started.set()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes(pid))
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        self._started.wait()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_pss_bytes(os.getpid()))

