"""Measurement probes that sit outside the engine.

- :class:`ProcTree` reads ``/proc`` for the benchmark's own process tree
  (this Spark driver process, the JVM it launches, the Python workers the JVM
  forks): CPU seconds per process class and the peak summed RSS, sampled
  on a background thread.
- :func:`plan_nodes` walks the executed physical plan of a DataFrame
  after an action and collects the SQL metrics of every node, descending into
  adaptive query stages.
- :class:`Tracer` records spans (name, start, end, parent, run id) in
  memory; they are written once, when the run ends.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[str, int, float, int] | None:
    """(comm, ppid, cpu seconds incl. reaped children, rss bytes)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    f = raw[raw.rindex(")") + 2 :].split()
    # fields after comm: state=0 ppid=1 ... utime=11 stime=12 cutime=13
    # cstime=14 ... rss=21 (pages)
    cpu = (int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])) / _TICK
    return comm, int(f[1]), cpu, int(f[21]) * _PAGE


class ProcTree:
    """CPU and RSS of this process and all of its descendants."""

    CLASSES = ("driver", "jvm", "pyworker")

    def __init__(self, interval_s: float = 0.1):
        self.root = os.getpid()
        self.interval_s = interval_s
        self.peak_rss = 0
        self.window_peak = 0  # peak since the last reset_window()
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _tree(self) -> dict[int, tuple[str, int, float, int]]:
        procs = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    procs[int(name)] = st
        keep, frontier = {}, [self.root]
        children = defaultdict(list)
        for pid, st in procs.items():
            children[st[1]].append(pid)
        while frontier:
            pid = frontier.pop()
            if pid in procs:
                keep[pid] = procs[pid]
                frontier.extend(children.get(pid, ()))
        return keep

    def descendants(self) -> list[int]:
        return [p for p in self._tree() if p != self.root]

    def cpu(self) -> dict[str, float]:
        """Cumulative CPU seconds per class: this process is the driver,
        a ``java`` descendant is the JVM, every other descendant is a
        Python worker (the JVM's pyspark daemon and what it forks)."""
        out = dict.fromkeys(self.CLASSES, 0.0)
        for pid, (comm, _ppid, cpu, _rss) in self._tree().items():
            out[self._class(pid, comm)] += cpu
        return out

    def sample_rss(self) -> int:
        rss = sum(st[3] for st in self._tree().values())
        with self._lock:
            self.window_peak = max(self.window_peak, rss)
            self.peak_rss = max(self.peak_rss, rss)
        return rss

    def reset_window(self) -> None:
        rss = sum(st[3] for st in self._tree().values())
        with self._lock:
            self.window_peak = rss

    def _class(self, pid: int, comm: str) -> str:
        return "driver" if pid == self.root else "jvm" if comm == "java" else "pyworker"

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample_rss()

    def start(self) -> "ProcTree":
        self.sample_rss()
        self._thread = threading.Thread(target=self._loop, name="proc-sampler", daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self.sample_rss()


def cpu_delta(before: dict[str, float], after: dict[str, float]) -> dict[str, float]:
    return {k: after[k] - before[k] for k in before}


def host_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of this machine's CPUs since boot: steal is
    time the hypervisor ran something else while a CPU wanted to run."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


# ---------------------------------------------------------------------------
# executed-plan metrics
# ---------------------------------------------------------------------------

def _node_metrics(node) -> dict[str, int]:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = int(kv._2().value())
    return out


def _walk(node, into_cache: bool, out: list) -> None:
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        _walk(node.executedPlan(), into_cache, out)
        return
    if name.endswith("QueryStageExec"):
        _walk(node.plan(), into_cache, out)
        return
    if name == "ReusedExchangeExec":
        _walk(node.child(), into_cache, out)
        return
    if name == "InMemoryTableScanExec" and into_cache:
        # the DataFrame is itself persisted: its executed plan is one scan
        # of the cache, and the work that filled the cache sits in the
        # relation's own physical plan
        _walk(node.relation().cachedPlan(), False, out)
        return
    out.append((name, _node_metrics(node)))
    ch = node.children()
    for i in range(ch.size()):
        _walk(ch.apply(i), False, out)


def plan_nodes(df, into_cache: bool = False) -> list[tuple[str, dict[str, int]]]:
    """(node class, metrics) for every node of ``df``'s executed plan.

    Call after an action that ran on ``df``'s own QueryExecution
    (``df.collect()`` or ``df._jdf.queryExecution().toRdd().count()``);
    ``df.count()`` plans a different query and leaves these at zero."""
    out: list = []
    _walk(df._jdf.queryExecution().executedPlan(), into_cache, out)
    return out


def summarize(nodes: list[tuple[str, dict[str, int]]], python_node: str = "MapInArrowExec") -> dict:
    """Sums of the metrics the per-layer figures use. Python timers are
    milliseconds summed over tasks; sizes are bytes."""
    s = defaultdict(int)
    for i, (name, m) in enumerate(nodes):
        s["spill_bytes"] += m.get("spillSize", 0)
        if name == "ShuffleExchangeExec":
            s["shuffle_bytes"] += m.get("shuffleBytesWritten", 0)
        if name == python_node:
            s["py_sent"] += m.get("pythonDataSent", 0)
            s["py_received"] += m.get("pythonDataReceived", 0)
            s["py_rows_out"] += m.get("pythonNumRowsReceived", 0)
            s["py_total_ms"] += m.get("pythonTotalTime", 0)
            s["py_boot_ms"] += m.get("pythonBootTime", 0) + m.get("pythonInitTime", 0)
            # rows in = output rows of the nearest descendant that counts them
            for _name, cm in nodes[i + 1 :]:
                if "numOutputRows" in cm:
                    s["py_rows_in"] += cm["numOutputRows"]
                    break
    return dict(s)


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

class Tracer:
    """In-memory span recorder; ``enabled=False`` makes every span a no-op."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name, "run_id": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter() - self._t0, "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    def self_times(self) -> dict[str, float]:
        """Summed self time per span name: duration minus the part of the
        interval covered by child spans."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += (s["end"] - s["start"]) - child[s["id"]]
        return dict(out)

    def write(self, path: str, context: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "context": context,
                       "self_s": self.self_times(), "spans": self.spans}, f, indent=1)
