"""In-memory spans and Spark counters for the traced run.

A span records name, start, end, parent and operation id. Spans are kept
in memory and written once when the run ends; a span's self time is its
duration minus the time its child spans cover.

Spark counters come from Spark's own status stores, read right after each
operation (the SQL store keeps only the last ~1000 executions): per SQL
execution the jobs, stages and tasks, and from its plan graph the shuffle
bytes written, broadcast data size, spill size and peak memory. An
execution counts toward every span that was open when it was submitted.
"""

from __future__ import annotations

import re
import threading
import time
from contextlib import contextmanager

COUNTERS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.tasks_failed",
    "spark.shuffle_write_bytes", "spark.broadcast_bytes", "spark.spill_bytes",
    "spark.peak_mem_bytes",
)

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_SIZE = re.compile(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)\b")
_NODE = re.compile(r'label="(?:<br>)?<b>(.*?)</b><br><br>(.*?)"')


def parse_size(text: str) -> int:
    """Spark's formatted size ("6.6 MiB") -> bytes; 0 when there is none."""
    m = _SIZE.search(text)
    if not m:
        return 0
    return int(float(m.group(1).replace(",", "")) * _UNITS[m.group(2)])


def plan_counters(dot: str) -> dict[str, int]:
    """Byte counters from a plan graph rendered by ``makeDotFile``. Each
    node label holds ``name: value`` items, or for a multi-task metric
    ``name total (min, med, max ...)`` followed by ``total (...)``."""
    out = dict.fromkeys(COUNTERS[4:], 0)
    for node, body in _NODE.findall(dot):
        items = body.split("<br>")
        for i, item in enumerate(items):
            if " total (" in item:
                name, value = item.split(" total (", 1)[0], items[i + 1] if i + 1 < len(items) else ""
            elif ": " in item:
                name, value = item.split(": ", 1)
            else:
                continue
            key = _metric_key(node, name)
            if key:
                out[key] += parse_size(value)
    return out


class SparkCounters:
    """Reads executions from ``sharedState().statusStore()``; works with
    ``spark.ui.enabled=false``."""

    def __init__(self, spark):
        self.spark = spark
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._tracker = spark.sparkContext.statusTracker()._jtracker
        #: execution id -> (submission time in epoch ms, counters)
        self.by_exec: dict[int, tuple[int, dict[str, int]]] = {}
        self._last = -1

    def collect_new(self) -> None:
        """Record every execution not seen yet (newest ~1000 retained)."""
        n = self._store.executionsCount()
        batch = 16
        while True:
            start = max(0, n - batch)
            execs = self._store.executionsList(start, n - start)
            ids = [execs.apply(i).executionId() for i in range(n - start)]
            if start == 0 or min(ids) <= self._last or batch >= 1024:
                break
            batch *= 2
        for i, eid in enumerate(ids):
            if eid > self._last:
                e = execs.apply(i)
                self.by_exec[eid] = (e.submissionTime(), self._one(e))
        self._last = max([self._last, *ids])

    def _one(self, e) -> dict[str, int]:
        c = dict.fromkeys(COUNTERS, 0)
        c["spark.jobs"] = e.jobs().size()
        stages = [int(x) for x in e.stages().mkString(",").split(",") if x]
        c["spark.stages"] = len(stages)
        for sid in stages:
            info = self._tracker.getStageInfo(sid)
            if info is not None:
                c["spark.tasks"] += info.numCompletedTasks()
                c["spark.tasks_failed"] += info.numFailedTasks()
        eid = e.executionId()
        dot = self._store.planGraph(eid).makeDotFile(self._store.executionMetrics(eid))
        c.update(plan_counters(dot))
        return c

    def held_bytes(self) -> int:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos)


def _metric_key(node_name: str, metric: str) -> str | None:
    if metric == "shuffle bytes written":
        return "spark.shuffle_write_bytes"
    if metric == "data size" and node_name.startswith("BroadcastExchange"):
        return "spark.broadcast_bytes"
    if metric == "spill size":
        return "spark.spill_bytes"
    if metric == "peak memory":
        return "spark.peak_mem_bytes"
    return None


class Tracer:
    """Span recorder. With ``enabled=False`` every method is a no-op, so
    the untraced run pays one attribute check per boundary."""

    def __init__(self, enabled: bool, spark):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op: str | None = None
        self.counters = SparkCounters(spark) if enabled else None
        self.held_max = 0
        #: time spent recording spans and reading counters: the work a
        #: traced run does on top of an untraced one
        self.overhead_s = 0.0
        self._stack: list[int] = []
        self._lock = threading.Lock()
        #: perf_counter -> epoch seconds, to match Spark's submission times
        self._epoch = time.time() - time.perf_counter()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        with self._lock:
            rec = {"id": len(self.spans), "name": name,
                   "parent": self._stack[-1] if self._stack else None,
                   "op": self.op, **attrs}
            self.spans.append(rec)
            self._stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            with self._lock:
                self._stack.pop()
            self.overhead_s += time.perf_counter() - rec["end"]

    def after_op(self) -> None:
        """Read Spark's stores right after an operation, while the
        executions it ran are still retained."""
        if not self.enabled:
            return
        t0 = time.perf_counter()
        self.counters.collect_new()
        self.held_max = max(self.held_max, self.counters.held_bytes())
        self.overhead_s += time.perf_counter() - t0

    # -- aggregation -------------------------------------------------------
    def self_times(self) -> dict[int, float]:
        """span id -> duration minus the union of its children's time."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out = {}
        for s in self.spans:
            covered, edge = 0.0, s["start"]
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], edge), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    edge = hi
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def counters_of(self, span: dict) -> dict[str, int]:
        """Counters of the executions submitted while ``span`` was open."""
        tot = dict.fromkeys(COUNTERS, 0)
        if not self.counters:
            return tot
        lo, hi = 1000 * (span["start"] + self._epoch), 1000 * (span["end"] + self._epoch)
        for submitted, c in self.counters.by_exec.values():
            if lo <= submitted <= hi:
                for k, v in c.items():
                    tot[k] += v
        return tot
