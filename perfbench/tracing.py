"""Spans and counters recorded from the benchmark's side of each call.

A :class:`Tracer` keeps spans (name, start, end, parent, run id) and counters
in memory and writes them out once, when the run ends. With tracing off every
method is a no-op, so the untraced path runs the same benchmark code.

:class:`SparkCounters` reads Spark's own counters from outside the program:

- jobs, stages and tasks through ``statusTracker`` under a job group the
  benchmark sets around each call;
- SQL metrics of the executions a call started, read from the SQL status
  store after the action (the final adaptive plan's values, as the UI shows
  them; sizes come back rounded to the UI's precision).
"""

from __future__ import annotations

import itertools
import json
import re
import threading
import time
from contextlib import contextmanager
from typing import Iterator

LAYERS = ("session", "sources", "plans", "exec", "streaming")


class Tracer:
    def __init__(self, enabled: bool, run_id: str) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self.counters: dict[str, float] = {}
        self._ids = itertools.count(1)
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str) -> Iterator[dict | None]:
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        sp = {"id": next(self._ids), "name": name, "parent": stack[-1] if stack else None,
              "run": self.run_id, "start": time.perf_counter(), "end": None}
        stack.append(sp["id"])
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            stack.pop()
            self.spans.append(sp)

    def record(self, name: str, start: float, end: float) -> None:
        """Add a span observed elsewhere (a streaming progress event)."""
        if self.enabled:
            self.spans.append({"id": next(self._ids), "name": name, "parent": None,
                               "run": self.run_id, "start": start, "end": end})

    def add(self, name: str, value: float) -> None:
        if self.enabled:
            self.counters[name] = self.counters.get(name, 0.0) + value

    def total(self, name: str) -> float:
        """Summed duration of the spans called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_times(self) -> dict[str, float]:
        """Per layer: span time minus the part of it its child spans cover."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out = {layer: 0.0 for layer in LAYERS}
        for s in self.spans:
            layer = s["name"].split(".", 1)[0]
            if layer not in out:
                continue
            covered, cur = 0.0, s["start"]
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cur), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cur = hi
            out[layer] += (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: str) -> None:
        if self.enabled:
            with open(path, "w") as f:
                json.dump({"run": self.run_id, "spans": self.spans, "counters": self.counters}, f)


_NUM = re.compile(r"([\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")
_UNIT = {"": 1.0, "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
         "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}


def parse_store_value(text: str) -> float:
    """A status-store metric string ('14,286', '7 ms', 'total (...)\\n58.1 KiB
    (...)') as a number: rows, ms or bytes."""
    m = _NUM.match(text.split("\n")[-1].strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT.get(m.group(2), 1.0)


class SparkCounters:
    """Counter readers over one session (used only by traced runs)."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.conv = self.sc._jvm.scala.jdk.javaapi.CollectionConverters
        self.store = spark._jsparkSession.sharedState().statusStore()
        self._groups = itertools.count()

    @contextmanager
    def group(self, label: str) -> Iterator[str]:
        """Run the body under a fresh job group; yields the group id."""
        gid = f"{label}#{next(self._groups)}"
        self.sc.setJobGroup(gid, label)
        try:
            yield gid
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def jobs(self, gid: str) -> dict[str, int]:
        st = self.sc.statusTracker()
        out = {"jobs": 0, "stages": 0, "tasks": 0}
        for jid in st.getJobIdsForGroup(gid):
            info = st.getJobInfo(jid)
            out["jobs"] += 1
            for sid in info.stageIds if info else ():
                s = st.getStageInfo(sid)
                if s is not None and s.numCompletedTasks > 0:
                    out["stages"] += 1
                    out["tasks"] += s.numCompletedTasks
        return out

    def sql_marker(self) -> int:
        """Position after the SQL executions recorded so far."""
        return self.store.executionsCount()

    def sql_since(self, marker: int, scans: bool = False) -> dict[str, float]:
        """SQL metrics of the executions recorded after ``marker``, summed by
        kind. One string per execution carries its metric names and one its
        values; plan nodes are visited only for Python nodes (their output
        rows share a name with every other node's) and, with ``scans``, for
        file scans."""
        out = dict.fromkeys(("shuffle_bytes", "spill_bytes", "python_rows", "python_bytes",
                             "scan_rows", "scan_ms"), 0.0)
        store = self.store
        n = store.executionsCount()
        for e in self.conv.asJava(store.executionsList(marker, n - marker)):
            eid = e.executionId()
            names = dict(_metric_defs(e.metrics()))
            vals = {int(k): parse_store_value(v) for k, v in
                    (item.split(" -> ", 1) for item in _items(store.executionMetrics(eid)))}
            for acc, name in names.items():
                key = _SUMMED.get(name)
                if key:
                    out[key] += vals.get(acc, 0.0)
            if not (scans or "data sent to Python workers" in names.values()):
                continue
            for node in self.conv.asJava(store.planGraph(eid).allNodes()):
                label = node.name()
                if _PYTHON_NODE.search(label):
                    key = "python_rows"
                elif scans and label.startswith("Scan "):
                    key = "scan"
                else:
                    continue
                for acc, name in _metric_defs(node.metrics()):
                    if name == "number of output rows":
                        out["scan_rows" if key == "scan" else key] += vals.get(acc, 0.0)
                    elif key == "scan" and name == "scan time":
                        out["scan_ms"] += vals.get(acc, 0.0)
        return out


    def stream_batch(self, name: str) -> dict[str, float]:
        """The same sums for the micro-batch the named query is running now,
        read from its plan's live metrics: a ``foreachBatch`` frame only
        scans the batch's result, and the status store drops the stateful
        plan's values, which its jobs report under the sink's execution."""
        out = dict.fromkeys(("shuffle_bytes", "spill_bytes", "python_rows", "python_bytes"), 0.0)
        for q in self.spark.streams.active:
            if q.name == name:
                todo = [q._jsq.streamingQuery().lastExecution().executedPlan()]
                while todo:
                    node = todo.pop()
                    for key, value in _PLAN_METRIC.findall(node.metrics().mkString(_SEP)):
                        if key in _PLAN_SUMMED:
                            out[_PLAN_SUMMED[key]] += int(value)
                    kids = node.children()
                    todo.extend(kids.apply(i) for i in range(kids.size()))
        return out


_PLAN_METRIC = re.compile(r"(\w+) -> SQLMetric\(id: \d+, name: .*?, value: (-?\d+)\)")
_PLAN_SUMMED = {
    "shuffleBytesWritten": "shuffle_bytes",
    "spillSize": "spill_bytes",
    "pythonNumRowsReceived": "python_rows",
    "pythonDataSent": "python_bytes",
    "pythonDataReceived": "python_bytes",
}
_SUMMED = {
    "shuffle bytes written": "shuffle_bytes",
    "spill size": "spill_bytes",
    "data sent to Python workers": "python_bytes",
    "data returned from Python workers": "python_bytes",
}
_PYTHON_NODE = re.compile(r"Python|Pandas|Arrow")
_SEP = "\x01"


def _items(seq) -> list[str]:
    text = seq.mkString(_SEP)
    return text.split(_SEP) if text else []


def _metric_defs(seq) -> list[tuple[int, str]]:
    """(accumulator id, display name) from a Seq of ``SQLPlanMetric``."""
    out = []
    for item in _items(seq):
        name, acc, _ = item[len("SQLPlanMetric("):-1].rsplit(",", 2)
        out.append((int(acc), name))
    return out
