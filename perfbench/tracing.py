"""In-memory spans around the benchmark's calls into the engine, plus
the per-plan-node counters Spark keeps for each SQL execution.

A span is (name, start, end, parent, run id). Spans are kept in memory
and written out once, when the run ends. A span opened with
`collect=True` reads, after its end time is taken, every SQL execution
Spark finished since the previous collection from the status store
(which works with `spark.ui.enabled=false`) and attaches the parsed
node metrics to itself, or to the span registered under the
execution's description (a DAG job's `setJobGroup` description). The
JVM's code-generation compile time since the previous collection is
attached to the collecting span.

`NullTracer` has the same interface and records nothing, so the timed
code path is the same with tracing on and off.
"""

from __future__ import annotations

import itertools
import json
import re
import threading
import time
from contextlib import contextmanager

# Spark SQL metric name -> (per-layer metric, how executions combine)
NODE_METRICS = {
    "scan time": ("io.scan_s", "sum"),
    "size of files read": ("io.scan_bytes", "sum"),
    "number of files read": ("io.files_read", "sum"),
    "metadata time": ("io.metadata_s", "sum"),
    "shuffle bytes written": ("operators.shuffle_bytes", "sum"),
    "shuffle records written": ("operators.shuffle_records", "sum"),
    "shuffle write time": ("operators.shuffle_write_s", "sum"),
    "fetch wait time": ("operators.fetch_wait_s", "sum"),
    "time in aggregation build": ("operators.agg_build_s", "sum"),
    "sort time": ("operators.sort_s", "sum"),
    "time to build": ("operators.broadcast_build_s", "sum"),
    # WholeStageCodegenExec's "duration": time spent running each fused
    # pipeline (it overlaps scan, aggregation and sort time)
    "duration": ("operators.wscg_pipeline_s", "sum"),
    "spill size": ("operators.spill_bytes", "sum"),
    "peak memory": ("operators.peak_mem_bytes", "max"),
    "time to start Python workers": ("operators.python_start_s", "sum"),
    "time to initialize Python workers": ("operators.python_init_s", "sum"),
    "time to run Python workers": ("operators.python_run_s", "sum"),
    "data sent to Python workers": ("operators.python_bytes_sent", "sum"),
    "data returned from Python workers": ("operators.python_bytes_returned", "sum"),
}

# seconds the JVM spent compiling generated code, read from
# CodeGenerator's own counter (nanoseconds, whole JVM: local mode runs
# the executors in the driver JVM)
CODEGEN_KEY = "operators.codegen_s"
_HOW = {key: how for key, how in NODE_METRICS.values()}

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
}
_VALUE = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")
_SEP = "\u0001"


def parse_metric(text: str) -> float:
    """A status-store metric string as a number in base units (s, B,
    count). Multi-task values read 'total (min, med, max ...)\\n<total>
    (...)'; the total is the first figure of the last line."""
    line = text.rsplit("\n", 1)[-1]
    m = _VALUE.match(line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2), 1.0)


class NullTracer:
    enabled = False

    @contextmanager
    def span(self, name: str, collect: bool = False, parent=None, desc: str | None = None, **attrs):
        yield {}


class Tracer:
    enabled = True

    def __init__(self, spark, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self.collect_s = 0.0
        self._spark = spark
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._seen = self._store.executionsCount()
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._by_desc: dict[str, dict] = {}
        self._codegen = spark._jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self._compiled_ns = self._codegen.compileTime()

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, collect: bool = False, parent=None, desc: str | None = None, **attrs):
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1]["id"]
        sp = {"id": next(self._ids), "name": name, "parent": parent, "run": self.run_id,
              "start": time.perf_counter(), "end": None, "attrs": attrs, "spark": []}
        if desc is not None:
            with self._lock:
                self._by_desc[desc] = sp
        stack.append(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(sp)
            if collect:
                self._collect(sp)

    def _collect(self, owner: dict) -> None:
        t0 = time.perf_counter()
        with self._lock:
            count = self._store.executionsCount()
            if count > self._seen:
                execs = self._store.executionsList(self._seen, count - self._seen)
                for i in range(execs.size()):
                    rec = self._read(execs.apply(i))
                    self._by_desc.get(rec["desc"], owner)["spark"].append(rec)
                self._seen = count
            self._by_desc.clear()
            compiled = self._codegen.compileTime()
            owner["spark"].append({"id": None, "desc": None, "jobs": 0, "tasks": 0,
                                   "metrics": {CODEGEN_KEY: (compiled - self._compiled_ns) / 1e9}})
            self._compiled_ns = compiled
        self.collect_s += time.perf_counter() - t0

    def _read(self, e) -> dict:
        eid = e.executionId()
        # the status store is fed by the listener bus, so the end event
        # of an execution that just returned may still be in flight
        deadline = time.perf_counter() + 2.0
        while time.perf_counter() < deadline:
            cur = self._store.execution(eid)
            if cur.isDefined() and cur.get().completionTime().isDefined():
                e = cur.get()
                break
            time.sleep(0.005)
        names = {}
        for m in e.metrics().mkString(_SEP).split(_SEP):
            if m.startswith("SQLPlanMetric("):
                name, acc, _ = m[len("SQLPlanMetric("):-1].rsplit(",", 2)
                names[acc] = name
        metrics: dict[str, float] = {}
        raw = self._store.executionMetrics(eid).mkString(_SEP)
        for kv in raw.split(_SEP) if raw else ():
            acc, _, text = kv.partition(" -> ")
            target = NODE_METRICS.get(names.get(acc, ""))
            if target is None:
                continue
            key, how = target
            v = parse_metric(text)
            metrics[key] = max(metrics.get(key, 0.0), v) if how == "max" else metrics.get(key, 0.0) + v
        stages = [int(s) for s in e.stages().mkString(_SEP).split(_SEP) if s]
        tracker = self._spark.sparkContext.statusTracker()
        tasks = 0
        for sid in stages:
            info = tracker.getStageInfo(sid)
            tasks += info.numTasks if info is not None else 0
        return {"id": eid, "desc": e.description(), "jobs": e.jobs().size(),
                "tasks": tasks, "metrics": metrics}

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans}, f)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds per layer that a span spent outside its child spans
    (children are clipped to the parent and overlaps merged, so
    concurrent DAG jobs are not counted twice against the DAG span)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        covered, cur_end = 0.0, s["start"]
        for a, b in sorted(kids.get(s["id"], [])):
            a, b = max(a, cur_end), min(b, s["end"])
            if b > a:
                covered += b - a
                cur_end = b
        layer = s["name"].split(".", 1)[0]
        out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]) - covered
    return out


def spark_totals(spans: list[dict]) -> dict[str, float]:
    """Node metrics, jobs and tasks summed over every execution
    attached to `spans` ("max" metrics take the maximum)."""
    out: dict[str, float] = {key: 0.0 for key in [*_HOW, CODEGEN_KEY]}
    out["operators.jobs"] = 0.0
    out["operators.tasks"] = 0.0
    for s in spans:
        for rec in s["spark"]:
            out["operators.jobs"] += rec["jobs"]
            out["operators.tasks"] += rec["tasks"]
            for key, v in rec["metrics"].items():
                out[key] = max(out[key], v) if _HOW.get(key) == "max" else out[key] + v
    return out
