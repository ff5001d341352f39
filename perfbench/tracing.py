"""Benchmark-side tracing, measured from outside the program.

A span wraps one call into a layer's public functions. While tracing is on,
each span tags its Spark jobs with its own job group; on exit it reads the
group's jobs and stages from the status tracker and the status store (which
work with ``spark.ui.enabled=false``). After each action the benchmark
hands the materialized DataFrame to ``Tracer.plan`` which walks the executed
plan, through ``AdaptiveSparkPlan`` and its query stages, for the SQL
metrics of Python UDF nodes, exchanges and aggregates. Streaming queries
are read from their ``StreamingQueryProgress`` list.

With tracing off every hook returns at once, so the untraced run times the
program alone.
"""

import json
import os
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

_CLK_TCK = os.sysconf("SC_CLK_TCK")

# Python UDF node metrics (Spark 4.1 PythonSQLMetrics); timings are in ms
_PY_TIME = ("pythonTotalTime", "pythonBootTime", "pythonInitTime")
_PY_SIZE = ("pythonDataSent", "pythonDataReceived", "pythonNumRowsReceived")


# --- process tree ----------------------------------------------------------

def _proc_table() -> dict:
    """pid -> (ppid, cpu seconds incl. reaped children, comm)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        comm = raw[raw.index("(") + 1 : raw.rindex(")")]
        fields = raw[raw.rindex(")") + 2 :].split()
        ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        out[int(name)] = (int(fields[1]), ticks / _CLK_TCK, comm)
    return out


def _descendants(table: dict, root: int) -> list:
    kids: dict = {}
    for pid, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every live descendant
    (the JVM and its Python workers), including reaped children."""
    table = _proc_table()
    return sum(table[p][1] for p in _descendants(table, os.getpid()) if p in table)


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def driver_rss_peak_mb() -> float:
    """Peak resident set of the driver Python process plus the JVM."""
    table = _proc_table()
    jvms = [p for p in _descendants(table, os.getpid()) if table.get(p, (0, 0, ""))[2] == "java"]
    return _hwm_mb(os.getpid()) + sum(_hwm_mb(p) for p in jvms)


# --- spans -----------------------------------------------------------------

class Tracer:
    """Collects spans for one run. ``enabled`` is switched per iteration so
    that traced and untraced iterations can alternate in one session.

    While an iteration runs, a span only records its times and keeps
    references to the job groups, executed plans and streaming queries it
    saw; ``finish_iteration`` reads their metrics once the iteration's wall
    time has been taken."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.enabled = False
        self.spans: list = []
        self._stack: list = []
        self._pending: list = []
        self._iteration = 0
        self._jvm = spark._jvm
        self._conv = self._jvm.scala.jdk.javaapi.CollectionConverters

    def begin_iteration(self, it: int, enabled: bool) -> None:
        self.enabled = enabled
        self._iteration = it

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        group = f"perfbench-{os.getpid()}-{len(self.spans)}"
        rec = {
            "id": len(self.spans),
            "iteration": self._iteration,
            "name": name,
            "parent": parent["id"] if parent else None,
            "groups": [group],
            "counts": {},
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["groups"][0], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def count(self, key: str, value: float, rec: dict | None = None) -> None:
        """Add a count to `rec`, by default the innermost open span."""
        if rec is None:
            if not (self.enabled and self._stack):
                return
            rec = self._stack[-1]
        rec["counts"][key] = rec["counts"].get(key, 0) + value

    def _level(self, key: str, value: float, rec: dict) -> None:
        rec["counts"][key] = max(rec["counts"].get(key, 0), value)

    def plan(self, df) -> None:
        """Note the executed plan of an already-materialized DataFrame."""
        if self.enabled and self._stack:
            self._pending.append(("plan", self._stack[-1], df._jdf.queryExecution()))

    def stream(self, query) -> None:
        """Note a finished streaming query: its progress, its last
        micro-batch plan and its jobs (a stream runs them under its run id)."""
        if self.enabled and self._stack:
            self._stack[-1]["groups"].append(str(query.runId))
            self._pending.append(("stream", self._stack[-1], query))

    # --- reading the metrics ---------------------------------------------------

    def finish_iteration(self) -> None:
        if not self.enabled:
            return
        jsc = self.sc._jsc.sc()
        # the status store is fed asynchronously by the listener bus
        jsc.listenerBus().waitUntilEmpty()
        for rec in self.spans:
            if rec["iteration"] == self._iteration:
                self._read_jobs(rec, jsc.statusStore())
        seen: set = set()
        for kind, rec, obj in self._pending:
            if kind == "plan":
                self._walk(obj.executedPlan(), rec, seen)
            else:
                self._read_stream(obj, rec, seen)
        self._pending = []

    def _read_jobs(self, rec: dict, store) -> None:
        tracker = self.sc.statusTracker()
        jobs = [j for g in rec["groups"] for j in tracker.getJobIdsForGroup(g)]
        stages = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        self.count("plan.jobs", len(jobs), rec)
        for s in stages:
            try:
                sd = store.lastStageAttempt(s)
            except Py4JJavaError:  # stage evicted from the store: nothing to add
                continue
            if sd.status().toString() not in ("COMPLETE", "FAILED"):
                continue  # skipped: its output was reused, nothing ran
            self.count("plan.stages", 1, rec)
            self.count("plan.tasks", sd.numTasks(), rec)
            self.count("plan.failed_tasks", sd.numFailedTasks(), rec)
            self.count("plan.shuffle_bytes", sd.shuffleWriteBytes(), rec)
            self.count("plan.spill_bytes", sd.memoryBytesSpilled() + sd.diskBytesSpilled(), rec)
            self.count("plan.executor_cpu_s", sd.executorCpuTime() / 1e9, rec)

    def _walk(self, node, rec: dict, seen: set) -> None:
        """Executed-plan walk through AdaptiveSparkPlan, its query stages and
        the plans of persisted frames; `seen` keeps a plan that several
        actions share from being counted twice."""
        ident = self._jvm.System.identityHashCode(node)
        if ident in seen:
            return
        seen.add(ident)
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            self._walk(node.executedPlan(), rec, seen)
            return
        if cls.endswith("QueryStageExec"):
            self._walk(node.plan(), rec, seen)
            return
        if cls == "ReusedExchangeExec":
            return  # counted where the exchange first ran
        if cls == "InMemoryTableScanExec":
            # a persisted frame: its plan ran once, when the cache was built
            self._walk(node.relation().cachedPlan(), rec, seen)
        if "Python" in cls or "Pandas" in cls or "Arrow" in cls:
            metrics = self._conv.asJava(node.metrics())
            keys = set(metrics.keySet())
            if "pythonNumRowsReceived" in keys:
                v = {k: metrics[k].value() for k in _PY_TIME + _PY_SIZE if k in keys}
                self.count("functions.python_s", v.get("pythonTotalTime", 0) / 1e3, rec)
                self.count(
                    "functions.python_boot_s",
                    (v.get("pythonBootTime", 0) + v.get("pythonInitTime", 0)) / 1e3, rec,
                )
                self.count("functions.bytes_to_python", v.get("pythonDataSent", 0), rec)
                self.count("functions.bytes_from_python", v.get("pythonDataReceived", 0), rec)
                self.count("functions.rows_from_python", v.get("pythonNumRowsReceived", 0), rec)
                if cls == "ArrowEvalPythonExec":
                    self.count("functions.scalar_udf_rows", v.get("pythonNumRowsReceived", 0), rec)
                    self.count("functions.scalar_udf_python_s", v.get("pythonTotalTime", 0) / 1e3, rec)
        elif cls == "ShuffleExchangeExec":
            self.count("plan.exchanges", 1, rec)
        elif cls == "BroadcastExchangeExec":
            self.count("plan.broadcast_bytes", node.metrics().apply("dataSize").value(), rec)
        elif "Aggregate" in cls:
            metrics = self._conv.asJava(node.metrics())
            if "peakMemory" in set(metrics.keySet()):
                self._level("plan.agg_peak_mem_bytes", metrics["peakMemory"].value(), rec)
        for child in self._conv.asJava(node.children()):
            self._walk(child, rec, seen)

    def _read_stream(self, query, rec: dict, seen: set) -> None:
        """Per-micro-batch StreamingQueryProgress fields, summed; the Python
        UDF metrics come from the last micro-batch's plan only."""
        for p in query.recentProgress:
            p = p if isinstance(p, dict) else json.loads(p.json)
            d = p.get("durationMs", {})
            self.count("streaming.batches", 1, rec)
            self.count("streaming.batch_s", d.get("triggerExecution", 0) / 1e3, rec)
            self.count("streaming.add_batch_s", d.get("addBatch", 0) / 1e3, rec)
            self.count("streaming.planning_s", d.get("queryPlanning", 0) / 1e3, rec)
            for op in p.get("stateOperators", []):
                self.count("streaming.state_update_s", op.get("allUpdatesTimeMs", 0) / 1e3, rec)
                self.count("streaming.state_commit_s", op.get("commitTimeMs", 0) / 1e3, rec)
                # state size is a level, not a flow
                self._level("streaming.state_rows", op.get("numRowsTotal", 0), rec)
                self._level("streaming.state_bytes", op.get("memoryUsedBytes", 0), rec)
                self._level(
                    "streaming.state_store_instances",
                    op.get("numStateStoreInstances", op.get("numShufflePartitions", 0)), rec,
                )
        last = query._jsq.streamingQuery().lastExecution()
        if last is not None:
            self._walk(last.executedPlan(), rec, seen)

    # --- summaries -----------------------------------------------------------

    _LEVELS = ("state_rows", "state_bytes", "store_instances", "agg_peak_mem_bytes")

    def iteration_summary(self, it: int) -> dict:
        """Span durations (inclusive and self), job counts per span name, and
        counts summed over the spans of one traced iteration."""
        spans = [s for s in self.spans if s["iteration"] == it and "end" in s]
        child_time: dict = {}
        for s in spans:
            if s["parent"] is not None:
                child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict = {}
        for s in spans:
            dur = s["end"] - s["start"]
            s["self_s"] = dur - child_time.get(s["id"], 0.0)
            out[f"{s['name']}_s"] = out.get(f"{s['name']}_s", 0.0) + dur
            out[f"{s['name']}.self_s"] = out.get(f"{s['name']}.self_s", 0.0) + s["self_s"]
            out[f"{s['name']}.jobs"] = out.get(f"{s['name']}.jobs", 0) + s["counts"].get("plan.jobs", 0)
            for k, v in s["counts"].items():
                out[k] = max(out.get(k, 0), v) if k.endswith(self._LEVELS) else out.get(k, 0) + v
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [{k: v for k, v in s.items() if k != "groups"} for s in self.spans],
                f, indent=1,
            )
