"""Spans and Spark counters for the traced run (`--trace 1`).

Spans are recorded from the benchmark's own files, around its calls into
the engine's public functions; nothing inside the package is patched.
Counters come from three places outside the package:

- the Spark status store: jobs, stages, tasks, GC, shuffle and spill, and
  the SQL metrics of parquet scan and Python-worker nodes, taken from the
  final (adaptive) plan of every SQL execution; streaming micro-batches
  included,
- the phase tracker of the action the benchmark ran,
- a session StreamingQueryListener (micro-batch progress).

All of it is kept in memory and written out once, when the run ends.
"""

from __future__ import annotations

import json
import re
import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

# QueryPlanningTracker phase -> metric.
PLAN_PHASES = {
    "parsing": "plan.parse_ms",
    "analysis": "plan.analysis_ms",
    "optimization": "plan.optimization_ms",
    "planning": "plan.planning_ms",
}
# metric -> StageData fields summed into it
_STAGE_FIELDS = {
    "exec.tasks": ("numCompleteTasks",),
    "exec.failed_tasks": ("numFailedTasks",),
    "exec.gc_ms": ("jvmGcTime",),
    "exec.shuffle_read_bytes": ("shuffleReadBytes",),
    "exec.shuffle_write_bytes": ("shuffleWriteBytes",),
    "exec.spill_bytes": ("memoryBytesSpilled", "diskBytesSpilled"),
}
# SQL metric display names, as the status store lists them, per kind of
# plan node.  Parquet scans are named "Scan parquet ..." (batch and
# micro-batch file sources alike).  On Python-worker nodes (MapInArrow,
# ArrowEvalPython, FlatMapGroupsInPandasWithState, ...) "number of output
# rows" counts the rows the workers returned.
_SCAN_NODE = "Scan parquet"
_SCAN_METRICS = {
    "scan time": "io.scan_ms",
    "size of files read": "io.file_bytes",
    "number of output rows": "io.rows",
}
_PY_NODE_MARKS = ("Python", "Pandas", "Arrow")
_PY_METRICS = {
    "time to run Python workers": "py.total_ms",
    "time to start Python workers": "py.boot_ms",
    "time to initialize Python workers": "py.init_ms",
    "data sent to Python workers": "py.bytes_sent",
    "data returned from Python workers": "py.bytes_received",
    "number of output rows": "py.rows_received",
}
_UNITS = {
    "ms": 1.0, "s": 1e3, "min": 6e4, "h": 3.6e6, "ns": 1e-6,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}
_VALUE = re.compile(r"^(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_metric_text(text: str) -> float:
    """Number behind a status-store metric string.

    Values read '60,000', '836.5 KiB', '2.1 s', or, for metrics summed over
    several tasks, 'total (min, med, max ...)\\n181 ms (57 ms, ...)'.
    Sizes come back in bytes and times in milliseconds.
    """
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.match(line.strip())
    if not m:
        return 0.0
    number = float(m.group(1).replace(",", ""))
    return number * _UNITS.get(m.group(2), 1.0)


class Tracer:
    """Span recorder; every method is a no-op when tracing is off."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self, ops: set[int] | None = None) -> dict[str, float]:
        """Seconds per span name, minus the time its child spans cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = defaultdict(float)
        for i, s in enumerate(self.spans):
            if ops is None or s["op"] in ops:
                out[s["name"]] += s["end"] - s["start"] - child[i]
        return dict(out)

    def durations(self, name: str, ops: set[int]) -> list[float]:
        return [
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and s["op"] in ops
        ]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class StreamTap(StreamingQueryListener):
    """Session listener summing micro-batch progress into counters."""

    def __init__(self) -> None:
        self.counts: dict[str, float] = defaultdict(float)

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        c = self.counts
        c["stream.batches"] += 1
        c["stream.input_rows"] += p.numInputRows
        if p.numInputRows > 0:
            c["stream.data_batches"] += 1
        c["stream.trigger_ms"] += (p.durationMs or {}).get("triggerExecution", 0)
        for op in p.stateOperators or ():
            c["stream.state_commit_ms"] += op.commitTimeMs
            c["stream.state_rows"] += op.numRowsTotal

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class SparkCounters:
    """Per-op deltas of the status store's job, stage and SQL counters."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._bus = self._jsc.listenerBus()
        self._last_job = -1
        self._new_job_ids()
        self._next_exec = 0
        for _ in self._new_executions():
            pass

    def _new_job_ids(self) -> list[int]:
        """Jobs started since the previous call, whatever their job group:
        Structured Streaming runs each micro-batch's jobs in a group named
        after the query's run id."""
        it = self._store.jobsList(None).iterator()  # newest job first
        new = []
        while it.hasNext():
            jid = it.next().jobId()
            if jid <= self._last_job:
                break
            new.append(jid)
        if new:
            self._last_job = new[0]
        return new

    def _new_executions(self):
        """SQL executions recorded since the previous call (ids are dense)."""
        while True:
            data = self._sql.execution(self._next_exec)
            if data.isEmpty():
                return
            self._next_exec += 1
            yield data.get()

    def persisted_rdds(self) -> int:
        return int(self._sc._jsc.getPersistentRDDs().size())

    def drain(self) -> None:
        """Wait until every listener, the status store's included, has seen
        the events posted so far."""
        self._bus.waitUntilEmpty()

    def read(self) -> dict[str, float]:
        """Counters accumulated since the previous call."""
        self.drain()
        out: dict[str, float] = defaultdict(float)
        new_jobs = self._new_job_ids()
        out["exec.jobs"] = len(new_jobs)
        stages = set()
        for jid in new_jobs:
            info = self._sc.statusTracker().getJobInfo(jid)
            if info is not None:
                stages.update(info.stageIds)
        for sid in stages:
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # evicted from the store, or never submitted
                continue
            if str(st.status().toString()) == "SKIPPED":
                continue
            for name, fields in _STAGE_FIELDS.items():
                out[name] += sum(getattr(st, f)() for f in fields)
        for data in self._new_executions():
            self._add_node_metrics(data, out)
        return out

    def _add_node_metrics(self, data, out) -> None:
        """Scan and Python-worker metrics of one SQL execution's plan."""
        eid = data.executionId()
        wanted = {}
        nodes = self._sql.planGraph(eid).allNodes()
        for i in range(nodes.size()):
            node = nodes.apply(i)
            name = node.name()
            if name.startswith(_SCAN_NODE):
                names = _SCAN_METRICS
            elif any(t in name for t in _PY_NODE_MARKS):
                names = _PY_METRICS
            else:
                continue
            metrics = node.metrics()
            for j in range(metrics.size()):
                m = metrics.apply(j)
                if m.name() in names:
                    wanted[m.accumulatorId()] = names[m.name()]
        if not wanted:
            return
        values = self._sql.executionMetrics(eid)
        for acc, name in wanted.items():
            v = values.get(acc)
            if v.isDefined():
                out[name] += parse_metric_text(v.get())


def plan_counters(df) -> dict[str, float]:
    """Phase times of the plan `df`'s last action ran."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for phase, name in PLAN_PHASES.items():
        opt = phases.get(phase)
        if opt.isDefined():
            out[name] = opt.get().durationMs()
    return out
