"""Tracing for the benchmark's traced runs: in-memory spans around the
program's public calls, and Spark counters scoped to one operation by
job group.

Spans are kept in memory and written once at the end of a run. Spark
counters are read right after each operation from the jobs of that
operation's job group, never as deltas of global totals: the status
store drops old jobs and stages once its retention wraps, so a global
delta can go negative.
"""

from __future__ import annotations

import itertools
import re
import threading
import time
from contextlib import contextmanager

_PY_METRIC_RE = re.compile(
    r"SQLPlanMetric\(data (?:sent to|returned from) Python workers,(\d+),"
)
_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_SIZE_RE = re.compile(r"^\s*([0-9.,]+)\s*(B|KiB|MiB|GiB|TiB)\b")

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "run_s",
    "cpu_s",
    "gc_s",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "spill_mb",
    "python_mb",
    "plan_s",
)


def _size_bytes(text: str) -> float:
    """Bytes of a formatted SQL size metric ("total (min, med, max)\\n
    8.8 KiB (2.2 KiB, ...)"): the total is the first size after the
    header line."""
    body = text.split("\n", 1)[-1]
    m = _SIZE_RE.match(body)
    if m is None:
        raise ValueError(f"unparsed size metric: {text!r}")
    return float(m.group(1).replace(",", "")) * _SIZE_UNITS[m.group(2)]


class PlanListener:
    """A py4j-implemented ``QueryExecutionListener``: records the
    optimization and planning phases of every QueryExecution that ran,
    which is the sink's own QueryExecution, not the handle the program
    returned."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._plan_ms = 0.0

    def take_plan_s(self) -> float:
        with self._lock:
            ms, self._plan_ms = self._plan_ms, 0.0
        return ms / 1000.0

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java API)
        phases = qe.tracker().phases()
        ms = 0.0
        for phase in ("optimization", "planning"):
            opt = phases.get(phase)
            if opt.isDefined():
                summary = opt.get()
                ms += summary.endTimeMs() - summary.startTimeMs()
        with self._lock:
            self._plan_ms += ms

    def onFailure(self, func_name, qe, exception):  # noqa: N802 (Java API)
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer:
    """Spans plus per-operation Spark counters for one traced run."""

    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._stack: list[int] = []
        self._span_ids = itertools.count(1)
        self._op_ids = itertools.count(1)
        self._op: str | None = None
        ensure_callback_server_started(self.sc._gateway)
        self._listener = PlanListener()
        spark._jsparkSession.listenerManager().register(self._listener)
        self._status = self.sc._jsc.sc().statusStore()
        self._sql_status = spark._jsparkSession.sharedState().statusStore()
        self._no_quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 0)

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": next(self._span_ids),
            "name": name,
            "op": self._op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
        }
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)

    @contextmanager
    def operation(self, kind: str, name: str):
        """One query invocation or statement: a root span whose Spark
        jobs run under their own job group; the counters of that group
        are read as soon as the operation ends."""
        op_id = f"op{next(self._op_ids)}"
        group = f"perfbench-{op_id}"
        self._op = op_id
        self._bus_drain()
        self._listener.take_plan_s()
        gc0 = self._gc_s()
        self.sc.setJobGroup(group, f"{kind}:{name}")
        try:
            with self.span(kind) as root:
                root["what"] = name
                yield root
        finally:
            self.sc._jsc.clearJobGroup()
            self._op = None
            self._bus_drain()
            counters = self._counters(group)
            counters["plan_s"] = self._listener.take_plan_s()
            counters["gc_s"] = self._gc_s() - gc0
            self.ops.append({"op": op_id, "kind": kind, "name": name, **counters})

    def _gc_s(self) -> float:
        """GC time of the whole JVM so far. In local mode the driver and
        the executor threads share it, so this includes the driver-side
        GC that executor task metrics leave out."""
        beans = self.sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1e3

    def _bus_drain(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _counters(self, group: str) -> dict:
        tracker = self.sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(group)
        stage_ids: set[int] = set()
        exec_ids: set[int] = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
            sql_id = self._status.jobWithAssociatedSql(jid)._2()
            if sql_id.isDefined():
                exec_ids.add(sql_id.get())
        c = dict.fromkeys(COUNTERS, 0.0)
        c["jobs"] = len(job_ids)
        for sid in stage_ids:
            attempts = self._status.stageData(sid, False, None, False, self._no_quantiles)
            for i in range(attempts.size()):
                sd = attempts.apply(i)
                if sd.status().toString() == "SKIPPED":
                    continue
                c["stages"] += 1
                c["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                c["run_s"] += sd.executorRunTime() / 1e3
                c["cpu_s"] += sd.executorCpuTime() / 1e9
                c["shuffle_read_mb"] += sd.shuffleReadBytes() / 2**20
                c["shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
                c["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 2**20
        for eid in exec_ids:
            c["python_mb"] += self._python_bytes(eid) / 2**20
        for key, value in c.items():
            if value < 0:
                raise AssertionError(f"negative Spark counter {key}={value} in {group}")
        return c

    def _python_bytes(self, execution_id: int) -> float:
        execution = self._sql_status.execution(execution_id)
        if not execution.isDefined():
            return 0.0
        # One py4j call for the plan's metric list instead of two per metric.
        listed = execution.get().metrics().toString()
        ids = [int(m.group(1)) for m in _PY_METRIC_RE.finditer(listed)]
        if not ids:
            return 0.0
        values = self._sql_status.executionMetrics(execution_id)
        total = 0.0
        for acc_id in ids:
            v = values.get(acc_id)
            if v.isDefined():
                total += _size_bytes(v.get())
        return total

    def gauges(self) -> dict:
        """Live persisted RDDs and cached bytes, read between operations."""
        jsc = self.sc._jsc
        cached = sum(i.memSize() + i.diskSize() for i in jsc.sc().getRDDStorageInfo())
        return {
            "persisted_rdds": jsc.getPersistentRDDs().size(),
            "cached_mb": cached / 2**20,
        }

    def layer_totals(self, first_op: int, kind: str, build: str, sink: str, cores: int) -> dict:
        """Per-layer totals over the ``kind`` operations from
        ``self.ops[first_op]`` on. ``build`` and ``sink`` name the spans
        around the program's call that builds an operation's work and
        the call that runs it to its output. The wall is the sum of the
        operations' root spans, which leaves out everything the benchmark
        does between operations, such as reading these counters."""
        ops = [o for o in self.ops[first_op:] if o["kind"] == kind]
        op_ids = {o["op"] for o in ops}
        spans = [s for s in self.spans if s["op"] in op_ids]

        def span_s(pred) -> float:
            return sum(s["end"] - s["start"] for s in spans if pred(s))

        out = {f"exec.{k}": sum(o[k] for o in ops) for k in COUNTERS}
        out["wall_s"] = span_s(lambda s: s["parent"] is None)
        out["op.build_s"] = span_s(lambda s: s["name"] == build)
        out["op.sink_s"] = span_s(lambda s: s["name"] == sink)
        out["exec.slot_util"] = out["exec.run_s"] / (out["wall_s"] * cores)
        gauges = self.gauges()
        out["sparkutil.persisted_rdds"] = gauges["persisted_rdds"]
        out["sparkutil.cached_mb"] = gauges["cached_mb"]
        return out

    def self_times(self) -> dict[str, dict[str, float]]:
        """Per span name: total and self seconds, where self time is a
        span's duration minus the time its direct children cover."""
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            dur = s["end"] - s["start"]
            agg = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
            agg["count"] += 1
            agg["total_s"] += dur
            agg["self_s"] += dur - child_s.get(s["id"], 0.0)
        return out
