"""Layer tracing from outside the engine.

Spans are recorded by the benchmark around its calls into the engine's
public functions, around two functions the engine calls internally
(``functions.transpile.to_spark_sql`` and ``plans.recursive.run_recursive_sql``,
by wrapping the module attribute the engine looks up at call time) and around
``SparkSession.sql`` (by wrapping the method on the session object). Counters
come from Spark's public surfaces, read at operation boundaries:

- every operation runs under its own Spark job group;
- ``QueryExecution.tracker().phases()`` gives the Catalyst phase times of the
  result's plan;
- ``CodeGenerator.compileTime`` and ``CodegenMetrics`` give janino compiles;
- the Spark event log (written to the run's temp directory) gives jobs,
  stages, tasks, task metrics, shuffle and spill bytes, Python-worker time
  and streaming progress. Jobs are attributed to an operation by job group,
  and jobs outside any group (streaming micro-batches) by submission time;
  operations run one at a time, so time windows do not overlap.

With tracing off, every method is a no-op and no event log is written.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import functools
import json
import os
import statistics
import time
from dataclasses import dataclass, field

#: Task accumulables that measure Python-worker time, in ms.
PYTHON_WORKER_ACCUMS = (
    "time to start Python workers",
    "time to initialize Python workers",
    "time to run Python workers",
)


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float = 0.0
    parent: int | None = None
    op: str | None = None


@dataclass
class Op:
    op_id: str
    kind: str
    start: float = 0.0
    end: float = 0.0
    counters: dict[str, float] = field(default_factory=dict)
    overhead_s: float = 0.0
    status_jobs: int = 0  # jobs of the op's group, as the status tracker saw them

    def add(self, name: str, value: float) -> None:
        self.counters[name] = self.counters.get(name, 0.0) + value


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.ops: list[Op] = []
        self._stack: list[int] = []
        self._op: Op | None = None
        self._spark = None

    # -- spans ---------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.time(), parent=parent,
                               op=self._op.op_id if self._op else None))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a wrapper that records a span."""
        if not self.enabled:
            return
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    # -- operations ----------------------------------------------------------
    def bind(self, spark) -> None:
        self._spark = spark
        if self.enabled:
            jvm = spark._jvm
            self._codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
            self._compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def _codegen_counts(self) -> tuple[int, int]:
        return self._compiles.getCount(), self._codegen.compileTime()

    @contextlib.contextmanager
    def operation(self, op_id: str, kind: str):
        """Run one operation under its own job group; read the codegen
        counters before and after it. The time spent here and in
        :meth:`plan_phases` is the tracing overhead."""
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        op = Op(op_id, kind)
        self._spark.sparkContext.setJobGroup(op_id, kind)
        n0, ns0 = self._codegen_counts()
        self._op = op
        op.overhead_s += time.perf_counter() - t0
        op.start = time.time()
        try:
            with self.span("op"):
                yield op
        finally:
            op.end = time.time()
            t1 = time.perf_counter()
            self._op = None
            n1, ns1 = self._codegen_counts()
            op.add("codegen.compiles", n1 - n0)
            op.add("codegen.compile_s", (ns1 - ns0) / 1e9)
            op.status_jobs = len(self._spark.sparkContext.statusTracker().getJobIdsForGroup(op_id))
            self._spark.sparkContext.setJobGroup("idle", "between operations")
            self.ops.append(op)
            op.overhead_s += time.perf_counter() - t1

    def plan_phases(self, op: Op | None, df) -> None:
        """Add the Catalyst phase times of ``df``'s executed plan to ``op``."""
        if op is None:
            return
        t0 = time.perf_counter()
        phases = df._jdf.queryExecution().tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            p = phases.get(phase)
            if p.isDefined():
                op.add(f"catalyst.{phase}_s", p.get().durationMs() / 1e3)
        op.overhead_s += time.perf_counter() - t0

    # -- reduction -------------------------------------------------------------
    def self_times(self) -> dict[str, dict[str, float]]:
        """op id -> span name -> self seconds (duration minus children)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, dict[str, float]] = {}
        for i, s in enumerate(self.spans):
            if s.op is None:
                continue
            per = out.setdefault(s.op, {})
            per[s.name] = per.get(s.name, 0.0) + (s.end - s.start) - child[i]
        return out

    def status_jobs_agree(self) -> bool | list[str]:
        """True when the status tracker and the event log count the same jobs
        in every operation's job group, else the ids of the ops that differ."""
        differ = [op.op_id for op in self.ops
                  if op.status_jobs != op.counters.get("scheduler.group_jobs", 0)]
        return differ or True

    def totals(self, name: str) -> dict[str, float]:
        """op id -> summed full duration of spans called ``name``."""
        out: dict[str, float] = {}
        for s in self.spans:
            if s.op is not None and s.name == name:
                out[s.op] = out.get(s.op, 0.0) + s.end - s.start
        return out


def _epoch_ms(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1e3


def read_event_log(log_dir: str, tracer: Tracer) -> None:
    """Attribute the counters of the last application's event log to the
    tracer's operations (adds to each ``Op.counters``)."""
    logs = sorted(os.listdir(log_dir))
    if not logs:
        raise RuntimeError("no Spark event log was written")
    ops = {op.op_id: op for op in tracer.ops}
    windows = [(op.start * 1e3, op.end * 1e3, op) for op in tracer.ops]
    build_windows = [(s.start * 1e3, s.end * 1e3, ops.get(s.op))
                     for s in tracer.spans if s.name == "queries.build"]

    def by_time(ms: float, wins=windows) -> Op | None:
        for lo, hi, op in wins:
            if lo <= ms <= hi:
                return op
        return None

    stage_op: dict[int, Op] = {}
    stage_submit: dict[int, float] = {}
    with open(os.path.join(log_dir, logs[-1])) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                sub = ev["Submission Time"]
                op = ops.get(ev.get("Properties", {}).get("spark.jobGroup.id"))
                if op is not None:
                    op.add("scheduler.group_jobs", 1)
                else:
                    op = by_time(sub)
                if op is None:
                    continue
                op.add("scheduler.jobs", 1)
                builder = by_time(sub, build_windows)
                if builder is not None:
                    builder.add("queries.build_jobs", 1)
                for sid in ev["Stage IDs"]:
                    stage_op.setdefault(sid, op)
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                stage_submit[info["Stage ID"]] = info.get("Submission Time", 0)
            elif kind == "SparkListenerStageCompleted":
                op = stage_op.get(ev["Stage Info"]["Stage ID"])
                if op is not None:
                    op.add("scheduler.stages", 1)
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                op = stage_op.get(sid)
                if op is None:
                    continue
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                op.add("scheduler.tasks", 1)
                op.add("scheduler.failed_tasks", int(ev["Task End Reason"]["Reason"] != "Success"))
                op.add("scheduler.task_wait_s",
                       max(0, info["Launch Time"] - stage_submit.get(sid, info["Launch Time"])) / 1e3)
                sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
                records = (m.get("Input Metrics", {}).get("Records Read", 0)
                           + sr.get("Total Records Read", 0))
                op.add("scheduler.empty_tasks", int(records == 0))
                op.add("executor.run_s", m.get("Executor Run Time", 0) / 1e3)
                op.add("shuffle.read_bytes", sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0))
                op.add("shuffle.write_bytes", sw.get("Shuffle Bytes Written", 0))
                op.add("shuffle.spill_bytes", m.get("Disk Bytes Spilled", 0))
                py_ms = sum(float(a.get("Update", 0)) for a in info.get("Accumulables", [])
                            if a.get("Name") in PYTHON_WORKER_ACCUMS)
                op.add("python.worker_s", py_ms / 1e3)
            elif kind.endswith("StreamingQueryListener$QueryProgressEvent"):
                p = ev["progress"]
                op = by_time(_epoch_ms(p["timestamp"]))
                if op is None:
                    continue
                op.add("streaming.batches", 1)
                op.add("streaming.state_tasks",
                       sum(s.get("numStateStoreInstances", 0) for s in p.get("stateOperators", [])))


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0
