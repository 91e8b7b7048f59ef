"""Span recorder and per-operation counters for the traced run.

Nothing here edits the program: layers are observed by wrapping their
public functions from the outside (module or class attributes replaced
for the life of the process) and by spans the workloads open around the
calls they make. A span records (name, start, end, parent); a layer's
self time is its spans' durations minus the part their child spans
cover. Spans stay in memory and are reduced when the run ends.

Counters per operation:

- py4j round-trips, counted by wrapping the gateway client's
  ``send_command``;
- Spark jobs, stages, tasks and stage metrics, read from Spark's own
  status store (``sc._jsc.sc().statusStore()``) for the jobs that ran
  under the operation's job group, once the listener bus is drained.
"""

from __future__ import annotations

import functools
import statistics
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    children: list = field(default_factory=list)

    def self_ms(self) -> float:
        covered = sum(c.end - c.start for c in self.children)
        return max(0.0, (self.end - self.start) - covered) * 1000.0


@dataclass
class OpTrace:
    """Everything recorded for one traced operation: a window operation
    (``kind="op"``) or a traced set-up step (``kind="batch"``)."""

    kind: str = "op"
    wall_ms: float = 0.0
    roots: list = field(default_factory=list)
    py4j_calls: int = 0
    spark: dict = field(default_factory=dict)
    extra: dict = field(default_factory=lambda: {"warehouse.read_retries": 0.0})

    def self_ms(self) -> dict:
        out: dict = {}

        def walk(s):
            out[s.name] = out.get(s.name, 0.0) + s.self_ms()
            for c in s.children:
                walk(c)

        for r in self.roots:
            walk(r)
        return out

    def total_ms(self, name: str) -> float:
        """Inclusive time of the spans called ``name``, children included."""
        out = 0.0
        stack = list(self.roots)
        while stack:
            s = stack.pop()
            if s.name == name:
                out += (s.end - s.start) * 1000.0
            stack.extend(s.children)
        return out

    def untraced_ms(self) -> float:
        return max(0.0, self.wall_ms - sum((r.end - r.start) * 1000.0 for r in self.roots))


#: stage fields summed per operation: metric name -> (StageData getter, scale)
_STAGE_FIELDS = {
    "spark.executor_run_ms": ("executorRunTime", 1.0),
    "spark.executor_cpu_ms": ("executorCpuTime", 1e-6),
    "spark.jvm_gc_ms": ("jvmGcTime", 1.0),
    "spark.shuffle_write_bytes": ("shuffleWriteBytes", 1.0),
    "spark.input_bytes": ("inputBytes", 1.0),
    "spark.input_records": ("inputRecords", 1.0),
}


class Recorder:
    """Records spans and counters for operations run inside
    :meth:`op` while ``enabled``; every wrapper is a pass-through when no
    traced operation is open."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.ops: list[OpTrace] = []
        self._stack: list[Span] = []
        self._op: OpTrace | None = None
        self._seq = 0
        client = self.sc._gateway._gateway_client
        send = client.send_command

        @functools.wraps(send)
        def counted(*args, **kwargs):
            if self._op is not None:
                self._op.py4j_calls += 1
            return send(*args, **kwargs)

        client.send_command = counted

    # -- spans ------------------------------------------------------------
    def span(self, name: str):
        return _SpanCtx(self, name)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` (module function or method) with a
        wrapper that records a ``name`` span around each call."""
        fn = getattr(owner, attr)
        rec = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if rec._op is None:
                return fn(*args, **kwargs)
            with rec.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    # -- operations -------------------------------------------------------
    def op(self, kind: str = "op"):
        return _OpCtx(self, kind)

    def _enter_op(self, kind: str) -> OpTrace:
        self._seq += 1
        self._group = f"bench-op-{self._seq}"
        self.sc.setJobGroup(self._group, self._group)
        self._op = OpTrace(kind=kind)
        self._stack = []
        return self._op

    def _exit_op(self, t: OpTrace, wall_s: float) -> None:
        self._op = None
        t.wall_ms = wall_s * 1000.0
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        t.spark = self._spark_counters(self._group)
        self.ops.append(t)

    def _spark_counters(self, group: str) -> dict:
        """Jobs, stages, tasks and summed stage metrics of one job group,
        from the status store (collected after the operation, outside its
        timed region). The store is filled from the listener bus, which
        lags the job's return: drain the bus first, or the operation's
        last stage may still read ACTIVE and be missed."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(10_000)
        store = jsc.statusStore()
        out = {k: 0.0 for k in _STAGE_FIELDS}
        out.update({"spark.jobs": 0, "spark.stages": 0, "spark.tasks": 0, "spark.spill_bytes": 0.0})
        stage_ids: set[int] = set()
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            out["spark.jobs"] += 1
            job = store.job(jid)
            ids = job.stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
        for sid in stage_ids:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - a skipped stage has no attempt
                continue
            if str(st.status()) != "COMPLETE":
                continue
            out["spark.stages"] += 1
            out["spark.tasks"] += st.numCompleteTasks()
            for key, (getter, scale) in _STAGE_FIELDS.items():
                out[key] += getattr(st, getter)() * scale
            out["spark.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out


class _SpanCtx:
    def __init__(self, rec: Recorder, name: str):
        self.rec, self.name = rec, name

    def __enter__(self):
        rec = self.rec
        if rec._op is None:
            self.s = None
            return self
        self.s = Span(self.name, time.perf_counter())
        (rec._stack[-1].children if rec._stack else rec._op.roots).append(self.s)
        rec._stack.append(self.s)
        return self

    def __exit__(self, *exc):
        if self.s is not None:
            self.s.end = time.perf_counter()
            self.rec._stack.pop()
        return False


class _OpCtx:
    def __init__(self, rec: Recorder, kind: str):
        self.rec, self.kind = rec, kind

    def __enter__(self) -> OpTrace:
        self.t = self.rec._enter_op(self.kind)
        self.t0 = time.perf_counter()
        return self.t

    def __exit__(self, *exc):
        self.rec._exit_op(self.t, time.perf_counter() - self.t0)
        return False


def median(values, default=0.0) -> float:
    vals = [v for v in values if v is not None]
    return statistics.median(vals) if vals else default
