"""Tracing for the benchmark's traced run, all from outside the program.

Three sources, joined per op:

* ``Tracer.install`` wraps public functions of the program's layers
  (``io``, ``functions.skew``, ``sources.csv_source``, ``plans.runner``)
  and records one span per call: name, start, end, parent span, op id.
  ``io.load_tables`` must be wrapped before the ``harness*`` modules
  import it by name, so ``install`` runs before they are imported.
* ``StreamListener`` (a ``StreamingQueryListener``) maps each stream's
  run id to the op that started it and counts micro-batches, batch time
  and input rows.
* ``read_event_log`` parses Spark's own event log for jobs and stages
  with their job group, submission time and task metrics. A job is
  attributed to an op by its group: ``pb|<op>|<phase>`` for jobs the
  benchmark thread launched, a stream run id for micro-batch jobs
  (through the listener), and by submission time for jobs launched from
  helper threads of the program, which carry no group.
"""

from __future__ import annotations

import functools
import glob
import itertools
import json
import os
import threading
import time
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

GROUP_PREFIX = "pb"


def job_group(op: str, phase: str) -> str:
    """The job group the benchmark thread sets for one phase of one op."""
    return f"{GROUP_PREFIX}|{op}|{phase}"

# (module, attribute, span name) — the layer entry points wrapped in a
# traced run. Modules that import a wrapped function by name are listed
# again so that their binding is replaced too.
WRAPPED = [
    ("fordgobike_data_pipeline_spark.io", "load_tables", "io.load_tables"),
    ("fordgobike_data_pipeline_spark.io", "publish_overwrite", "io.publish_overwrite"),
    ("fordgobike_data_pipeline_spark.io", "append", "io.append"),
    ("fordgobike_data_pipeline_spark.functions.skew", "fan_out", "functions.skew.fan_out"),
    ("fordgobike_data_pipeline_spark.sources.csv_source", "read_trips_csv",
     "sources.read_trips_csv"),
    ("fordgobike_data_pipeline_spark.plans.runner", "publish_overwrite", "io.publish_overwrite"),
    ("fordgobike_data_pipeline_spark.plans.runner", "append", "io.append"),
    ("fordgobike_data_pipeline_spark.plans.runner", "ingest_bronze", "plans.bronze"),
    ("fordgobike_data_pipeline_spark.plans.runner", "load_locations", "plans.locations"),
    ("fordgobike_data_pipeline_spark.plans.runner", "build_silver", "plans.silver"),
    ("fordgobike_data_pipeline_spark.plans.runner", "build_gold", "plans.gold"),
]


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None


@dataclass
class Tracer:
    """In-memory span store. ``enabled`` gates recording so that the
    wrappers can stay installed through an untraced pass."""

    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    stage_attempts: int = 0
    op: str | None = None
    phase_span: int | None = None
    _ids: itertools.count = field(default_factory=lambda: itertools.count(1))
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _local: threading.local = field(default_factory=threading.local)

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str, parent: int | None = None) -> Span:
        stack = self._stack()
        if parent is None:
            parent = stack[-1] if stack else self.phase_span
        with self._lock:
            span = Span(next(self._ids), name, time.time(), 0.0, parent, self.op)
        stack.append(span.id)
        return span

    def close(self, span: Span) -> None:
        span.end = time.time()
        self._stack().pop()
        with self._lock:
            self.spans.append(span)

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            span = self.open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.close(span)

        return traced

    def install(self) -> None:
        """Wrap every entry point in ``WRAPPED`` plus ``with_retries``."""
        import importlib

        for module, attr, name in WRAPPED:
            mod = importlib.import_module(module)
            fn = getattr(mod, attr)
            # a by-name import may already hold a wrapper: keep one layer
            setattr(mod, attr, self.wrap(getattr(fn, "__wrapped__", fn), name))

        runner = importlib.import_module("fordgobike_data_pipeline_spark.plans.runner")
        with_retries = runner.with_retries

        def counted(fn, *args, **kwargs):
            def attempt():
                if self.enabled:
                    self.stage_attempts += 1
                return fn()

            return with_retries(attempt, *args, **kwargs)

        runner.with_retries = counted


class StreamListener(StreamingQueryListener):
    """Maps stream run ids to the op running when the stream started and
    totals each op's micro-batches."""

    def __init__(self, tracer: Tracer):
        super().__init__()
        self.tracer = tracer
        self.run_op: dict[str, str | None] = {}
        self.batches: dict[str | None, list[tuple[int, float]]] = {}

    def onQueryStarted(self, event) -> None:
        self.run_op[str(event.runId)] = self.tracer.op

    def onQueryProgress(self, event) -> None:
        p = event.progress
        op = self.run_op.get(str(p.runId), self.tracer.op)
        trigger_ms = (p.durationMs or {}).get("triggerExecution", 0)
        self.batches.setdefault(op, []).append((int(p.numInputRows), trigger_ms / 1000.0))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

_ACC = {
    "internal.metrics.executorRunTime": ("task_run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("task_cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_mb", 1e-6),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_mb", 1e-6),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_mb", 1e-6),
    "internal.metrics.diskBytesSpilled": ("spill_mb", 1e-6),
    "internal.metrics.output.bytesWritten": ("bytes_written_mb", 1e-6),
}


@dataclass
class Job:
    id: int
    group: str | None
    submitted: float
    end: float = 0.0
    op: str | None = None
    phase: str | None = None


@dataclass
class Stage:
    id: int
    group: str | None
    submitted: float
    tasks: int
    metrics: dict[str, float]
    op: str | None = None
    phase: str | None = None


def read_event_log(log_dir: str) -> tuple[list[Job], list[Stage]]:
    """Jobs and completed stage attempts from the single event log in
    ``log_dir`` (written by a stopped SparkContext)."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
    jobs: dict[int, Job] = {}
    stage_group: dict[int, str | None] = {}
    stages: list[Stage] = []
    with open(files[0]) as fh:
        for line in fh:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jobs[e["Job ID"]] = Job(e["Job ID"], props.get("spark.jobGroup.id"),
                                        e["Submission Time"] / 1000.0)
            elif kind == "SparkListenerJobEnd":
                jobs[e["Job ID"]].end = e["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageSubmitted":
                props = e.get("Properties") or {}
                stage_group[e["Stage Info"]["Stage ID"]] = props.get("spark.jobGroup.id")
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                metrics: dict[str, float] = {}
                for acc in info.get("Accumulables", []):
                    if acc.get("Name") in _ACC:
                        key, scale = _ACC[acc["Name"]]
                        metrics[key] = metrics.get(key, 0.0) + float(acc["Value"]) * scale
                stages.append(Stage(info["Stage ID"], stage_group.get(info["Stage ID"]),
                                    info.get("Submission Time", 0) / 1000.0,
                                    info["Number of Tasks"], metrics))
    return list(jobs.values()), stages


def attribute(items, op_windows, run_op: dict[str, str | None]) -> None:
    """Set ``op`` and ``phase`` on each job or stage: by the
    benchmark's job group, by stream run id, else by submission time."""
    for it in items:
        g = it.group or ""
        phase = None
        if g.startswith(GROUP_PREFIX + "|"):
            _, op, phase = g.split("|", 2)
        elif g in run_op:
            op = run_op[g]
        else:
            op = None
        if op is None or phase is None:
            for w_op, w_phase, start, end in op_windows:
                if start <= it.submitted <= end and (op is None or op == w_op):
                    op, phase = w_op, w_phase
                    break
        it.op, it.phase = op, phase


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, reached = 0.0, lo
    for s, e in sorted(intervals):
        s, e = max(s, reached), min(e, hi)
        if e > s:
            total += e - s
            reached = e
    return total
