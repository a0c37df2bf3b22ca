"""Outside-in tracing for the traced run.

Spans come from wrappers installed around the package's public functions
(the package itself is not edited); jobs, stages, tasks, task time,
shuffle, spill, GC and Python-worker bytes come from Spark's event log,
which ``run.py`` enables through the launch environment. Each span
marks the jobs its thread submits with the Spark local property SPAN_KEY
(local properties are per thread, and Spark records them with each job
in the event log), so a job belongs to the innermost span of the thread
that submitted it, also when spans of other threads overlap it.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

PKG = "multiagent_document_etl_system_spark"
SPAN_KEY = "perfbench.span"


class MetricError(Exception):
    """A metric that could not be collected; reported, never read as 0."""


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, the clock Spark's event log uses
    end: float | None = None
    parent: int | None = None
    run: str | None = None  # request id or query name the span belongs to

    @property
    def dur(self) -> float:
        return (self.end or self.start) - self.start


class Tracer:
    """Spans kept in memory; each thread has its own parent stack."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, run: str | None = None):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        if run is None and parent is not None:
            run = self.spans[parent].run
        rec = Span(name, time.time(), parent=parent, run=run)
        with self._lock:
            idx = len(self.spans)
            self.spans.append(rec)
        stack.append(idx)
        _mark(idx)
        try:
            yield rec
        finally:
            rec.end = time.time()
            stack.pop()
            _mark(parent)

    def wrap(self, fn, name: str, run_of=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, run_of(args, kwargs) if run_of else None):
                return fn(*args, **kwargs)
        return traced

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.end]

    def total(self, name: str) -> float:
        return sum(s.dur for s in self.named(name))


def _mark(idx: int | None) -> None:
    """Tag the jobs this thread submits from now on with span ``idx``
    (untag them for None). Before the session exists there is nothing to
    tag; a span that starts it is re-marked when its child span ends."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.setLocalProperty(SPAN_KEY, None if idx is None else str(idx))


def patch(module: str, attr: str, wrapper_of) -> None:
    """Replace ``module.attr`` with ``wrapper_of(original)`` in every loaded
    package module that holds a reference to the original, so callers that
    imported the name directly see the wrapper too."""
    import importlib

    orig = getattr(importlib.import_module(module), attr)
    new = wrapper_of(orig)
    for m in list(sys.modules.values()):
        if getattr(m, "__name__", "").startswith(PKG) and \
                getattr(m, attr, None) is orig:
            setattr(m, attr, new)


class Observations:
    """Reads run_pipeline's corpus counters through its ``observation=``
    argument: when the caller passes none, the wrapper passes its own."""

    def __init__(self) -> None:
        self.pending: list = []

    def wrapper_of(self, tracer: Tracer):
        def wrapper_of(fn):
            @functools.wraps(fn)
            def run_pipeline(spark, documents, observation=None):
                if observation is None:
                    from pyspark.sql import Observation
                    observation = Observation(
                        f"bench_pipeline_{len(self.pending)}")
                    self.pending.append(observation)
                with tracer.span("pipeline.run_pipeline"):
                    return fn(spark, documents, observation=observation)
            return run_pipeline
        return wrapper_of

    def totals(self) -> dict[str, float]:
        """n_errors and n_retried over every observed plan that ran; a plan
        never executed has no metrics and is skipped."""
        out = {"n_errors": 0, "n_retried": 0}
        for obs in self.pending:
            jo = getattr(obs, "_jo", None)
            if jo is None or not jo.future().isCompleted():
                continue
            got = obs.get
            for k in out:
                out[k] += got.get(k) or 0
        return out


class StreamProgress:
    """Captures the StreamingQuery that ``streamx.write_foreach_batch``
    starts and keeps its per-batch progress once it has terminated."""

    def __init__(self) -> None:
        self.queries: list = []

    def wrapper_of(self, tracer: Tracer):
        def wrapper_of(fn):
            @functools.wraps(fn)
            def write_foreach_batch(*args, **kwargs):
                with tracer.span("streamx.write_foreach_batch"):
                    q = fn(*args, **kwargs)
                self.queries.append(q)
                return q
            return write_foreach_batch
        return wrapper_of

    def batch_ms(self) -> list[float]:
        return [float(p.durationMs["triggerExecution"])
                for q in self.queries for p in q.recentProgress]


# (module, attr, span name) of every plain wrapper; run_pipeline and
# write_foreach_batch have their own above.
WRAPPED = [
    ("session", "get_spark", "session.get_spark"),
    ("io", "read_landing_dir", "io.read_landing_dir"),
    ("io", "write_parquet", "io.write_parquet"),
    ("io", "safe_overwrite_parquet", "io.safe_overwrite_parquet"),
    ("io", "load_table", "io.load_table"),
    ("io", "ensure_parallelism", "io.ensure_parallelism"),
    ("sources.parsers", "parse_documents", "parsers.parse_documents"),
    ("cli", "cmd_process", "cli.cmd_process"),
]


@dataclass
class Hooks:
    tracer: Tracer
    observations: Observations
    streams: StreamProgress


def install(tracer: Tracer) -> Hooks:
    """Wrap the public functions each layer exposes. Imports the whole
    package first (through the registry) so every direct import of a
    wrapped name is found and replaced."""
    import importlib

    for mod in ("cli", "server", "plans.registry"):
        importlib.import_module(f"{PKG}.{mod}")
    for mod, attr, name in WRAPPED:
        patch(f"{PKG}.{mod}", attr,
              lambda fn, name=name: tracer.wrap(fn, name))
    obs, streams = Observations(), StreamProgress()
    patch(f"{PKG}.plans.pipeline", "run_pipeline", obs.wrapper_of(tracer))
    patch(f"{PKG}.streaming.streamx", "write_foreach_batch",
          streams.wrapper_of(tracer))
    patch(f"{PKG}.server", "process_document_bytes",
          lambda fn: tracer.wrap(fn, "server.process_document_bytes",
                                 run_of=lambda a, k: a[0]))
    return Hooks(tracer, obs, streams)


# ------------------------------------------------------------- event log

@dataclass
class Job:
    app: str
    id: int
    submit: float  # epoch seconds
    end: float | None
    stages: list[int]
    span: int | None  # the SPAN_KEY it was submitted under


@dataclass
class StageStats:
    tasks: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    completed: int = 0
    # sums of the SQL_METRICS accumulator updates of the stage's tasks
    acc: dict[str, float] = field(default_factory=dict)


@dataclass
class EventLog:
    jobs: list[Job]
    stages: dict[tuple[str, int], StageStats]

    def stage_totals(self, jobs: list[Job] | None = None) -> StageStats:
        """Summed stats of the stages of ``jobs`` (all stages if None)."""
        if jobs is None:
            keys = set(self.stages)
        else:
            keys = {(j.app, sid) for j in jobs for sid in j.stages}
        out = StageStats()
        for key in keys:
            st = self.stages.get(key)
            if st is None:
                continue  # skipped stage: no tasks ran
            out.tasks += st.tasks
            out.task_s += st.task_s
            out.gc_s += st.gc_s
            out.shuffle_write_bytes += st.shuffle_write_bytes
            out.spill_bytes += st.spill_bytes
            out.completed += st.completed
            for k, v in st.acc.items():
                out.acc[k] = out.acc.get(k, 0.0) + v
        return out


# SQL metrics the per-layer numbers read, keyed (node-name prefix, metric)
SQL_METRICS = {
    "binary_records": ("Scan binaryFile", "number of output rows"),
    "py_bytes_sent": ("ArrowEvalPython", "data sent to Python workers"),
}


def _plan_metric_ids(info: dict, out: dict[str, set]) -> None:
    for kind, (prefix, metric) in SQL_METRICS.items():
        if info.get("nodeName", "").startswith(prefix):
            for m in info.get("metrics", []):
                if m.get("name") == metric:
                    out[kind].add(m["accumulatorId"])
    for child in info.get("children", []):
        _plan_metric_ids(child, out)


def read_event_logs(log_dir: str) -> EventLog:
    """Parse every application's event log under ``log_dir``. Raises
    MetricError when there is none or a line does not parse."""
    files = sorted(glob.glob(os.path.join(log_dir, "*")))
    if not files:
        raise MetricError(f"no Spark event log under {log_dir}")
    jobs: dict[tuple[str, int], Job] = {}
    stages: dict[tuple[str, int], StageStats] = {}
    acc_kind: dict[tuple[str, int], str] = {}  # (app, accumulator) → kind
    for path in files:
        app = os.path.basename(path)
        with open(path) as fh:
            for n, line in enumerate(fh, 1):
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError as exc:
                    raise MetricError(f"{path}:{n}: {exc}") from exc
                kind = ev.get("Event", "")
                if "sparkPlanInfo" in ev:
                    ids = {k: set() for k in SQL_METRICS}
                    _plan_metric_ids(ev["sparkPlanInfo"], ids)
                    for k, v in ids.items():
                        acc_kind.update({(app, i): k for i in v})
                elif kind == "SparkListenerJobStart":
                    span = (ev.get("Properties") or {}).get(SPAN_KEY)
                    jobs[app, ev["Job ID"]] = Job(
                        app, ev["Job ID"], ev["Submission Time"] / 1000.0,
                        None, list(ev["Stage IDs"]),
                        None if span is None else int(span))
                elif kind == "SparkListenerJobEnd":
                    job = jobs.get((app, ev["Job ID"]))
                    if job is not None:
                        job.end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    stages.setdefault((app, sid), StageStats()).completed = 1
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault((app, ev["Stage ID"]),
                                           StageStats())
                    tm = ev.get("Task Metrics") or {}
                    st.tasks += 1
                    st.task_s += tm.get("Executor Run Time", 0) / 1000.0
                    st.gc_s += tm.get("JVM GC Time", 0) / 1000.0
                    st.shuffle_write_bytes += (tm.get(
                        "Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    st.spill_bytes += tm.get("Memory Bytes Spilled", 0) + \
                        tm.get("Disk Bytes Spilled", 0)
                    for a in (ev.get("Task Info") or {}).get(
                            "Accumulables", []):
                        k = acc_kind.get((app, a.get("ID")))
                        if k is not None:
                            st.acc[k] = st.acc.get(k, 0.0) + float(
                                a["Update"])
    return EventLog(sorted(jobs.values(), key=lambda j: j.submit), stages)


def attribute(tracer: Tracer, jobs: list[Job]) -> dict[int, list[Job]]:
    """span index → the jobs submitted under it. A job submitted outside
    every span (or by a thread that never opened one) is in no span."""
    out: dict[int, list[Job]] = {}
    for j in jobs:
        if j.span is not None and j.span < len(tracer.spans):
            out.setdefault(j.span, []).append(j)
    return out


def jobs_under(tracer: Tracer, by_span: dict[int, list[Job]],
               pred) -> list[Job]:
    """Jobs attributed to any span matching ``pred`` or to a descendant."""
    def matches(i):
        while i is not None:
            if pred(tracer.spans[i]):
                return True
            i = tracer.spans[i].parent
        return False
    return [j for i, js in by_span.items() if matches(i) for j in js]
