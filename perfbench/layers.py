"""Per-layer metrics of a traced run, computed from the spans the wrappers
recorded and the Spark event log.

A value is a total over this run's calls into the layer. A layer the
workload does not exercise (``metrics.MOVES`` says which do) reads 0, as
do ratios and medians over an empty base, whose base is printed beside
them. A metric that could not be collected is reported missing with its
error.
"""

from __future__ import annotations

import statistics

import metrics as M
from tracing import (
    EventLog,
    MetricError,
    StageStats,
    Tracer,
    attribute,
    jobs_under,
    read_event_logs,
)


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


class LayerReport:
    """Fills ``ctx.layers`` from one process's tracer and event log."""

    def __init__(self, ctx, tracer: Tracer, log_dir: str) -> None:
        self.ctx = ctx
        self.t = tracer
        self.log: EventLog | None = None
        self.log_error: str | None = None
        try:
            self.log = read_event_logs(log_dir)
        except MetricError as exc:
            self.log_error = str(exc)
        self.by_span = attribute(tracer, self.log.jobs) if self.log else {}

    # -- helpers
    def _need_log(self) -> EventLog:
        if self.log is None:
            raise MetricError(self.log_error or "no event log")
        return self.log

    def jobs(self, pred) -> list:
        self._need_log()
        return jobs_under(self.t, self.by_span, pred)

    def stats(self, pred) -> StageStats:
        return self._need_log().stage_totals(self.jobs(pred))

    def set(self, name: str, fn) -> None:
        self.ctx.layers.collect(name, fn)

    # -- layers every workload can reach
    def common(self, obs_totals: dict | None, stream_ms: list[float]
               ) -> None:
        t = self.t
        self.set("session.get_spark_s", lambda: t.total("session.get_spark"))
        self.set("io.load_table_jobs", lambda: len(self.jobs(
            lambda s: s.name == "io.load_table")))
        self.set("io.ensure_parallelism_s",
                 lambda: t.total("io.ensure_parallelism"))
        self.set("io.write_s", lambda: t.total("io.write_parquet")
                 + t.total("io.safe_overwrite_parquet"))
        self.set("pipeline.build_ms", lambda: 1000 * _median(
            [s.dur for s in t.named("pipeline.run_pipeline")]))

        def obs(key):
            if obs_totals is None:
                raise MetricError("observations were not returned")
            return obs_totals[key]
        self.set("pipeline.n_errors", lambda: obs("n_errors"))
        self.set("pipeline.n_retried", lambda: obs("n_retried"))
        self.set("parsers.py_bytes_sent", lambda: self._need_log(
        ).stage_totals().acc.get("py_bytes_sent", 0.0))
        self.set("stream.batches", lambda: len(stream_ms))
        self.set("stream.batch_ms_p50", lambda: _median(stream_ms))
        self.set("spark.jobs", lambda: len(self._need_log().jobs))
        for key in ("completed", "tasks", "task_s", "shuffle_write_bytes",
                    "gc_s"):
            name = "spark.stages" if key == "completed" else f"spark.{key}"
            self.set(name, lambda key=key: getattr(
                self._need_log().stage_totals(), key))

    def landing_reads(self, files_full: int, files_incr: int) -> None:
        """binaryFile records read per landing file, on the full and on the
        incremental pass (spans ``cli.cmd_process`` under the timed
        passes)."""
        self._reads(lambda s: s.name == "cli.cmd_process"
                    and s.run == "full", files_full)
        self.set("io.landing_read_amp_incr", lambda: _ratio(self._records(
            lambda s: s.name == "cli.cmd_process" and s.run == "incr"),
            files_incr))

    def server_reads(self) -> None:
        """binaryFile records read per uploaded file."""
        self._reads(lambda s: s.name == "server.process_document_bytes",
                    len(self.t.named("server.process_document_bytes")))

    def _records(self, pred) -> float:
        return self.stats(pred).acc.get("binary_records", 0.0)

    def _reads(self, pred, files: int) -> None:
        self.set("io.landing_files", lambda: files)
        self.set("io.landing_records", lambda: self._records(pred))
        self.set("io.landing_read_amp",
                 lambda: _ratio(self._records(pred), files))

    def cli_jobs(self) -> None:
        """Spark jobs of the full and of the incremental ``cli process``
        pass."""
        for run in ("full", "incr"):
            self.set(f"cli.jobs_{run}", lambda run=run: len(self.jobs(
                lambda s: s.name == "cli.cmd_process" and s.run == run)))

    def numbers(self, workload: str, numbers: dict) -> None:
        """The workload's own end-to-end figures as measured under
        tracing; traced minus untraced is the tracing overhead."""
        for n in M.WORKLOAD_NUMBERS[workload]:
            if n in numbers:
                self.ctx.layers.set(n, numbers[n])

    def queries(self) -> None:
        """Per-query build/exec time and jobs, and per-family task stats,
        from the ``query.build`` / ``query.exec`` spans."""
        for q in M.FAMILY:
            for phase in ("build", "exec"):
                spans = [s for s in self.t.named(f"query.{phase}")
                         if s.run == q]
                self.set(f"{q}.{phase}_s",
                         lambda spans=spans: _median([s.dur for s in spans]))
                self.set(f"{q}.{phase}_jobs", lambda q=q, phase=phase: _ratio(
                    len(self.jobs(lambda s: s.name == f"query.{phase}"
                                  and s.run == q)),
                    len([s for s in self.t.named(f"query.{phase}")
                         if s.run == q])))
        for fam in M.QUERIES:
            def st(fam=fam):
                return self.stats(lambda s: s.name.startswith("query.")
                                  and M.FAMILY.get(s.run) == fam)
            self.set(f"{fam}.task_s", lambda st=st: st().task_s)
            self.set(f"{fam}.tasks", lambda st=st: st().tasks)
            self.set(f"{fam}.shuffle_write_bytes",
                     lambda st=st: st().shuffle_write_bytes)
            self.set(f"{fam}.spill_bytes", lambda st=st: st().spill_bytes)

    def server(self, rtt_ms: dict[str, float]) -> None:
        """Per-request server numbers, matched to the client's round trips
        by the uploaded file name."""
        spans = {s.run: s for s in self.t.named(
            "server.process_document_bytes")}
        done = [r for r in rtt_ms if r in spans]
        self.set("server.requests", lambda: len(done))
        self.set("server.process_ms", lambda: _median(
            [1000 * spans[r].dur for r in done]))
        self.set("server.http_ms", lambda: _median(
            [rtt_ms[r] - 1000 * spans[r].dur for r in done]))

        def per_req(fn):
            vals = []
            for r in done:
                jobs = self.jobs(lambda s, r=r: s.run == r)
                vals.append(fn(jobs))
            return _median(vals)
        self.set("server.jobs_per_req", lambda: per_req(len))
        self.set("server.tasks_per_req", lambda: per_req(
            lambda js: self._need_log().stage_totals(js).tasks))
        self.set("server.exec_ms", lambda: per_req(
            lambda js: 1000 * sum((j.end or j.submit) - j.submit
                                  for j in js)))
