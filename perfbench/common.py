"""Helpers shared by the workloads: the run context and its metrics,
percentiles, and stopping what a run started."""

from __future__ import annotations

import os
import signal
import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path

import metrics as M


def descendants() -> list[int]:
    """pids of this process's live descendants."""
    kids = _proc_tree()
    out, todo = [], list(kids.get(os.getpid(), []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo += kids.get(p, [])
    return out


def kill_and_reap(pids: list[int], timeout: float = 30.0) -> None:
    """SIGKILL ``pids`` and wait until this process has no descendants
    left, reaping its own children."""
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + timeout
    while descendants() and time.monotonic() < deadline:
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.1)


def _proc_tree() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue  # exited while scanning
            kids.setdefault(ppid, []).append(int(pid))
    return kids


def tree_cpu_s() -> float:
    """CPU seconds (user + system, including reaped children) used so far
    by this process and its live descendants. Unlike wall time it does
    not count the time the host steals from a virtual CPU, but it still
    grows with the host's load: see ``steal_adjusted``."""
    kids, todo, ticks = _proc_tree(), [os.getpid()], 0
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
        todo += kids.get(p, [])
    return ticks / os.sysconf("SC_CLK_TCK")


def cpu_times() -> list[int]:
    """The machine-wide /proc/stat cpu line (user … steal), in ticks."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of all CPU time between two ``cpu_times`` the host stole."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(sum(d), 1)


def steal_adjusted(cpu_s: float, steal: float) -> float:
    """``cpu_s`` times the share of the machine's CPU time the host did not
    steal, for the API loop. On a 4-vCPU virtual machine the processes'
    own CPU time per request rose with the stolen share s about as
    1 / (1 - s), by 70% at s = 0.34, as a vCPU that shares its core with
    another guest runs slower; over ten runs with s from 0 to 0.34 this
    took the quartile spread of CPU ms per request from 0.27 to 0.065.
    The landing passes' CPU time rose less, about 15% at s = 0.2: there
    it over-corrected and widened the spread (0.088 to 0.098, 0.095 to
    0.130 over two sets of ten), so landing_batch reports its CPU time
    unadjusted."""
    return cpu_s * (1.0 - steal)


def stop_spark() -> None:
    """Stop the in-process session and its JVM, and wait for the JVM (and
    with it the Python workers) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        proc.wait(timeout=60)


# --------------------------------------------------------------- results

class Metrics:
    """Named values with units. A metric that could not be collected is
    kept as missing with its error, never as 0."""

    def __init__(self) -> None:
        self.values: dict[str, dict] = {}

    def set(self, name: str, value) -> None:
        self.values[name] = {"value": value, "unit": M.unit(name)}

    def missing(self, name: str, error: str) -> None:
        self.values[name] = {"value": None, "unit": M.unit(name),
                             "error": error}

    def collect(self, name: str, fn) -> None:
        try:
            self.set(name, fn())
        except Exception as exc:  # noqa: BLE001 — reported, not swallowed
            self.missing(name, f"{type(exc).__name__}: {exc}")


@dataclass
class Context:
    """What a workload gets: its seed and time budget, where to write, the
    start of setup, and where to record outcomes."""

    workload: str
    seed: int
    seconds: float
    trace: bool
    work: Path
    t0: float
    e2e: Metrics = field(default_factory=Metrics)
    layers: Metrics = field(default_factory=Metrics)
    detail: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    known_failed: int = 0
    failures: list[str] = field(default_factory=list)

    def check(self, ok: bool, what: str, known: bool = False) -> None:
        """Count one attempted operation; a wrong output counts failed.
        ``known`` marks a failure that is a known defect of the program
        (see ``landing.KNOWN_DEFECT``): it counts failed like any other,
        but does not make the run incorrect."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.known_failed += known
            if len(self.failures) < 20:
                self.failures.append(("known defect: " if known else "")
                                     + what)

    @property
    def correct(self) -> bool:
        """Every attempted operation passed, apart from known defects."""
        return self.attempted > 0 and self.failed == self.known_failed

    def since_start(self) -> float:
        return time.perf_counter() - self.t0


def percentile(values: list[float], q: int) -> float:
    """The linear-interpolated q-th percentile (0 < q < 100) of one or
    more values."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


