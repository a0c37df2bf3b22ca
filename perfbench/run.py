"""Benchmark entry point: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Workloads (see BENCHMARK.json for why each was chosen):

- ``landing_batch``: ``cli.cmd_process`` over a generated landing
  directory, a full pass and then an ``--incremental`` pass after churn;
  its traced run adds five registry queries, one per family;
- ``api_closed_loop``: ``server.py`` in a subprocess, two closed-loop
  clients sending single-document ``POST /process`` requests.

The run pins its environment (cores, driver memory, local and temp dirs,
the workers' PYTHONPATH) from inside the checkout, generates its inputs
from the seed, measures, checks every output against the DuckDB oracles
outside the timed region, and prints as its last stdout line
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. The line
before it is a ``{"detail": ...}`` record with the host, the
workload-specific numbers and the first failures; it is also kept under
``perfbench/.results/``.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # setup_s counts from here

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
PKG = "multiagent_document_etl_system_spark"
WORKLOADS = {"landing_batch": "landing", "api_closed_loop": "api"}
# About the highest share of CPU time stolen by the hypervisor during a
# timed region at which the spread of cpu_ms_per_op was checked (see
# common.steal_adjusted). A run above it marks itself unresolved.
STEAL_LIMIT = 0.3

sys.path.insert(0, str(BENCH))
import metrics as M  # noqa: E402
from common import Context, descendants, kill_and_reap  # noqa: E402


# ----------------------------------------------------------- environment

def host_info() -> dict:
    with open("/proc/meminfo") as fh:
        mem = {ln.split(":")[0]: int(ln.split()[1]) for ln in fh}
    with open("/proc/loadavg") as fh:
        load = fh.read().split()[:3]
    return {"nproc": len(os.sched_getaffinity(0)),
            "mem_total_mb": mem["MemTotal"] // 1024,
            "mem_available_mb": mem["MemAvailable"] // 1024,
            "loadavg": [float(x) for x in load]}


def pin_environment(work: Path, trace: bool, host: dict) -> dict:
    """Everything the program reads from its environment, set here so the
    package itself is run unmodified. Returns what was set."""
    for d in ("local", "tmp", "events"):
        (work / d).mkdir(parents=True, exist_ok=True)
    # 1/4 of RAM, at most 2 GiB (get_spark's own default is 32g). The
    # driver's heap is touched in full at start: G1 otherwise grows the
    # heap when GC takes a larger share of the time, which it does when
    # the host steals CPU time, and the JVM's peak memory moved by 400 MB
    # with the host's load. With the heap fixed, peak memory measures what
    # lies outside it, and more heap use shows as GC time.
    mem_mb = max(1024, min(2048, host["mem_total_mb"] // 4))
    confs = ["spark.ui.showConsoleProgress=false",
             f"spark.driver.extraJavaOptions=-Xms{mem_mb}m "
             "-XX:+AlwaysPreTouch"]
    if trace:
        confs += [f"spark.eventLog.enabled=true",
                  f"spark.eventLog.dir=file://{work / 'events'}",
                  "spark.eventLog.compress=false",
                  "spark.eventLog.rolling.enabled=false"]
    env = {
        "SPARK_GRAFT_CPUS": str(host["nproc"]),
        "SPARK_DRIVER_MEMORY": f"{mem_mb}m",
        "SPARK_LOCAL_DIRS": str(work / "local"),
        "TMPDIR": str(work / "tmp"),
        # Python workers import the package; without this every parse
        # task fails with ModuleNotFoundError
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p),
        # every JVM, spark-submit's launcher too: temp files in the run's
        # directory and no hsperfdata files in /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={work / 'tmp'} "
                             "-XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": " ".join(
            [f"--conf {shlex.quote(c)}" for c in confs] + ["pyspark-shell"]),
    }
    os.environ.update(env)
    import tempfile
    tempfile.tempdir = None  # re-read TMPDIR
    return env


class TreePss(threading.Thread):
    """Peak summed PSS of this process and every descendant: the JVM, its
    Python workers and, for the API workload, the server subprocess. PSS
    splits the pages forked Python workers share among them, so the sum
    counts each page once whatever the number of live workers."""

    def __init__(self, period: float = 0.5) -> None:
        super().__init__(daemon=True)
        self.period = period
        self.peak_kb = 0
        self.peak_by_process: dict[str, int] = {}  # command → PSS kB
        self._stop_evt = threading.Event()

    @staticmethod
    def _pss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        return int(line.split()[1])
        except OSError:
            pass  # exited while sampling
        return 0

    @staticmethod
    def _command(pid: int) -> str:
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                args = fh.read().split(b"\0")
        except OSError:
            return "?"
        exe = os.path.basename(args[0].decode(errors="replace"))
        mod = next((a.decode(errors="replace") for a in args[1:3]
                    if a and not a.startswith(b"-")), "")
        return f"{exe} {os.path.basename(mod)}".strip()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            pss = {p: self._pss_kb(p) for p in [os.getpid()] + descendants()}
            if sum(pss.values()) > self.peak_kb:
                self.peak_kb = sum(pss.values())
                self.peak_by_process = {}
                for p, kb in pss.items():
                    name = self._command(p)
                    self.peak_by_process[name] = \
                        self.peak_by_process.get(name, 0) + kb
            self._stop_evt.wait(self.period)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=10)


def tracing_overhead(results: Path, workload: str, ctx: Context) -> dict:
    """Traced minus the median untraced value of each end-to-end figure,
    over the untraced runs of this workload kept in ``results``."""
    untraced = []
    for path in results.glob(f"{workload}-seed*-trace0-*.json"):
        with open(path) as fh:
            untraced.append(json.load(fh)["detail"])
    if not untraced:
        return {"error": f"no untraced {workload} run in {results}"}
    out = {"untraced_runs": len(untraced)}
    for name in M.WORKLOAD_NUMBERS[workload] + list(ctx.e2e.values):
        traced = (ctx.e2e.values.get(name) or {}).get("value",
                                                      ctx.detail.get(name))
        base = [d.get(name, d["end_to_end"].get(name, {}).get("value"))
                for d in untraced]
        base = [b for b in base if isinstance(b, (int, float))]
        if isinstance(traced, (int, float)) and base:
            out[name] = traced - statistics.median(base)
    return out


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="perfbench/run.py")
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not (ROOT / PKG / "__init__.py").is_file():
        print(f"perfbench: the package {PKG}/ is not in {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    e2e_names, layer_names = M.declared(str(ROOT))

    host_before = host_info()
    work = BENCH / ".work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    env = pin_environment(work, bool(args.trace), host_before)
    sys.path.insert(0, str(ROOT))
    os.chdir(work)  # spark-warehouse/, derby.log and metastore_db land here

    # a SIGTERM (e.g. from timeout) unwinds through the finally blocks that
    # stop the server subprocess and the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ctx = Context(args.workload, args.seed, args.seconds, bool(args.trace),
                  work, T0)
    pss = TreePss()
    pss.start()
    error = None
    try:
        mod = importlib.import_module(WORKLOADS[args.workload])
        mod.run(ctx)
    except Exception:  # noqa: BLE001 — the run fails loudly below
        error = traceback.format_exc()
    finally:
        pss.stop()
        os.chdir(ROOT)
        leftover = descendants()
        for pid in leftover:
            print(f"perfbench: process {pid} outlived its workload",
                  file=sys.stderr)
        kill_and_reap(leftover)
        shutil.rmtree(work, ignore_errors=True)
    if error is not None:
        print(error, file=sys.stderr)
        return 1

    ctx.e2e.set("peak_pss_mb", pss.peak_kb / 1024.0)
    ctx.e2e.set("setup_s", ctx.detail.pop("setup_s"))
    if ctx.detail["steal_share"] > STEAL_LIMIT:
        ctx.detail["unresolved"] = (
            f"steal_share {ctx.detail['steal_share']:.3f} is above "
            f"{STEAL_LIMIT}: the host was contended, and the bounds were "
            "shown to hold only below it")
        print(f"perfbench: {ctx.detail['unresolved']}", file=sys.stderr)
    wanted, got = ((layer_names, ctx.layers) if args.trace
                   else (e2e_names, ctx.e2e))
    unknown = set(got.values) - set(wanted) - set(e2e_names)
    if unknown:
        raise SystemExit(f"perfbench: metrics not in BENCHMARK.json: "
                         f"{sorted(unknown)}")
    for name in wanted:
        if name in got.values:
            continue
        if args.trace and args.workload not in M.MOVES[name][1]:
            got.set(name, 0)  # a layer this workload does not exercise
        else:
            got.missing(name, "not measured by this run")
    metrics = {n: got.values[n] for n in wanted}

    detail = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              "host_before": host_before, "host_after": host_info(),
              "env": {k: v for k, v in env.items() if k != "PYTHONPATH"},
              "end_to_end": ctx.e2e.values,
              "peak_pss_by_process_mb": {k: round(v / 1024, 1) for k, v in
                                         pss.peak_by_process.items()},
              "fail_frac": ctx.failed / max(ctx.attempted, 1),
              "known_defect_failures": ctx.known_failed,
              "failures": ctx.failures, **ctx.detail}
    results = BENCH / ".results"
    results.mkdir(exist_ok=True)
    if args.trace:
        detail["per_layer_moves"] = {n: M.MOVES[n] for n in layer_names
                                     if n in M.MOVES}
        detail["tracing_overhead"] = tracing_overhead(results, args.workload,
                                                      ctx)
    with open(results / f"{args.workload}-seed{args.seed}-trace"
                        f"{args.trace}-{os.getpid()}.json", "w") as fh:
        json.dump({"detail": detail, "metrics": metrics}, fh, indent=1)
    print(json.dumps({"detail": detail}))
    if ctx.known_failed:
        print(f"perfbench: {ctx.known_failed} of {ctx.failed} failed "
              "operations are known defects of the program",
              file=sys.stderr)
    print(json.dumps({"correct": ctx.correct,
                      "attempted": ctx.attempted, "failed": ctx.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
