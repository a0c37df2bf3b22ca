"""api_closed_loop: ``server.py`` in a subprocess on an ephemeral port,
two closed-loop clients sending single-document ``POST /process``
requests from the seeded sequence.

Set-up runs from process start until the first successful ``/process``
(the server starts its session lazily on that request). The clients then
run WARM_S seconds untimed and the run's seconds timed. Every response is
checked after the loops: malformed envelopes must get 400, documents
must match the pipeline oracle.
"""

from __future__ import annotations

import http.client
import json
import os
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

import gen
import oracle
from common import (
    cpu_times,
    percentile,
    steal_adjusted,
    steal_share,
    tree_cpu_s,
)

N_CLIENTS = 2
# Closed-loop seconds before the timed loop. For about its first minute
# the server's JVM compiles hot code, and its JIT threads burned more CPU
# than the requests did, at a rate set by the clock and not by the
# requests: CPU per request measured then followed the host's load.
WARM_S = 15
BENCH = Path(__file__).resolve().parent


def _post(port: int, req: gen.Request) -> tuple[int, bytes]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        conn.request("POST", "/process", body=req.body,
                     headers={"Content-Type": req.content_type})
        resp = conn.getresponse()
        return resp.status, resp.read()
    finally:
        conn.close()


def _answer(status: int, body: bytes) -> tuple | None:
    """A 200 response as the oracle's (success, has_error, doc_type,
    email, date_str, amount, is_valid, retry_count)."""
    if status != 200:
        return None
    r = json.loads(body)
    d = r.get("data") or {}
    ex = d.get("extracted") or {}
    return (r["success"], r.get("error") is not None, d.get("doc_type"),
            ex.get("email"), ex.get("date_str"), ex.get("amount"),
            d.get("is_valid"), d.get("retry_count"))


def _check(ctx, req: gen.Request, status: int | None, body: bytes,
           expected, what: str) -> bool:
    """Count one request; ``status`` None means it raised (``body`` then
    holds the exception), which counts failed."""
    if status is None:
        ok = False
    elif req.doc is None:
        ok = status == 400
    else:
        want = expected[req.doc.name][1:]
        try:
            ok = _answer(status, body) == want
        except (ValueError, KeyError, TypeError, AttributeError):
            ok = False  # a 200 whose body is not the response contract
    ctx.check(ok, f"{what} {req.doc.name if req.doc else 'malformed'}: "
                  f"{status} {body[:200]!r}")
    return ok


def _first_request(seed: int) -> gen.Request:
    return gen.json_request(gen.make_doc(gen.Source(seed + 17), "first",
                                         "txt"))


def _closed_loop(port: int, todo, seconds: float) -> list[tuple]:
    """N_CLIENTS clients, each sending its next request from ``todo`` as
    soon as its last one is answered, until ``seconds`` have passed.
    Returns (request, start, end, status, body) per request sent; status
    None means the request raised, and body then holds the exception."""
    lock = threading.Lock()
    done: list[tuple[gen.Request, float, float, int | None, bytes]] = []
    deadline = time.perf_counter() + seconds

    def client():
        while True:
            with lock:
                r = next(todo, None)
                if r is None or time.perf_counter() >= deadline:
                    return
            t = time.perf_counter()
            try:
                status, body = _post(port, r)
            except Exception as exc:  # noqa: BLE001 — counted failed
                status, body = None, repr(exc).encode()
            with lock:
                done.append((r, t, time.perf_counter(), status, body))

    threads = [threading.Thread(target=client) for _ in range(N_CLIENTS)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=seconds + 150)
        if th.is_alive():
            raise RuntimeError("a client did not finish")
    if not done:
        raise RuntimeError("no request was sent")
    return done


def _stop(proc: subprocess.Popen) -> None:
    """SIGINT ends serve_forever; the launcher then stops the session.
    Anything left after a minute is killed with its process group."""
    if proc.poll() is None:
        proc.send_signal(signal.SIGINT)
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait(timeout=30)
    proc.stdout.close()


def run(ctx) -> None:
    t_gen = time.perf_counter()
    first = _first_request(ctx.seed)
    reqs = gen.request_sequence(ctx.seed, 200)
    expected = oracle.expected_docs([r.doc for r in [first] + reqs if r.doc])
    t_gen = time.perf_counter() - t_gen

    spans_file = ctx.work / "server_spans.json"
    cmd = [sys.executable, "-u", str(BENCH / "launcher.py")]
    if ctx.trace:
        cmd += ["--spans", str(spans_file)]
    cmd += ["--", "--port", "0"]
    with open(ctx.work / "server.err", "wb") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err,
                                start_new_session=True)
    try:
        line = proc.stdout.readline()
        if not line:
            raise RuntimeError("server exited before listening: "
                               + (ctx.work / "server.err").read_text()[-2000:])
        port = json.loads(line)["port"]
        status, body = _post(port, first)
        if not _check(ctx, first, status, body, expected, "set-up"):
            raise RuntimeError(f"the first request failed: {status} "
                               f"{body[:500]!r}")
        ctx.detail["setup_s"] = ctx.since_start() - t_gen

        todo = iter(reqs)
        warm = _closed_loop(port, todo, WARM_S)
        cpu, stolen = tree_cpu_s(), cpu_times()
        t0 = time.perf_counter()
        done = _closed_loop(port, todo, ctx.seconds)
        elapsed = max(e for _, _, e, _, _ in done) - t0
        cpu = tree_cpu_s() - cpu
        steal = steal_share(stolen, cpu_times())
    finally:
        _stop(proc)

    for r, _, _, status, body in warm:
        _check(ctx, r, status, body, expected, "warm-up")
    lat, rtt, n_ok = [], {}, 0
    for r, t, e, status, body in done:
        ok = _check(ctx, r, status, body, expected, "request")
        if r.doc is not None and status is not None:
            lat.append(1000 * (e - t))
            rtt[r.doc.name] = 1000 * (e - t)
            n_ok += ok
    numbers = {"req_p50_ms": statistics.median(lat),
               "req_p90_ms": percentile(lat, 90),
               "req_per_s": n_ok / elapsed}
    ctx.e2e.set("cpu_ms_per_op", 1000 * steal_adjusted(cpu, steal) / len(lat))
    ctx.detail["cpu_ms_per_op_raw"] = 1000 * cpu / len(lat)
    ctx.detail.update(numbers)
    ctx.detail.update({"warm_requests": len(warm), "requests": len(done),
                       "document_requests": len(lat),
                       "clients": N_CLIENTS, "loop_s": elapsed,
                       "steal_share": steal, "latency_ms": lat})
    if not ctx.trace:
        return

    import layers
    from tracing import Span, Tracer
    with open(spans_file) as fh:
        dumped = json.load(fh)
    tracer = Tracer()
    tracer.spans = [Span(**d) for d in dumped["spans"]]
    obs = dumped["observations"]
    rep = layers.LayerReport(ctx, tracer, str(ctx.work / "events"))
    rep.common(None if "error" in obs else obs, [])
    if "error" in obs:
        ctx.detail["observation_error"] = obs["error"]
    rep.server_reads()
    rep.server(rtt)
    rep.numbers("api_closed_loop", numbers)
    from multiagent_document_etl_system_spark.plans.pipeline import (
        EMPTY_ERROR,
        PARSE_ERROR,
    )
    own = {EMPTY_ERROR, PARSE_ERROR, "no document parsed from upload"}
    ctx.layers.set("parsers.error_rows", sum(
        1 for _, _, _, status, body in done if status == 200
        and (json.loads(body).get("error") or PARSE_ERROR) not in own))
