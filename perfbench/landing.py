"""landing_batch: ``cli.cmd_process`` over a generated landing directory.

A full pass into a fresh output, then churn (edit 10%, delete 2%, add 2%
of the files) and an ``--incremental`` pass over the same output, both
in the fresh session a ``cli process`` invocation runs in: each CLI call
is a new process, so its plans run cold, and so do these. Set-up is the
session start.

The traced run adds prefix probes after the passes: noop writes of the
scan, then +parse, then +pipeline, then +the content-hash join, so each
lazy layer's self time is the difference of two probes; then the
registry-query phase (queries.py).
"""

from __future__ import annotations

import argparse
import os
import time
from contextlib import nullcontext

import gen
import metrics as M
import oracle
from common import cpu_times, steal_share, stop_spark, tree_cpu_s

N_FILES = 60  # plus the three broken files
# The traced run starts its query phase (about 20-40 s) only this early,
# so that it ends within three minutes on a contended host too.
QUERY_PHASE_BY_S = 100


def _process(cli, src: str, out: str, incremental: bool) -> dict:
    return cli.cmd_process(argparse.Namespace(
        input_dir=src, output_dir=out, incremental=incremental))


# A known defect of ``cli process``: Spark's binaryFile scan yields no
# record for a 0-byte file, so the empty landing file gets no output row,
# where the oracle expects success=false with an error. The file stays in
# both timed passes and its missing row counts in ``failed`` on every
# run; ``correct`` stays true for that missing row alone. A wrong row for
# it, or any other mismatch, makes the run incorrect.
KNOWN_DEFECT = "no output row for a 0-byte landing file"


def _check_pass(ctx, docs, expected, out: str, what: str) -> int:
    """Check one pass's output, document by document; returns how many
    rows carry an error raised by the parse stage."""
    rows = oracle.output_rows(out)
    matched, missing, extra = oracle.compare_docs(
        [expected[d.name] for d in docs], rows)
    dropped = oracle.render_docs([expected[d.name] for d in docs
                                  if not d.payload])
    for _ in range(matched):
        ctx.check(True, what)
    for r in missing:
        known = dropped[r] > 0
        dropped[r] -= known
        ctx.check(False, f"{what}: " + (f"{KNOWN_DEFECT}: {r}" if known
                                        else f"missing {r}"), known)
    for r in extra:
        ctx.check(False, f"{what}: unexpected {r}")
    return oracle.parse_error_rows(out)


def _probes(spark, landing: str) -> dict[str, float]:
    """Noop-write timings of the pass's lazy prefixes, shaped as in
    cli.cmd_process."""
    from pyspark.sql import functions as F

    from multiagent_document_etl_system_spark.io import read_landing_dir
    from multiagent_document_etl_system_spark.plans.pipeline import (
        run_pipeline,
    )
    from multiagent_document_etl_system_spark.sources.parsers import (
        parse_documents,
    )

    scan = read_landing_dir(spark, landing)
    parsed = parse_documents(scan)
    docs = parsed.select(
        F.xxhash64("path").alias("doc_id"),
        F.coalesce("raw_text", F.lit("")).alias("text"),
        F.lit("und").alias("lang"),
        F.element_at(F.split("path", "/"), -1).alias("source"),
        F.coalesce(F.length("raw_text"), F.lit(0)).cast("bigint")
        .alias("n_chars"),
        "parse_error")
    hashes = docs.select("doc_id", F.md5(F.coalesce("text", F.lit("")))
                         .alias("content_hash"))
    resp = run_pipeline(spark, docs)
    out = {}
    for name, df in (("scan", scan), ("parse", parsed), ("pipeline", resp),
                     ("hash_join", resp.join(hashes, "doc_id"))):
        t = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        out[name] = time.perf_counter() - t
    return out


def _timed_pass(ctx, hooks, cli, docs, want, land: str, out: str,
                incremental: bool) -> tuple[float, float, int]:
    """One checked ``cli process`` pass: (wall s, CPU s, parse-error
    rows)."""
    run = "incr" if incremental else "full"
    c, t = tree_cpu_s(), time.perf_counter()
    with hooks.tracer.span("pass", run) if hooks else nullcontext():
        _process(cli, land, out, incremental)
    wall, cpu = time.perf_counter() - t, tree_cpu_s() - c
    return wall, cpu, _check_pass(ctx, docs, want, out, f"{run} pass")


def run(ctx) -> None:
    hooks = None
    if ctx.trace:
        import tracing
        hooks = tracing.install(tracing.Tracer())
    from multiagent_document_etl_system_spark import cli, session

    # set-up: the session the CLI would start, and one trivial job
    session.get_spark("doc-etl-process").range(1).count()
    ctx.detail["setup_s"] = ctx.since_start()

    docs, after = gen.landing_inputs(ctx.seed, N_FILES)
    want_full, want_incr = oracle.expected_docs(docs), \
        oracle.expected_docs(after)
    gen.write_landing(docs, "land")

    stolen = cpu_times()
    full_s, full_cpu, err_full = _timed_pass(
        ctx, hooks, cli, docs, want_full, "land", "out", False)
    keep = {d.name for d in after}
    for d in docs:
        if d.name not in keep:
            os.remove(os.path.join("land", d.name))
    gen.write_landing(after, "land")
    incr_s, incr_cpu, err_incr = _timed_pass(
        ctx, hooks, cli, after, want_incr, "land", "out", True)
    steal = steal_share(stolen, cpu_times())

    # unadjusted for steal: see common.steal_adjusted
    ctx.e2e.set("cpu_ms_per_op", 1000 * (full_cpu + incr_cpu)
                / (len(docs) + len(after)))
    ctx.detail.update({
        "full_docs_per_s": len(docs) / full_s,
        "incr_docs_per_s": len(after) / incr_s,
        "files_full": len(docs), "files_incr": len(after),
        "full_pass_s": full_s, "incr_pass_s": incr_s,
        "full_pass_cpu_s": full_cpu, "incr_pass_cpu_s": incr_cpu,
        "steal_share": steal})

    if hooks is None:
        stop_spark()
        return

    # traced run: prefix probes over the full pass's input, then the
    # registry-query phase
    from pyspark.sql import SparkSession

    import queries
    spark = SparkSession.getActiveSession()
    gen.write_landing(docs, "probe")
    probes = _probes(spark, "probe")
    qnums = {}
    if ctx.since_start() < QUERY_PHASE_BY_S:
        qnums = queries.run_phase(ctx, spark, hooks.tracer)
    obs_totals = hooks.observations.totals()
    stream_ms = hooks.streams.batch_ms()
    stop_spark()  # closes the event log

    import layers
    rep = layers.LayerReport(ctx, hooks.tracer, str(ctx.work / "events"))
    rep.common(obs_totals, stream_ms)
    rep.landing_reads(len(docs), len(after))
    rep.cli_jobs()
    rep.numbers("landing_batch", {**ctx.detail, **qnums})
    if qnums:
        rep.queries()
        ctx.layers.set("pipeline.flagship_self_s",
                       qnums["pipeline_flagship_exec_s"]
                       - qnums["docs_scan_s"])
    else:
        why = (f"query phase skipped: the run was past {QUERY_PHASE_BY_S} s "
               "when it would have started")
        for name in M.QUERY_PHASE:
            ctx.layers.missing(name, why)
    ctx.layers.set("io.landing_scan_s", probes["scan"])
    ctx.layers.set("parsers.parse_s", probes["parse"] - probes["scan"])
    ctx.layers.set("pipeline.self_s", probes["pipeline"] - probes["parse"])
    ctx.layers.set("cli.hash_join_s",
                   probes["hash_join"] - probes["pipeline"])
    ctx.layers.set("parsers.error_rows", err_full + err_incr)
    write = [s for s in hooks.tracer.named("io.write_parquet")
             if s.run == "full"][0]
    ctx.detail["full_pass_accounting"] = {
        "probes_s": probes, "full_pass_s": full_s,
        "write_self_s": write.dur - probes["hash_join"],
        "rest_s": full_s - write.dur}
