"""The registry-query phase of the traced landing_batch run.

Five registry queries, one per family, over the sf0.01 testdata tables
kept in ``data/sf0.01/``, in the session the landing passes warmed. Each
is timed as build (``fn(spark, sf_dir)``, which includes any jobs the
query fires while it is being built) and execute (a noop write of the
result), under the ``query.build`` / ``query.exec`` spans the per-layer
numbers read. Each result is then collected and hash-matched against its
DuckDB oracle.

This phase gives the plans.registry, operators and streaming.streamx
layers their numbers. It runs in traced runs only: a
cold repetition of the queries costs about 36 s on 4 cpus, which the
benchmark's time budget cannot spend on every run.
"""

from __future__ import annotations

import time

import gen
import metrics as M
import oracle

NAMES = list(M.FAMILY)


def run_phase(ctx, spark, tracer) -> dict[str, float]:
    """Run, time and check every query once; returns the phase's
    figures (``queries_total_s``, ``q_<family>_s``, ``docs_scan_s``,
    ``pipeline_flagship_exec_s``)."""
    from multiagent_document_etl_system_spark import io
    from multiagent_document_etl_system_spark.plans.registry import QUERIES

    sf = str(gen.SF_DIR)
    per_query, results = {}, {}
    for q in NAMES:
        t = time.perf_counter()
        with tracer.span("query.build", q):
            df = QUERIES[q][0](spark, sf)
        b = time.perf_counter()
        with tracer.span("query.exec", q):
            df.write.format("noop").mode("overwrite").save()
        per_query[q] = (b - t, time.perf_counter() - b)
        results[q] = df

    orc = oracle.RegistryOracle(sf)
    try:
        for q in NAMES:
            ok, why = orc.matches(QUERIES[q][1], results[q])
            ctx.check(ok, f"{q}: {why}")
    finally:
        orc.close()

    # the scan pipeline_flagship reads, for the pipeline's self time
    t = time.perf_counter()
    io.load_table(spark, sf, "documents").write.format("noop") \
        .mode("overwrite").save()
    numbers = {"docs_scan_s": time.perf_counter() - t,
               "pipeline_flagship_exec_s": per_query["pipeline_flagship"][1],
               "queries_total_s": sum(b + e for b, e in per_query.values())}
    for fam, qs in M.QUERIES.items():
        numbers[f"q_{fam}_s"] = sum(sum(per_query[q]) for q in qs)
    ctx.detail["query_phase"] = {"per_query_s": per_query, **numbers}
    return numbers
