"""Every metric the benchmark reports, with its unit, and for each
per-layer metric the end-to-end metric it is expected to move and on
which workload. ``BENCHMARK.json`` lists the same names; ``run.py``
refuses to print a result whose metric set differs from it."""

from __future__ import annotations

import json
import os

# One query per family: a cold repetition of the 14 the families were
# first drawn from takes about 70 s on 4 cpus, more than a run can spend.
QUERIES = {
    "relational": ["q5_region_nation_revenue"],
    "vector": ["v2_cosine_topk"],
    "dedup": ["dedup_minhash_lsh"],
    "text": ["pipeline_flagship"],
    "stream": ["st_incremental_ingest"],
}
FAMILY = {q: fam for fam, qs in QUERIES.items() for q in qs}

L, A = ("landing_batch",), ("api_closed_loop",)
BOTH = L + A

# Figures only one workload measures: its own wall-clock numbers (the
# bounded end-to-end metrics in BENCHMARK.json are generic and
# steal-robust) and the query phase of its traced run.
QUERY_NUMBERS = ["queries_total_s"] + [f"q_{f}_s" for f in QUERIES]
WORKLOAD_NUMBERS = {
    "landing_batch": ["full_docs_per_s", "incr_docs_per_s"] + QUERY_NUMBERS,
    "api_closed_loop": ["req_p50_ms", "req_p90_ms", "req_per_s"],
}

FULL = "full_docs_per_s, cpu_ms_per_op"
INCR = "incr_docs_per_s, cpu_ms_per_op"
REQ = "req_p50_ms, cpu_ms_per_op"

# per-layer metric → (the end-to-end figure it should move, the workloads
# that exercise the layer). On any other workload it reads 0.
MOVES: dict[str, tuple[str, tuple[str, ...]]] = {
    "session.get_spark_s": ("setup_s", BOTH),
    "io.landing_scan_s": (FULL, L),
    "io.landing_read_amp": (FULL, BOTH),
    "io.landing_read_amp_incr": (INCR, L),
    "io.landing_records": ("base of io.landing_read_amp", BOTH),
    "io.landing_files": ("base of io.landing_read_amp", BOTH),
    "io.write_s": (f"{FULL}; {INCR}", L),
    "io.load_table_jobs": ("q_relational_s", L),
    "io.ensure_parallelism_s": (REQ, BOTH),
    "parsers.parse_s": (FULL, L),
    "parsers.py_bytes_sent": (FULL, BOTH),
    "parsers.error_rows": ("check: the broken files' parse errors", BOTH),
    "pipeline.build_ms": (REQ, BOTH),
    "pipeline.self_s": (FULL, L),
    "pipeline.flagship_self_s": ("q_text_s", L),
    "pipeline.n_errors": ("check: rows carrying an error", BOTH),
    "pipeline.n_retried": ("check: rows through the retry branch", BOTH),
    "cli.jobs_full": (FULL, L),
    "cli.jobs_incr": (INCR, L),
    "cli.hash_join_s": (FULL, L),
    "server.process_ms": (REQ, A),
    "server.http_ms": (REQ, A),
    "server.jobs_per_req": ("req_per_s, cpu_ms_per_op", A),
    "server.tasks_per_req": ("req_per_s, cpu_ms_per_op", A),
    "server.exec_ms": (REQ, A),
    "server.requests": ("base of the server.* medians", A),
    "stream.batches": ("q_stream_s", L),
    "stream.batch_ms_p50": ("q_stream_s", L),
    "queries_total_s": ("the traced query phase's time", L),
}
for _q, _fam in FAMILY.items():
    for _k in ("build_s", "build_jobs", "exec_s", "exec_jobs"):
        MOVES[f"{_q}.{_k}"] = (f"q_{_fam}_s", L)
for _fam in QUERIES:
    MOVES[f"q_{_fam}_s"] = ("queries_total_s", L)
    for _k in ("task_s", "tasks", "shuffle_write_bytes", "spill_bytes"):
        MOVES[f"{_fam}.{_k}"] = (f"q_{_fam}_s", L)
for _k in ("jobs", "stages", "tasks", "task_s", "shuffle_write_bytes",
           "gc_s"):
    MOVES[f"spark.{_k}"] = ("every end-to-end time", BOTH)
# what only the traced landing run's query phase measures
QUERY_PHASE = QUERY_NUMBERS + [n for n, (moves, _) in MOVES.items()
                               if moves.startswith("q_")]
for _w, _names in WORKLOAD_NUMBERS.items():
    for _n in _names:
        MOVES.setdefault(_n, ("traced copy: minus the untraced value is "
                              "the tracing overhead", (_w,)))


def unit(name: str) -> str:
    if "_ms_" in name:
        return "ms"
    if "_amp" in name:
        return "ratio"
    for suffix, u in (("docs_per_s", "docs/s"), ("req_per_s", "req/s"),
                      ("_per_s", "1/s"),
                      ("_ms", "ms"), ("_s", "s"), ("_mb", "MB"),
                      ("_bytes", "bytes"), ("bytes_sent", "bytes")):
        if name.endswith(suffix):
            return u
    return "count"


def declared(root: str) -> tuple[list[str], list[str]]:
    """(end-to-end names, per-layer names) from BENCHMARK.json."""
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ([m["name"] for m in spec["end_to_end"]],
            [m["name"] for m in spec["per_layer"]])
