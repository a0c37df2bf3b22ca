"""Starts ``server.main`` for the api_closed_loop workload.

    python3 -u perfbench/launcher.py [--spans FILE] -- <server args>

With ``--spans``, the trace wrappers are installed before the server
starts, and at shutdown (SIGINT) the spans and the pipeline observation
totals are written to FILE. The session is then stopped, so the JVM and
its event log are closed before this process exits.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="perfbench/launcher.py")
    p.add_argument("--spans")
    args, server_args = p.parse_known_args(argv)
    server_args = [a for a in server_args if a != "--"]
    hooks = None
    if args.spans:
        import tracing
        hooks = tracing.install(tracing.Tracer())
    from multiagent_document_etl_system_spark import server

    from common import stop_spark
    try:
        return server.main(server_args)
    finally:
        if hooks is not None:
            try:
                obs = hooks.observations.totals()
            except Exception as exc:  # noqa: BLE001 — reported in the file
                obs = {"error": f"{type(exc).__name__}: {exc}"}
            with open(args.spans, "w") as fh:
                json.dump({"spans": [s.__dict__ for s in hooks.tracer.spans],
                           "observations": obs}, fh)
        stop_spark()


if __name__ == "__main__":
    raise SystemExit(main())
