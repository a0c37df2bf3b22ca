"""The engine's complete named-query surface (driver contract).

One entry per implemented operator from SURVEY.md §2 (+ north-star
extensions). Each name maps to (spark_fn, oracle_sql | None); oracle None ⇒
the driver records a weaker rows-only check (reserved for genuinely
non-SQL-expressible ops: MinHash/SimHash signatures use xxhash64 which
DuckDB lacks; approx_count_distinct HLLs differ by construction).

Every domain module registers into the shared dict in ``_base`` via the
``_q`` decorator at import time, so the import order below is the
registration order. After the last registration the dict is reordered
once, in place (every module keeps aliasing the one object): the names
of ``DRIVER_HEAD`` lead, because the external driver checks the first
50 entries; everything else follows in registration order, which is
also the order QUERIES.md documents. tests/test_registry_order.py pins
the head and the full order.
"""

from __future__ import annotations

from multiagent_document_etl_system_spark.plans.registry._base import (  # noqa: F401
    DRIVER_HEAD,
    NO_ORACLE_REASONS,
    QUERIES,
    QueryFn,
    RELATIONAL_QUERIES,
    _docs,
    _emb,
    _q,
)

# ---- registration-order imports (DO NOT REORDER; see module docstring) --
from multiagent_document_etl_system_spark.plans.registry import (  # noqa: E402,F401
    kernels,
    ann,
    dedup,
    curation,
    textstats,
    events,
    sources_streaming,
    corpus,
    search,
)

# relational surface (analytics.py) — registered between the search slice
# and the reports slice, exactly where the monolith merged it
QUERIES.update(RELATIONAL_QUERIES)

from multiagent_document_etl_system_spark.plans.registry import (  # noqa: E402,F401
    reports,
    sinks,
)

from multiagent_document_etl_system_spark.plans.registry.ann import (  # noqa: E402,F401
    _namespace_registry_dir,
)
from multiagent_document_etl_system_spark.plans.registry.curation import (  # noqa: E402,F401
    curation_flags,
)
from multiagent_document_etl_system_spark.plans.registry.sinks import (  # noqa: E402,F401
    ENV_GATED_REASONS,
)

# head names first; update() keeps their slots and appends the rest in
# registration order
_ordered = {n: QUERIES[n] for n in DRIVER_HEAD if n in QUERIES}
_ordered.update(QUERIES)
QUERIES.clear()
QUERIES.update(_ordered)
del _ordered
