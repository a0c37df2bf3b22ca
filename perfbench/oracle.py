"""Expected outputs from the DuckDB oracles, and the comparisons.

Documents: the package's ``pipeline_oracle_sql`` over the texts the
generator says each file holds. Registry queries: each query's own oracle
SQL over the generated tables, compared through ``tools/check_oracle``'s
``table_repr`` (imported, so the rule cannot drift from the one the
repository's checker uses).
"""

from __future__ import annotations

import collections
import sys
from pathlib import Path

import duckdb

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT / "tools"))
from check_oracle import table_repr  # noqa: E402

# what a document's result is compared on
DOC_COLS = ["content_hash", "success", "has_error", "doc_type", "email",
            "date_str", "amount", "is_valid", "retry_count"]


def expected_docs(docs) -> dict[str, tuple]:
    """doc name → its expected DOC_COLS tuple, from one DuckDB run of the
    pipeline oracle over the generated texts."""
    from multiagent_document_etl_system_spark.plans.pipeline import (
        pipeline_oracle_sql,
    )

    con = duckdb.connect()
    con.execute("CREATE TABLE docs(doc_id BIGINT, name VARCHAR, text VARCHAR,"
                " n_chars BIGINT, parse_error VARCHAR)")
    con.executemany(
        "INSERT INTO docs VALUES (?, ?, ?, ?, ?)",
        [(i, d.name, d.text or "", len(d.text or ""),
          "expected parse error" if d.parse_error else None)
         for i, d in enumerate(docs)])
    rows = con.sql(f"""
        WITH r AS ({pipeline_oracle_sql('docs', parse_error_col=True)})
        SELECT d.name, md5(d.text), r.success, r.error IS NOT NULL,
               r.doc_type, r.email, r.date_str, r.amount, r.is_valid,
               r.retry_count
        FROM r JOIN docs d USING (doc_id)""").fetchall()
    con.close()
    return {r[0]: tuple(r[1:]) for r in rows}


def output_rows(path: str) -> list[tuple]:
    """The DOC_COLS tuples of a ``cli process`` parquet output."""
    con = duckdb.connect()
    try:
        return con.sql(f"""
            SELECT content_hash, success, error IS NOT NULL, doc_type, email,
                   date_str, amount, is_valid, retry_count
            FROM read_parquet('{path}/*.parquet')""").fetchall()
    finally:
        con.close()


def parse_error_rows(path: str) -> int:
    """Rows of a ``cli process`` output whose error came from the parse
    stage rather than the pipeline's own too-short/missing-text checks."""
    from multiagent_document_etl_system_spark.plans.pipeline import (
        EMPTY_ERROR,
        PARSE_ERROR,
    )

    con = duckdb.connect()
    try:
        return con.execute(
            f"SELECT count(*) FROM read_parquet('{path}/*.parquet') "
            "WHERE error IS NOT NULL AND error NOT IN (?, ?)",
            [PARSE_ERROR, EMPTY_ERROR]).fetchone()[0]
    finally:
        con.close()


def render_docs(rows: list[tuple]) -> collections.Counter:
    """A multiset of DOC_COLS rows, each rendered by table_repr."""
    return collections.Counter(table_repr(DOC_COLS, rows)[2])


def compare_docs(expected: list[tuple], got: list[tuple]
                 ) -> tuple[int, list[str], list[str]]:
    """(matched, missing, unexpected) between two multisets of DOC_COLS
    rows, the last two as rendered rows: every expected row not found is
    missing, every row found but not expected is unexpected."""
    want, have = render_docs(expected), render_docs(got)
    return (sum((want & have).values()), list((want - have).elements()),
            list((have - want).elements()))


class RegistryOracle:
    """The registry queries' DuckDB oracles over one sf dir."""

    def __init__(self, sf_dir: str) -> None:
        from multiagent_document_etl_system_spark.io import TABLES

        self.con = duckdb.connect()
        for t in TABLES:
            self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                         f"read_parquet('{sf_dir}/{t}.parquet')")

    def matches(self, sql: str, df) -> tuple[bool, str]:
        """Whether Spark's ``df`` hash-matches the oracle ``sql``."""
        got = table_repr(df.columns, [tuple(r) for r in df.collect()])
        res = self.con.sql(sql)
        want = table_repr(res.columns, res.fetchall())
        if got == want:
            return True, ""
        return False, (f"rows {got[0]} vs {want[0]}, cols "
                       f"{got[1] == want[1]}")

    def close(self) -> None:
        self.con.close()
