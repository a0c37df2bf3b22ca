"""Seeded inputs for every workload.

Document texts are drawn from ``data/sf0.1_documents.parquet``, a copy of
the sf0.1 testdata's 5,000-document corpus; the registry queries of the
traced run read ``data/sf0.01/``, a copy of the sf0.01 testdata tables.
Everything drawn is a pure function of the seed: the landing directory of
mixed-format files, its churn, and the POST /process request sequence.
Binary formats are built with the package's own demo-byte makers
(``make_demo_pdf_bytes``, ``make_demo_docx_bytes``, ``render_text_png``),
so the program only ever sees files and requests, never the generator's
expected answers.
"""

from __future__ import annotations

import base64
import functools
import json
import os
import random
from dataclasses import dataclass
from pathlib import Path

DATA = Path(__file__).resolve().parent / "data"
CORPUS = DATA / "sf0.1_documents.parquet"
SF_DIR = DATA / "sf0.01"

# Formats come in blocks of ten that hold the 70/10/10/10 mix exactly,
# so every seed sends the program the same mix.
FORMAT_BLOCK = ("txt",) * 7 + ("pdf", "docx", "png")


@functools.lru_cache(maxsize=1)
def corpus() -> tuple[str, ...]:
    import duckdb

    con = duckdb.connect()
    try:
        return tuple(r[0] for r in con.execute(
            "SELECT text FROM read_parquet(?) ORDER BY doc_id",
            [str(CORPUS)]).fetchall())
    finally:
        con.close()


class Source:
    """Seeded draws: corpus texts without replacement (so no two generated
    documents share a text) and formats in shuffled FORMAT_BLOCKs."""

    def __init__(self, seed: int) -> None:
        self.rng = random.Random(seed)
        self._texts = iter(self.rng.sample(corpus(), len(corpus())))
        self._formats: list[str] = []

    def text(self) -> str:
        return next(self._texts)

    def fmt(self) -> str:
        if not self._formats:
            self._formats = list(FORMAT_BLOCK)
            self.rng.shuffle(self._formats)
        return self._formats.pop()


def with_fields(rng: random.Random, text: str) -> str:
    """``text`` with the fields the extract stage looks for mixed in, each
    with even odds: an email, a date (one in ten impossible, so the
    validate stage fails it and the retry branch runs) and an amount. The
    corpus itself holds none of them (no digit and no '@' in any of its
    texts), so without them every document would extract nothing."""
    words = text.split(" ")
    extras = []
    if rng.random() < 0.5:
        extras.append(f"user{rng.randint(1, 999)}@example.com")
    if rng.random() < 0.5:
        month = rng.randint(1, 12) if rng.random() < 0.9 else 13
        extras.append(f"20{rng.randint(10, 29)}-{month:02d}-"
                      f"{rng.randint(1, 28):02d}")
    if rng.random() < 0.5:
        extras.append(f"{rng.randint(1, 9999)}.{rng.randint(0, 99):02d}")
    for e in extras:
        words.insert(rng.randint(0, len(words)), e)
    return " ".join(words)


def _lines(text: str, per_line: int = 8) -> list[str]:
    w = text.split(" ")
    return [" ".join(w[i:i + per_line]) for i in range(0, len(w), per_line)]


@dataclass(frozen=True)
class Doc:
    """One generated input file and what the program must make of it.

    ``text`` is the text the parser is expected to recover; ``parse_error``
    marks a file the parser must reject (any non-null error will do)."""

    name: str
    payload: bytes
    text: str | None
    parse_error: bool = False


def make_doc(src: Source, stem: str, fmt: str) -> Doc:
    from multiagent_document_etl_system_spark.sources.parsers import (
        make_demo_docx_bytes,
        make_demo_pdf_bytes,
        render_text_png,
    )

    if fmt == "png":
        # the OCR rung reads A-Z/0-9/space glyphs back upper-cased, so an
        # image carries a corpus text as it is, without fields
        lines = _lines(src.text())
        return Doc(f"{stem}.png", render_text_png("\n".join(lines)),
                   "\n".join(lines).upper())
    text = with_fields(src.rng, src.text())
    if fmt == "pdf":
        lines = _lines(text)
        return Doc(f"{stem}.pdf", make_demo_pdf_bytes(lines), "\n".join(lines))
    if fmt == "docx":
        paras = _lines(text, 12)
        return Doc(f"{stem}.docx", make_demo_docx_bytes(paras),
                   "\n".join(paras))
    return Doc(f"{stem}.txt", text.encode(), text)


def broken_docs(src: Source, tag: str) -> list[Doc]:
    """Deliberately broken inputs: a too-short text, an empty file and a
    corrupt PDF. Each must come back with success=false and an error."""
    short = " ".join(src.text().split(" ")[:3])
    return [
        Doc(f"broken_short_{tag}.txt", short.encode(), short),
        Doc(f"broken_empty_{tag}.txt", b"", ""),
        Doc(f"broken_corrupt_{tag}.pdf",
            b"%PDF-1.4\n" + src.rng.randbytes(64) + b"\n%%EOF\n", None, True),
    ]


def landing_inputs(seed: int, n: int, edit: float = 0.10,
                   delete: float = 0.02, add: float = 0.02
                   ) -> tuple[list[Doc], list[Doc]]:
    """The landing directory before and after a day of churn.

    Before: the three broken files and ``n`` files in the format mix.
    After: ``edit`` of each format's files rewritten with new content,
    ``delete`` of the files removed, ``add`` new ones; the broken files
    stay, so both passes meet them."""
    src = Source(seed)
    broken = broken_docs(src, "0")
    docs = [make_doc(src, f"doc_{i:05d}", src.fmt()) for i in range(n)]

    by_fmt: dict[str, list[int]] = {}
    for i, d in enumerate(docs):
        by_fmt.setdefault(d.name.rsplit(".", 1)[1], []).append(i)
    edited = {i for idx in by_fmt.values()
              for i in src.rng.sample(idx, round(edit * len(idx)))}
    deleted = set(src.rng.sample(sorted(set(range(n)) - edited),
                                 round(delete * n)))
    after = [make_doc(src, d.name.rsplit(".", 1)[0], d.name.rsplit(".", 1)[1])
             if i in edited else d
             for i, d in enumerate(docs) if i not in deleted]
    after += [make_doc(src, f"new_{i:05d}", src.fmt())
              for i in range(round(add * n))]
    return broken + docs, broken + after


def write_landing(docs: list[Doc], path: str) -> None:
    os.makedirs(path, exist_ok=True)
    for d in docs:
        with open(os.path.join(path, d.name), "wb") as fh:
            fh.write(d.payload)


# -------------------------------------------------------------- requests

@dataclass(frozen=True)
class Request:
    """One POST /process request; ``doc`` is None for a malformed
    envelope, which must be answered with 400."""

    content_type: str
    body: bytes
    doc: Doc | None


def _multipart(filename: str, payload: bytes, boundary: str) -> bytes:
    return (f"--{boundary}\r\nContent-Disposition: form-data; name=\"file\"; "
            f"filename=\"{filename}\"\r\nContent-Type: "
            "application/octet-stream\r\n\r\n").encode() + payload \
        + f"\r\n--{boundary}--\r\n".encode()


def json_request(doc: Doc) -> Request:
    body = json.dumps({"filename": doc.name, "content_b64":
                       base64.b64encode(doc.payload).decode()})
    return Request("application/json", body.encode(), doc)


MALFORMED = (
    b'{"filename": "x.txt", "content_b64": "!!not base64!!"}',
    b'{"filename": "x.txt"',
    b'{"content_b64": "aGVsbG8="}',
)


def request_sequence(seed: int, n: int) -> list[Request]:
    """``n`` requests alternating JSON/base64 and multipart bodies. In
    every block of 20, in shuffled order: one malformed envelope (5%), one
    broken document (too short, empty or corrupt PDF in turn), and 18
    documents in the landing format mix."""
    src = Source(seed * 104729 + 3)
    kinds: list[str] = []
    while len(kinds) < n:
        block = ["malformed", "broken"] + ["doc"] * 18
        src.rng.shuffle(block)
        kinds += block
    out = []
    for i, kind in enumerate(kinds[:n]):
        if kind == "malformed":
            out.append(Request("application/json",
                               src.rng.choice(MALFORMED), None))
            continue
        if kind == "broken":
            doc = broken_docs(src, f"{i:05d}")[(i // 20) % 3]
        else:
            doc = make_doc(src, f"req_{i:05d}", src.fmt())
        if i % 2:
            boundary = f"bench{src.rng.getrandbits(48):012x}"
            out.append(Request(f"multipart/form-data; boundary={boundary}",
                               _multipart(doc.name, doc.payload, boundary),
                               doc))
        else:
            out.append(json_request(doc))
    return out
