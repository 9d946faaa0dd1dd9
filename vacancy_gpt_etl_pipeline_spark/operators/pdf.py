"""PDF text extraction — dependency-free, stdlib ``zlib`` only.

PDFs are the second-largest text source in published LLM pretraining
mixes after web crawl, and their extraction stage is always a native
library.  This module implements the subset a text pipeline actually
needs from the ISO 32000-1 spec with no dependencies: FlateDecode
content streams (``zlib`` is stdlib, the PNG precedent), the text
operators ``Tj`` / ``'`` / ``TJ`` with PDF string-literal escapes, and
page-object counting.  The reference pipeline ingests clean CSV text
(``dag/vacancy_pipline_gpt_rerty.py:109-117``); this is the messy-input
equivalent for document corpora.

Both directions ship:

* :func:`synthesize_pdf_payload` — a conformant single-xref PDF 1.4
  writer (catalog / page tree / per-page FlateDecode content streams /
  offset-correct xref + trailer) producing deterministic fixtures whose
  extracted text is closed-form from the source row, so a SQL oracle
  can replay the result without parsing a byte;
* :func:`extract_pdf_text` — the extraction operator: walks
  ``obj … stream … endstream`` segments, inflates Flate streams under a
  decompression-bomb cap, tokenizes the content stream, and
  concatenates the text-showing operators; page count comes from
  ``/Type /Page`` object census.

Scale design: one parse function per document-sized payload under
:func:`operators.payloads.map_payloads` (per-payload CPU-dense Python is
the genuine boundary), quarantine-not-fail on malformed payloads, and a cap
on inflated bytes so a crafted 2 KB bomb cannot take executor memory.
"""
from __future__ import annotations

import re
import zlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .payloads import map_payloads

__all__ = [
    "synthesize_pdf_payload",
    "extract_pdf_text",
    "WORDS_PER_LINE",
    "LINES_PER_PAGE",
]

WORDS_PER_LINE = 8
LINES_PER_PAGE = 8

_MAX_INFLATED_BYTES = 64 * 1024 * 1024

PDF_PAYLOAD_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("content", T.BinaryType()),
        T.StructField("mime_type", T.StringType()),
    ]
)

PDF_TEXT_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("n_pages", T.IntegerType()),
        T.StructField("n_streams", T.IntegerType()),
        T.StructField("text", T.StringType()),
    ]
)


def _esc_pdf_string(s: str) -> str:
    """PDF 7.3.4.2 literal-string escaping for the writer."""
    return s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")


def _doc_lines(doc_id: int, text: str) -> list[str]:
    """The deterministic line layout a fixture PDF carries: a marker
    line with every escapable character, then the document's words
    regrouped WORDS_PER_LINE per line.  Closed-form from (doc_id,
    text), which is what makes the extraction oracle SQL-writable."""
    words = [w for w in text.split(" ") if w]
    lines = [f"doc ({doc_id}) \\mark"]
    for i in range(0, len(words), WORDS_PER_LINE):
        lines.append(" ".join(words[i : i + WORDS_PER_LINE]))
    return lines


def _page_content(lines: list[str], first_line_idx: int) -> bytes:
    """One page's content stream.  Every third line (global index) is
    emitted as a kerned two-chunk TJ array instead of a plain Tj so the
    extractor's TJ path is exercised on ordinary fixtures — the
    extracted text is identical either way."""
    ops = ["BT", "/F1 12 Tf", "72 720 Td", "14 TL"]
    for k, ln in enumerate(lines):
        i = first_line_idx + k
        if i % 3 == 2 and len(ln) > 2:
            cut = len(ln) // 2
            ops.append(
                f"[({_esc_pdf_string(ln[:cut])}) -120 "
                f"({_esc_pdf_string(ln[cut:])})] TJ"
            )
            ops.append("T*")
        else:
            ops.append(f"({_esc_pdf_string(ln)}) Tj")
            ops.append("T*")
    ops.append("ET")
    return "\n".join(ops).encode("latin-1")


def build_pdf(doc_id: int, text: str) -> bytes:
    """A conformant minimal PDF 1.4: catalog, page tree, one font, one
    FlateDecode content stream per LINES_PER_PAGE lines, and an
    offset-correct xref + trailer (checked by tests against the spec's
    20-byte entry format)."""
    lines = _doc_lines(doc_id, text)
    pages = [
        lines[i : i + LINES_PER_PAGE]
        for i in range(0, len(lines), LINES_PER_PAGE)
    ] or [[]]
    n_pages = len(pages)
    # object numbering: 1 catalog, 2 pages-tree, 3 font,
    # then per page i: 4+2i page, 5+2i content
    objs: list[bytes] = []
    kids = " ".join(f"{4 + 2 * i} 0 R" for i in range(n_pages))
    objs.append(
        f"<< /Type /Catalog /Pages 2 0 R >>".encode()
    )
    objs.append(
        f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode()
    )
    objs.append(
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    )
    first = 0
    for i, page_lines in enumerate(pages):
        objs.append(
            (
                f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
                f"/Resources << /Font << /F1 3 0 R >> >> "
                f"/Contents {5 + 2 * i} 0 R >>"
            ).encode()
        )
        raw = _page_content(page_lines, first)
        first += len(page_lines)
        comp = zlib.compress(raw, 6)
        objs.append(
            (
                f"<< /Length {len(comp)} /Filter /FlateDecode >>\n"
                "stream\n"
            ).encode()
            + comp
            + b"\nendstream"
        )
    out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets = [0]
    for num, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{num} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objs) + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += f"{off:010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
        f"startxref\n{xref_at}\n%%EOF\n"
    ).encode()
    return bytes(out)


def synthesize_pdf_payload(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """One deterministic multi-page PDF per row (see :func:`build_pdf`;
    layout constants WORDS_PER_LINE / LINES_PER_PAGE make page counts
    closed-form).  Arrow ``mapInPandas`` for the same reason as the
    JPEG/FLAC synthesizers: stream compression is not Catalyst
    arithmetic."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf_ in batches:
            yield pd.DataFrame(
                {
                    "asset_id": [int(i) for i in pdf_[id_col]],
                    "content": [
                        build_pdf(int(i), str(t))
                        for i, t in zip(pdf_[id_col], pdf_[text_col])
                    ],
                    "mime_type": ["application/pdf"] * len(pdf_),
                }
            )

    return df.select(
        F.col(id_col).cast("bigint").alias(id_col), text_col
    ).mapInPandas(run, PDF_PAYLOAD_SCHEMA)


_STREAM_RE = re.compile(
    rb"<<(.*?)>>\s*stream\r?\n(.*?)\r?\nendstream", re.DOTALL
)
_PAGE_RE = re.compile(rb"/Type\s*/Page(?![a-zA-Z])")

_ESCAPES = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f",
    b"(": b"(", b")": b")", b"\\": b"\\",
}


def _tokenize_content(raw: bytes) -> Iterator[tuple[str, bytes]]:
    """Content-stream tokens as ``('str', body)`` / ``('tok', op)``
    pairs.  String literals are scanned with a depth counter so
    BALANCED UNESCAPED parentheses — legal per 7.3.4.3 — nest
    correctly (a regex tokenizer cannot express this).  An unterminated
    literal consumes to end-of-stream, which on a malformed stream
    degrades to dropped trailing text, never an exception."""
    i, n = 0, len(raw)
    while i < n:
        c = raw[i : i + 1]
        if c.isspace():
            i += 1
        elif c == b"(":
            j = i + 1
            depth = 1
            buf = bytearray()
            while j < n:
                ch = raw[j : j + 1]
                if ch == b"\\":
                    buf += raw[j : j + 2]
                    j += 2
                    continue
                if ch == b"(":
                    depth += 1
                elif ch == b")":
                    depth -= 1
                    if depth == 0:
                        break
                buf += ch
                j += 1
            yield ("str", bytes(buf))
            i = j + 1
        elif c in (b"[", b"]"):
            yield ("tok", c)
            i += 1
        else:
            j = i
            while j < n and not raw[j : j + 1].isspace() and raw[
                j : j + 1
            ] not in (b"(", b"[", b"]"):
                j += 1
            yield ("tok", raw[i:j])
            i = j


def _unescape_pdf_string(body: bytes) -> str:
    """Decode one literal's body (parens already stripped by the
    tokenizer): two-char escapes, octal escapes, and line continuations
    per 7.3.4.2."""
    out = bytearray()
    i = 0
    while i < len(body):
        c = body[i : i + 1]
        if c != b"\\":
            if c == b"\r":
                # 7.3.4.2: an UNESCAPED EOL marker (CR, LF, or CRLF)
                # inside a literal shall be treated as a single 0x0A
                out += b"\n"
                i += 2 if body[i + 1 : i + 2] == b"\n" else 1
            else:
                out += c
                i += 1
            continue
        nxt = body[i + 1 : i + 2]
        if nxt in _ESCAPES:
            out += _ESCAPES[nxt]
            i += 2
        elif nxt and nxt in b"01234567":
            # octal escape: ONLY the digits 0-7 start one (a '\8' is the
            # ignored-backslash case below, per 7.3.4.2 — int(...,8)
            # on it would raise out of the Spark task)
            j = i + 1
            while (
                j < min(i + 4, len(body))
                and body[j : j + 1] in b"01234567"
            ):
                j += 1
            out.append(int(body[i + 1 : j], 8) & 0xFF)
            i = j
        elif nxt == b"\n":
            i += 2  # line continuation
        elif nxt == b"\r":
            # 7.3.4.2: backslash followed by ANY EOL marker (CR, LF, or
            # CRLF) is a line continuation — consume the full marker so
            # a \<CR><LF> does not leak a stray \r into the text
            i += 3 if body[i + 2 : i + 3] == b"\n" else 2
        else:
            out += nxt
            i += 2
    return out.decode("latin-1")


def _extract_stream_text(raw: bytes) -> list[str]:
    """Shown strings of one content stream, in order.  A TJ array's
    chunks concatenate WITHOUT separators (kerning numbers are layout,
    not text); each Tj / ' / TJ contributes one line."""
    lines: list[str] = []
    pending: list[str] = []  # literals seen since the last operator
    in_array = False
    array_parts: list[str] = []
    for kind, t in _tokenize_content(raw):
        if kind == "str":
            (array_parts if in_array else pending).append(
                _unescape_pdf_string(t)
            )
        elif t == b"[":
            in_array = True
            array_parts = []
        elif t == b"]":
            in_array = False
            pending.append("".join(array_parts))
        elif t in (b"Tj", b"'", b"TJ"):
            if pending:
                lines.append(pending[-1])
            pending = []
    return lines


def parse_pdf(b: bytes) -> tuple[int, int, str] | None:
    """(n_pages, n_streams, text) of one PDF, or None (quarantine) when
    the payload is not a PDF.  Non-Flate or undecodable streams are
    skipped individually; text joins every shown line with one space."""
    if not b.startswith(b"%PDF-"):
        return None
    n_pages = len(_PAGE_RE.findall(b))
    n_streams = 0
    lines: list[str] = []
    for m in _STREAM_RE.finditer(b):
        head, data = m.group(1), m.group(2)
        if b"/FlateDecode" not in head:
            continue
        try:
            d = zlib.decompressobj()
            raw = d.decompress(data, _MAX_INFLATED_BYTES)
            if d.unconsumed_tail:
                continue  # bomb guard tripped
        except zlib.error:
            continue
        n_streams += 1
        lines.extend(_extract_stream_text(raw))
    return n_pages, n_streams, " ".join(lines)


def _pdf_text_rows(b: bytes) -> list[dict]:
    parsed = parse_pdf(b)
    if parsed is None:
        return []
    n_pages, n_streams, text = parsed
    return [{"n_pages": n_pages, "n_streams": n_streams, "text": text}]


def extract_pdf_text(
    df: DataFrame, content_col: str = "content", id_col: str = "asset_id"
) -> DataFrame:
    """The extraction operator: one row per parseable PDF payload
    (:func:`operators.payloads.map_payloads`)."""
    return map_payloads(
        df, id_col, content_col, _pdf_text_rows, PDF_TEXT_SCHEMA
    )
