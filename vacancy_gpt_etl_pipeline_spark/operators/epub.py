"""EPUB chapter extraction — dependency-free, stdlib ``zipfile`` only.

EPUB (ISO/IEC 23736) is the dominant e-book container in book corpora
(the third classic pretraining source after web crawl and PDF).  An
EPUB is a ZIP with a fixed discovery chain: ``mimetype`` (stored,
first entry) -> ``META-INF/container.xml`` -> the OPF package document
-> spine order over manifest hrefs -> XHTML chapters.  This module
walks that chain with no dependencies and reuses the engine's
HTML->text pattern tables (functions/html.py) for markup removal, so
chapter text matches what the codegen extractor would produce on the
same markup.

Both directions ship: :func:`synthesize_epub_payload` writes
deterministic conformant EPUBs (fixed timestamps so shard bytes are
reproducible; chapters slice the document's words WORDS_PER_CHAPTER at
a time — closed-form for the SQL oracle), and
:func:`extract_epub_chapters` is the ingestion operator (one parse
function under :func:`operators.payloads.map_payloads`, one output row
per spine chapter, quarantine on malformed containers, per-entry
decompressed-size cap against zip bombs).
"""
from __future__ import annotations

import io
import re
import zipfile
import zlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vacancy_gpt_etl_pipeline_spark.functions.html import (
    _HTML_ENTITIES,
    _HTML_STRIP_PATTERNS,
)

from .payloads import map_payloads

__all__ = [
    "synthesize_epub_payload",
    "extract_epub_chapters",
    "WORDS_PER_CHAPTER",
]

WORDS_PER_CHAPTER = 40

_MAX_ENTRY_BYTES = 64 * 1024 * 1024

# what zipfile raises on a corrupt archive or entry: bad central
# directory or CRC, truncated or invalid deflate data, negative seeks
# (ValueError), and RuntimeError for encrypted entries and — through
# its subclass NotImplementedError — unsupported zip versions and
# compression methods
_ZIP_ERRORS = (
    zipfile.BadZipFile,
    zlib.error,
    EOFError,
    OSError,
    RuntimeError,
    ValueError,
)

EPUB_PAYLOAD_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("content", T.BinaryType()),
        T.StructField("mime_type", T.StringType()),
    ]
)

EPUB_CHAPTER_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("chapter_idx", T.IntegerType()),
        T.StructField("href", T.StringType()),
        T.StructField("text", T.StringType()),
    ]
)

_CONTAINER_XML = (
    '<?xml version="1.0" encoding="UTF-8"?>\n'
    '<container version="1.0" '
    'xmlns="urn:oasis:names:tc:opendocument:xmlns:container">\n'
    '  <rootfiles><rootfile full-path="OEBPS/content.opf" '
    'media-type="application/oebps-package+xml"/></rootfiles>\n'
    "</container>\n"
)


def _chapter_xhtml(idx: int, words: list[str]) -> str:
    # head carries no text content so the stripped chapter text is
    # exactly "Chapter {idx} <words>" — one closed form for the oracle
    return (
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<html xmlns="http://www.w3.org/1999/xhtml"><head></head>'
        f"<body><h1>Chapter {idx}</h1><p>{' '.join(words)}</p>"
        "</body></html>\n"
    )


def _opf(n_chapters: int, doc_id: int) -> str:
    items = "".join(
        f'<item id="c{i}" href="ch{i}.xhtml" '
        'media-type="application/xhtml+xml"/>'
        for i in range(n_chapters)
    )
    spine = "".join(f'<itemref idref="c{i}"/>' for i in range(n_chapters))
    return (
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<package xmlns="http://www.idpf.org/2007/opf" version="3.0" '
        'unique-identifier="uid">\n'
        f'  <metadata><dc:identifier xmlns:dc='
        f'"http://purl.org/dc/elements/1.1/" id="uid">doc-{doc_id}'
        "</dc:identifier></metadata>\n"
        f"  <manifest>{items}</manifest>\n"
        f"  <spine>{spine}</spine>\n"
        "</package>\n"
    )


def build_epub(doc_id: int, text: str) -> bytes:
    """One deterministic conformant EPUB: stored-first ``mimetype``,
    container.xml, OPF with manifest+spine, WORDS_PER_CHAPTER-word
    XHTML chapters (at least one, possibly empty).  All timestamps
    pinned so payload bytes are reproducible across runs/workers."""
    words = [w for w in text.split(" ") if w]
    chapters = [
        words[i : i + WORDS_PER_CHAPTER]
        for i in range(0, len(words), WORDS_PER_CHAPTER)
    ] or [[]]
    buf = io.BytesIO()
    stamp = (2026, 1, 1, 0, 0, 0)

    def _add(zf: zipfile.ZipFile, name: str, data: str, stored: bool):
        zi = zipfile.ZipInfo(name, date_time=stamp)
        zi.compress_type = (
            zipfile.ZIP_STORED if stored else zipfile.ZIP_DEFLATED
        )
        zf.writestr(zi, data)

    with zipfile.ZipFile(buf, "w") as zf:
        _add(zf, "mimetype", "application/epub+zip", stored=True)
        _add(zf, "META-INF/container.xml", _CONTAINER_XML, stored=False)
        _add(zf, "OEBPS/content.opf", _opf(len(chapters), doc_id),
             stored=False)
        for i, ch in enumerate(chapters):
            _add(zf, f"OEBPS/ch{i}.xhtml", _chapter_xhtml(i, ch),
                 stored=False)
    return buf.getvalue()


def synthesize_epub_payload(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """One deterministic EPUB per row (see :func:`build_epub`)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "asset_id": [int(i) for i in pdf[id_col]],
                    "content": [
                        build_epub(int(i), str(t))
                        for i, t in zip(pdf[id_col], pdf[text_col])
                    ],
                    "mime_type": ["application/epub+zip"] * len(pdf),
                }
            )

    return df.select(
        F.col(id_col).cast("bigint").alias(id_col), text_col
    ).mapInPandas(run, EPUB_PAYLOAD_SCHEMA)


def _strip_markup(html: str) -> str:
    """The SAME strip chain the codegen extractor runs, applied with
    ``re`` — one pattern table, three engines (Spark codegen, DuckDB,
    Python worker), zero drift."""
    out = html
    for pat, rep in _HTML_STRIP_PATTERNS:
        out = re.sub(pat, rep, out)
    for ent, ch in _HTML_ENTITIES:
        out = out.replace(ent, ch)
    return re.sub(r"\s+", " ", out).strip()


def _read_entry(zf: zipfile.ZipFile, name: str) -> bytes | None:
    """One entry, with the declared-size bomb guard (a zip entry whose
    header promises more than the cap is never inflated) and read-time
    quarantine: a valid central directory does not guarantee valid
    deflate data or CRC, so corruption surfacing mid-read (zlib error,
    CRC BadZipFile, truncation, an unsupported compression method or
    zip version, an encrypted entry) returns None instead of escaping
    the Python worker."""
    try:
        info = zf.getinfo(name)
    except KeyError:
        return None
    if info.file_size > _MAX_ENTRY_BYTES:
        return None
    try:
        with zf.open(info) as fh:
            return fh.read(_MAX_ENTRY_BYTES + 1)
    except _ZIP_ERRORS:
        return None


def parse_epub(b: bytes) -> list[tuple[int, str, str]] | None:
    """Spine-ordered ``(chapter_idx, href, text)`` of one EPUB, or None
    (quarantine) when the container chain is malformed: not a zip (or a
    zip :mod:`zipfile` cannot open), wrong/missing mimetype,
    unresolvable container.xml/OPF.  A spine item whose chapter entry is
    missing or unreadable is skipped (quarantine at the finest
    granularity), like the PDF extractor's per-stream rule."""
    try:
        zf = zipfile.ZipFile(io.BytesIO(b))
    except _ZIP_ERRORS:
        return None
    with zf:
        mt = _read_entry(zf, "mimetype")
        if mt is None or mt.strip() != b"application/epub+zip":
            return None
        cont = _read_entry(zf, "META-INF/container.xml")
        if cont is None:
            return None
        m = re.search(rb'full-path="([^"]+)"', cont)
        if not m:
            return None
        # undecodable names cannot match an entry: the chain (OPF) or the
        # chapter then quarantines like a missing one
        opf_path = m.group(1).decode("utf-8", "replace")
        opf = _read_entry(zf, opf_path)
        if opf is None:
            return None
        base = opf_path.rsplit("/", 1)[0] + "/" if "/" in opf_path else ""
        # attribute order inside <item>/<itemref> is free in real OPFs
        # (many tools emit href or linear first) — scan each tag, then
        # pull attributes independently; the id pattern must not match
        # the tail of xml:id / unique-id (negative lookbehind)
        hrefs: dict[str, str] = {}
        for im in re.finditer(rb"<item\b[^>]*>", opf):
            tag = im.group(0)
            mid = re.search(rb'(?<![-:\w])id="([^"]+)"', tag)
            mhref = re.search(rb'(?<![-:\w])href="([^"]+)"', tag)
            if mid and mhref:
                hrefs[mid.group(1).decode("utf-8", "replace")] = (
                    mhref.group(1).decode("utf-8", "replace")
                )
        refs: list[str] = []
        for sm in re.finditer(rb"<itemref\b[^>]*>", opf):
            mref = re.search(rb'(?<![-:\w])idref="([^"]+)"', sm.group(0))
            if mref:
                refs.append(mref.group(1).decode("utf-8", "replace"))
        out: list[tuple[int, str, str]] = []
        idx = 0
        for ref in refs:
            href = hrefs.get(ref)
            if href is None:
                continue
            data = _read_entry(zf, base + href)
            if data is None:
                continue
            out.append(
                (idx, href, _strip_markup(data.decode("utf-8", "replace")))
            )
            idx += 1
        return out


def _chapter_rows(b: bytes) -> list[dict]:
    return [
        {"chapter_idx": idx, "href": href, "text": text}
        for idx, href, text in parse_epub(b) or []
    ]


def extract_epub_chapters(
    df: DataFrame, content_col: str = "content", id_col: str = "asset_id"
) -> DataFrame:
    """The ingestion operator: one row per spine chapter
    (:func:`operators.payloads.map_payloads`)."""
    return map_payloads(
        df, id_col, content_col, _chapter_rows, EPUB_CHAPTER_SCHEMA
    )
