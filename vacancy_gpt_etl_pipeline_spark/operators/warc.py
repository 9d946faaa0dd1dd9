"""WARC (ISO 28500) web-archive ingestion — the Common Crawl container.

The reference pipeline's raw source is CSV files listed from object
storage (``dag/vacancy_pipline_gpt_rerty.py:91-117``); the equivalent
raw source for a 100 TB LLM training-data pipeline is the Common Crawl
WARC shard: a concatenation of per-record **gzip members**, each member
one WARC record (``warcinfo`` / ``request`` / ``response``) whose block
is an HTTP message carrying the fetched HTML.  This module implements
both directions dependency-free:

* :func:`synthesize_warc_payload` — builds real multi-member-gzip WARC
  shards from the ``documents`` fixture (closed-form record fields so a
  SQL oracle can replay every extracted value);
* :func:`read_warc_records` — the ingestion operator: splits gzip
  members with ``zlib`` (stdlib), parses WARC headers and the embedded
  HTTP response, and emits one row per record.

Scale design: shards are the unit of parallelism exactly as on Common
Crawl (one ~1 GB warc.gz per task).  Parsing is one parse function per
shard under :func:`operators.payloads.map_payloads` — per-shard
CPU-dense Python, the genuine shape for byte-stream decode (same
rationale as operators/jpeg.py).  Member
splitting uses ``decompressobj(...).unused_data`` so a shard streams in
one pass; a malformed member is quarantined (skipped), never fatal to
the task, per the multimodal module's quarantine-not-fail contract.
gzip members also bound memory: each member inflates independently, so
peak RSS is one record, not one shard.
"""
from __future__ import annotations

import zlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .payloads import map_payloads

__all__ = [
    "synthesize_warc_payload",
    "read_warc_records",
]

_CRLF = "\r\n"

WARC_SHARD_SCHEMA = T.StructType(
    [
        T.StructField("shard_id", T.LongType()),
        T.StructField("content", T.BinaryType()),
        T.StructField("n_members", T.IntegerType()),
    ]
)

WARC_RECORD_SCHEMA = T.StructType(
    [
        T.StructField("shard_id", T.LongType()),
        T.StructField("member_idx", T.IntegerType()),
        T.StructField("warc_type", T.StringType()),
        T.StructField("record_id", T.StringType()),
        T.StructField("warc_date", T.StringType()),
        T.StructField("target_uri", T.StringType()),
        T.StructField("content_length", T.LongType()),
        T.StructField("http_status", T.IntegerType()),
        T.StructField("http_content_type", T.StringType()),
        T.StructField("payload", T.BinaryType()),
    ]
)


def _html_body(doc_id: int, text: str) -> str:
    """The deterministic HTML wrapper a synthesized response carries.
    Closed-form from (doc_id, text) so the DuckDB oracle reconstructs
    the identical string and therefore the identical byte lengths."""
    return (
        "<!DOCTYPE html><html><head><title>doc "
        f"{doc_id}</title></head><body><p>{text}</p></body></html>"
    )


def _doc_uri(source: str, lang: str, doc_id: int) -> str:
    return f"https://{source}.example.org/{lang}/{doc_id}"


def _http_response(body: bytes) -> bytes:
    return (
        "HTTP/1.1 200 OK" + _CRLF
        + "Content-Type: text/html; charset=utf-8" + _CRLF
        + f"Content-Length: {len(body)}" + _CRLF + _CRLF
    ).encode("ascii") + body


def _http_request(uri: str) -> bytes:
    path = "/" + uri.split("/", 3)[-1]
    host = uri.split("/", 3)[2]
    return (
        f"GET {path} HTTP/1.1" + _CRLF
        + f"Host: {host}" + _CRLF
        + "User-Agent: warc-fixture/1.0" + _CRLF + _CRLF
    ).encode("ascii")


def _warc_record(
    warc_type: str,
    record_id: str,
    date: str,
    block: bytes,
    extra: list[tuple[str, str]] = (),
) -> bytes:
    hdr = [
        "WARC/1.0",
        f"WARC-Type: {warc_type}",
        f"WARC-Record-ID: <urn:uuid:{record_id}>",
        f"WARC-Date: {date}",
    ]
    hdr += [f"{k}: {v}" for k, v in extra]
    hdr.append(f"Content-Length: {len(block)}")
    head = (_CRLF.join(hdr) + _CRLF + _CRLF).encode("ascii")
    # spec: every record is terminated by two CRLFs after the block
    return head + block + (_CRLF + _CRLF).encode("ascii")


def _gzip_member(raw: bytes) -> bytes:
    """One deterministic gzip member (fixed level, mtime=0, no
    filename) so shard bytes are reproducible across runs and workers.
    Level 1: fixture records are small and the synthesizer's CPU cost
    is all deflate — decode correctness never depends on the level."""
    co = zlib.compressobj(1, zlib.DEFLATED, 16 + zlib.MAX_WBITS)
    return co.compress(raw) + co.flush()


def _rec_date(doc_id: int) -> str:
    return f"2026-01-{doc_id % 28 + 1:02d}T00:00:00Z"


def _rec_uuid(doc_id: int, kind: int) -> str:
    return f"00000000-0000-4000-8000-{kind:02d}{doc_id % 10**10:010d}"


def synthesize_warc_payload(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    lang_col: str = "lang",
    n_shards: int = 32,
) -> DataFrame:
    """Deterministic Common-Crawl-style WARC shards from the documents
    frame: ``shard = doc_id % n_shards``; each shard is ``warcinfo`` +
    per-document (``request``, ``response``) record pairs in doc_id
    order, every record an independent gzip member.  Built with
    ``applyInPandas`` over the shard key — the record stream must be
    assembled per shard in one task, and a shard is the natural task
    granule at crawl scale (Common Crawl caps warc.gz files near 1 GB
    for exactly this reason)."""

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col)
        shard = int(pdf["_shard"].iloc[0])
        parts = [
            _gzip_member(
                _warc_record(
                    "warcinfo",
                    _rec_uuid(shard, 99),
                    "2026-01-01T00:00:00Z",
                    (
                        "software: vacancy-gpt-etl-pipeline-spark/warc"
                        + _CRLF
                        + f"isPartOf: fixture-shard-{shard}"
                        + _CRLF
                    ).encode("ascii"),
                    [("Content-Type", "application/warc-fields")],
                )
            )
        ]
        n = 1
        for did, text, src, lang in zip(
            pdf[id_col], pdf[text_col], pdf[source_col], pdf[lang_col]
        ):
            did = int(did)
            uri = _doc_uri(str(src), str(lang), did)
            date = _rec_date(did)
            body = _html_body(did, str(text)).encode("utf-8")
            parts.append(
                _gzip_member(
                    _warc_record(
                        "request",
                        _rec_uuid(did, 1),
                        date,
                        _http_request(uri),
                        [
                            ("WARC-Target-URI", uri),
                            (
                                "Content-Type",
                                "application/http; msgtype=request",
                            ),
                        ],
                    )
                )
            )
            parts.append(
                _gzip_member(
                    _warc_record(
                        "response",
                        _rec_uuid(did, 2),
                        date,
                        _http_response(body),
                        [
                            ("WARC-Target-URI", uri),
                            (
                                "Content-Type",
                                "application/http; msgtype=response",
                            ),
                        ],
                    )
                )
            )
            n += 2
        return pd.DataFrame(
            {
                "shard_id": [shard],
                "content": [b"".join(parts)],
                "n_members": [n],
            }
        )

    return (
        df.select(
            F.col(id_col).cast("bigint").alias(id_col),
            F.col(text_col).alias(text_col),
            F.col(source_col).alias(source_col),
            F.col(lang_col).alias(lang_col),
            (F.col(id_col).cast("bigint") % n_shards).alias("_shard"),
        )
        .groupBy("_shard")
        .applyInPandas(build, WARC_SHARD_SCHEMA)
    )


_MAX_MEMBER_BYTES = 64 * 1024 * 1024
#: total inflated bytes (kept + discarded) one shard may produce — the
#: CPU/time twin of the per-member memory cap: without it, a shard of
#: many near-max-ratio deflate members could force minutes of
#: inflate-and-discard work per task before every member is skipped
_MAX_SHARD_INFLATED_BYTES = 4 * 1024 * 1024 * 1024


def _iter_gzip_members(b: bytes) -> Iterator[bytes]:
    """Stream the gzip members of a multi-member stream.  A corrupt or
    truncated member ends iteration (everything after it has no
    recoverable framing); prior members are already yielded.  Each
    member inflates with a hard output cap so a decompression-bomb
    record cannot exhaust executor memory (same guard rationale as
    multimodal._png_pixels); an over-cap member whose framing is
    intact is finished with DISCARDED output and skipped alone, and
    the shard-total inflated ceiling bounds the CPU that discarding
    can consume."""
    pos = 0
    total = 0
    while pos < len(b):
        if b[pos : pos + 2] != b"\x1f\x8b":
            return
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        try:
            raw = d.decompress(b[pos:], _MAX_MEMBER_BYTES)
            total += len(raw)
            oversized = False
            while not d.eof and d.unconsumed_tail:
                # member legitimately inflates past the cap: its gzip
                # framing is still intact, so finish inflating with
                # DISCARDED output and skip only this member — later
                # records in the shard survive (skip-not-stop; only
                # true corruption below loses the tail)
                oversized = True
                total += len(
                    d.decompress(d.unconsumed_tail, _MAX_MEMBER_BYTES)
                )
                if total > _MAX_SHARD_INFLATED_BYTES:
                    return
        except zlib.error:
            return
        if not d.eof:
            return
        if total > _MAX_SHARD_INFLATED_BYTES:
            return
        if not oversized:
            yield raw
        consumed = len(b) - pos - len(d.unused_data)
        if consumed <= 0:
            return
        pos += consumed


def _parse_warc_member(raw: bytes) -> dict | None:
    """One WARC record from one inflated member.  Returns the parsed
    field dict or None (quarantine) for anything that violates framing:
    missing version line, unterminated header block, negative or short
    block."""
    if not raw.startswith(b"WARC/"):
        return None
    split = raw.find(b"\r\n\r\n")
    if split < 0:
        return None
    try:
        head = raw[:split].decode("utf-8")
    except UnicodeDecodeError:
        return None
    headers: dict[str, str] = {}
    for line in head.split(_CRLF)[1:]:
        # spec grammar is `name ":" value` with OPTIONAL surrounding
        # whitespace — split on the bare colon and strip, so headers
        # written without a space after ':' still parse
        if ":" in line:
            k, v = line.split(":", 1)
            headers[k.strip().lower()] = v.strip()
    try:
        clen = int(headers.get("content-length", ""))
    except ValueError:
        return None
    block = raw[split + 4 : split + 4 + clen]
    if clen < 0 or len(block) < clen:
        return None
    rid = headers.get("warc-record-id", "")
    if rid.startswith("<") and rid.endswith(">"):
        rid = rid[1:-1]
    status = None
    ctype = None
    payload = None
    wct = headers.get("content-type", "")
    if wct.startswith("application/http"):
        hsplit = block.find(b"\r\n\r\n")
        if hsplit >= 0:
            try:
                hhead = block[:hsplit].decode("utf-8")
            except UnicodeDecodeError:
                hhead = ""
            hlines = hhead.split(_CRLF)
            if hlines and hlines[0].startswith("HTTP/"):
                bits = hlines[0].split(" ")
                if (
                    len(bits) >= 2
                    and bits[1].isascii()
                    and bits[1].isdecimal()
                ):
                    # the ASCII-decimal gate both prevents int() raising
                    # on Unicode digits ('²') AND rejects tokens int()
                    # would silently normalize ('+200', '2_00', Arabic-
                    # Indic digits) — malformed statuses quarantine to
                    # None, never coerce
                    status = int(bits[1])
                for line in hlines[1:]:
                    # bare-colon split, same tolerance as the WARC
                    # header loop (RFC 7230 allows no space)
                    k, _, v = line.partition(":")
                    if k.strip().lower() == "content-type":
                        ctype = v.strip()
                payload = block[hsplit + 4 :]
    return {
        "warc_type": headers.get("warc-type", ""),
        "record_id": rid,
        "warc_date": headers.get("warc-date", ""),
        "target_uri": headers.get("warc-target-uri"),
        "content_length": clen,
        "http_status": status,
        "http_content_type": ctype,
        "payload": payload,
    }


def _record_rows(b: bytes) -> list[dict]:
    """One row per parseable record of a shard; malformed members are
    skipped."""
    rows = []
    for idx, raw in enumerate(_iter_gzip_members(b)):
        rec = _parse_warc_member(raw)
        if rec is not None:
            rows.append({"member_idx": idx, **rec})
    return rows


def read_warc_records(
    df: DataFrame, content_col: str = "content", id_col: str = "shard_id"
) -> DataFrame:
    """The WARC ingestion operator: one input row per shard, one output
    row per successfully parsed record
    (:func:`operators.payloads.map_payloads`, so one task handles whole
    shards — the crawl-scale parallelism granule — and malformed members
    quarantine without failing the task)."""
    return map_payloads(
        df, id_col, content_col, _record_rows, WARC_RECORD_SCHEMA
    )
