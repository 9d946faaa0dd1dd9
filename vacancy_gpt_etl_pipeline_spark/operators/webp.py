"""WebP (RIFF) container census — the modern-web image member of the
codec-census family (operators/mp3.py census_mp3/census_adts set the
pattern; operators/multimodal.py holds the decodable-format tier).

A 100 TB crawl corpus is full of WebP assets; the curation-relevant
metadata (lossy/lossless/extended variant, canvas dimensions, alpha)
lives in container and stream headers that are fully public
(RFC 6386 §9.1 for the VP8 keyframe header; the WebP container and
VP8L specs for the rest) and cheap to walk byte-exactly:

- ``RIFF`` + LE32 size + ``WEBP``, then even-padded chunks
  (fourcc + LE32 size + payload);
- ``VP8 `` (lossy): 3-byte frame tag, the 9d 01 2a start code, then
  LE14 width / LE14 height (2 scale bits each);
- ``VP8L`` (lossless): the 0x2f signature byte, then a LE32 bit-pack
  of (width-1):14 | (height-1):14 | alpha:1 | version:3;
- ``VP8X`` (extended): flags byte (alpha = 0x10), 3 reserved bytes,
  LE24 (canvas width-1) / LE24 (canvas height-1).

Full bitstream decode (arithmetic-coded VP8 / LZ77-Huffman VP8L) is a
documented boundary like inter-predicted video; the census is the
inventory tier that matters for corpus auditing. Malformed payloads
(truncated chunks, RIFF size overrunning the buffer, missing
signatures) quarantine as ``fmt='webp?'`` with null census columns —
quarantine-not-fail, the decode_images contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .payloads import map_payloads

WEBP_CENSUS_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("variant", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("has_alpha", T.BooleanType()),
        T.StructField("n_chunks", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)


def _parse_webp(b: bytes):
    """``(variant, width, height, has_alpha, n_chunks)`` or None for a
    malformed container. First image chunk wins for dimensions; a
    VP8X canvas (which precedes the image chunks by spec) overrides,
    matching what renderers display."""
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WEBP":
        return None
    riff_size = int.from_bytes(b[4:8], "little")
    if riff_size < 4 or 8 + riff_size > len(b):
        return None  # truncated / size overruns the buffer
    end = 8 + riff_size
    i = 12
    variant = w = h = None
    alpha = False
    n_chunks = 0
    while i + 8 <= end:
        fourcc = b[i : i + 4]
        sz = int.from_bytes(b[i + 4 : i + 8], "little")
        if i + 8 + sz > end:
            # chunk size overruns the RIFF container — checked against
            # the container end, NOT the buffer: trailing garbage after
            # the RIFF payload must not make an overrunning chunk
            # readable (its "dimensions" would come from bytes outside
            # the container)
            return None
        payload = b[i + 8 : i + 8 + sz]
        n_chunks += 1
        if fourcc == b"VP8X" and sz >= 10:
            variant = "extended"
            alpha = bool(payload[0] & 0x10)
            w = int.from_bytes(payload[4:7], "little") + 1
            h = int.from_bytes(payload[7:10], "little") + 1
        elif fourcc == b"VP8 " and sz >= 10:
            if payload[3:6] != b"\x9d\x01\x2a":
                return None  # keyframe start code missing
            if variant is None:
                variant = "lossy"
                w = int.from_bytes(payload[6:8], "little") & 0x3FFF
                h = int.from_bytes(payload[8:10], "little") & 0x3FFF
        elif fourcc == b"VP8L" and sz >= 5:
            if payload[0] != 0x2F:
                return None  # lossless signature missing
            if variant is None:
                u = int.from_bytes(payload[1:5], "little")
                variant = "lossless"
                w = (u & 0x3FFF) + 1
                h = ((u >> 14) & 0x3FFF) + 1
                alpha = bool((u >> 28) & 1)
        i += 8 + sz + (sz & 1)  # chunks are even-padded
    if variant is None:
        return None
    return variant, w, h, alpha, n_chunks


def _census_rows(b: bytes) -> list[dict]:
    """One census row; a malformed container quarantines as
    ``fmt='webp?'`` with null census columns."""
    parsed = _parse_webp(b)
    if parsed is None:
        return [{"fmt": "webp?", "n_bytes": len(b)}]
    names = ("variant", "width", "height", "has_alpha", "n_chunks")
    return [{"fmt": "webp", "n_bytes": len(b), **dict(zip(names, parsed))}]


def census_webp(
    df: DataFrame, id_col: str = "asset_id", content_col: str = "content"
) -> DataFrame:
    """Walk every payload's RIFF chunk chain and emit one census row
    per asset (:func:`operators.payloads.map_payloads`); malformed
    containers quarantine as ``fmt='webp?'`` with null census
    columns."""
    return map_payloads(
        df, id_col, content_col, _census_rows, WEBP_CENSUS_SCHEMA
    )


def _le_hex(expr, n_bytes: int):
    """Hex string of ``expr`` as an ``n_bytes``-wide little-endian
    integer, assembled JVM-side (byte-reversed big-endian lpad)."""
    return F.concat(
        *[
            F.lpad(F.hex(F.shiftright(expr, 8 * k) % 256), 2, "0")
            for k in range(n_bytes)
        ]
    )


def synthesize_webp_payload(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic WebP fixture assembled JVM-side by hex
    concatenation (the synthesize_bmp_payload pattern): variant
    ``id % 3`` (0 lossy VP8, 1 lossless VP8L, 2 extended VP8X + VP8),
    width ``16 + id % 97``, height ``16 + id % 61``, alpha ``id % 2``
    for the VP8L/VP8X variants, lossy body filler ``id % 5`` bytes
    (exercising the even-pad rule). Every ``id % 23 == 0`` payload is
    TRUNCATED by 6 bytes — the RIFF size then overruns the buffer and
    the census must quarantine it. All fields are closed forms a SQL
    oracle replays without touching a byte."""
    i = F.col(id_col).cast("bigint")
    w = 16 + i % 97
    h = 16 + i % 61
    alpha = (i % 2).cast("int")
    fill_n = (i % 5).cast("int")
    # --- 'VP8 ' lossy chunk: 3-byte frame tag (keyframe, show_frame),
    # start code, LE14 dims, filler; payload size 10 + fill_n
    vp8_payload = F.concat(
        F.lit("100000"),  # frame tag LE24: show_frame bit set
        F.lit("9D012A"),
        _le_hex(w, 2),
        _le_hex(h, 2),
        F.repeat(F.lit("41"), fill_n),
    )
    vp8_size = 10 + fill_n
    vp8_chunk = F.concat(
        F.lit("56503820"),  # 'VP8 '
        _le_hex(vp8_size, 4),
        vp8_payload,
        # even-pad rule: odd payloads carry one pad byte NOT counted
        # in the size field
        F.when(vp8_size % 2 == 1, F.lit("00")).otherwise(F.lit("")),
    )
    vp8_disk = vp8_size + 8 + vp8_size % 2
    # --- 'VP8L' lossless chunk: signature + LE32 bit-pack, size 5
    vp8l_pack = (w - 1) + F.shiftleft(h - 1, 14) + F.shiftleft(alpha, 28)
    vp8l_chunk = F.concat(
        F.lit("5650384C"),  # 'VP8L'
        _le_hex(F.lit(5), 4),
        F.lit("2F"),
        _le_hex(vp8l_pack, 4),
        F.lit("00"),  # even pad
    )
    vp8l_disk = 5 + 8 + 1
    # --- 'VP8X' extended chunk: flags + reserved + LE24 canvas dims
    vp8x_chunk = F.concat(
        F.lit("56503858"),  # 'VP8X'
        _le_hex(F.lit(10), 4),
        F.when(alpha == 1, F.lit("10")).otherwise(F.lit("00")),
        F.lit("000000"),
        _le_hex(w - 1, 3),
        _le_hex(h - 1, 3),
    )
    vp8x_disk = 10 + 8
    variant = i % 3
    body = (
        F.when(variant == 0, vp8_chunk)
        .when(variant == 1, vp8l_chunk)
        .otherwise(F.concat(vp8x_chunk, vp8_chunk))
    )
    body_disk = (
        F.when(variant == 0, F.lit(vp8_disk))
        .when(variant == 1, F.lit(vp8l_disk))
        .otherwise(vp8x_disk + vp8_disk)
    )
    riff_size = body_disk + 4  # 'WEBP' + chunks
    full_hex = F.concat(
        F.lit("52494646"),  # 'RIFF'
        _le_hex(riff_size, 4),
        F.lit("57454250"),  # 'WEBP'
        body,
    )
    # truncation plant: chop 6 bytes (12 hex chars) off every 23rd id
    full_hex = F.when(
        i % 23 == 0,
        F.substring(full_hex, F.lit(1), F.length(full_hex) - 12),
    ).otherwise(full_hex)
    return df.select(
        F.col(id_col).cast("long").alias("asset_id"),
        F.unhex(full_hex).alias("content"),
    )
