"""JPEG EXIF metadata census — the image-metadata PII tier (the text
side has `pii_redaction`; crawled images carry their own PII in EXIF:
GPS coordinates, device serials, timestamps). Public formats end to
end: JPEG marker segments (ITU T.81), the Exif APP1 payload (a TIFF
file: II/MM byte order, 12-byte IFD entries of (tag, type, count,
value-or-offset)), the Exif and GPS sub-IFDs reached through the
0x8769 / 0x8825 pointer tags, and GPS latitude as three RATIONALs
(deg, min, sec).

Census columns are what a curation run acts on: device make,
orientation, capture timestamp, and — the PII flag — GPS presence
plus the decoded decimal latitude. Both TIFF byte orders are
exercised by the fixture (id parity), because a walker that only
handles II silently mis-reads every MM camera. Malformed payloads
(truncated APP1, bad TIFF magic, entry tables overrunning the
segment) quarantine as ``fmt='jpeg?'`` with null columns —
quarantine-not-fail. A structurally VALID JPEG whose marker walk
completes (EOI or SOS reached) without an Exif APP1 is NOT
quarantined: it censuses as ``fmt='jpeg'`` with ``has_gps=false``
and null metadata — a PII audit must distinguish 'no GPS present'
from 'unparseable'. The walk skips 0xFF fill bytes and standalone
markers (TEM 0x01, RSTn 0xD0–0xD7), which carry no length field.
Pixel decode stays operators/jpeg.py's job; this is the metadata
tier, like the MP3/ADTS/WebP censuses.
"""

from __future__ import annotations

import struct
from itertools import accumulate

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .payloads import map_payloads, synthesize_payloads

EXIF_CENSUS_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("byte_order", T.StringType()),
        T.StructField("make", T.StringType()),
        T.StructField("orientation", T.IntegerType()),
        T.StructField("datetime_original", T.StringType()),
        T.StructField("has_gps", T.BooleanType()),
        T.StructField("gps_lat", T.DoubleType()),
        T.StructField("n_ifd0_entries", T.IntegerType()),
    ]
)

_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8}


def _read_ifd(tiff: bytes, off: int, e: str):
    """((tag → (type, count, raw-value-field)), entry_count) at
    ``off``; raises ValueError past the buffer."""
    if off + 2 > len(tiff):
        raise ValueError("IFD offset past buffer")
    n = struct.unpack(e + "H", tiff[off : off + 2])[0]
    end = off + 2 + 12 * n
    if end + 4 > len(tiff):
        raise ValueError("IFD entries past buffer")
    out = {}
    for k in range(n):
        base = off + 2 + 12 * k
        tag, typ, cnt = struct.unpack(e + "HHL", tiff[base : base + 8])
        out[tag] = (typ, cnt, tiff[base + 8 : base + 12])
    return out, n


def _value(tiff: bytes, typ: int, cnt: int, raw: bytes, e: str):
    """Decode an IFD entry value, following the offset indirection
    when the payload exceeds 4 bytes."""
    size = _TYPE_SIZE.get(typ)
    if size is None:
        return None
    total = size * cnt
    if total <= 4:
        buf = raw[:total]
    else:
        off = struct.unpack(e + "L", raw)[0]
        if off + total > len(tiff):
            raise ValueError("value offset past buffer")
        buf = tiff[off : off + total]
    if typ == 2:  # ASCII, NUL-terminated
        return buf.split(b"\x00")[0].decode("ascii", "replace")
    if typ == 3:
        return list(struct.unpack(e + "H" * cnt, buf))
    if typ == 4:
        return list(struct.unpack(e + "L" * cnt, buf))
    if typ == 5:  # RATIONAL pairs
        flat = struct.unpack(e + "L" * (2 * cnt), buf)
        return [(flat[2 * i], flat[2 * i + 1]) for i in range(cnt)]
    return list(buf)


#: sentinel for "structurally valid JPEG, no Exif APP1" — distinct
#: from None (malformed/truncated → quarantine). A string, not
#: ``object()``: the census closure crosses the Arrow-worker pickle
#: boundary, where a by-value copy of an object() sentinel breaks
#: ``is`` checks — compare with ``==``.
NO_EXIF = "no_exif"


def _parse_exif(b: bytes):
    """Census tuple, :data:`NO_EXIF` for a clean JPEG without an Exif
    APP1, or None for malformed input. Walks JPEG segments to
    APP1/Exif, then the TIFF structure inside it."""
    if len(b) < 4 or b[:2] != b"\xff\xd8":
        return None
    i = 2
    app1 = None
    walk_complete = False
    while i < len(b):
        if b[i] != 0xFF:
            return None
        # fill bytes: any run of 0xFF pads before the marker code
        j = i + 1
        while j < len(b) and b[j] == 0xFF:
            j += 1
        if j >= len(b):
            return None  # trailing fill with no marker — truncated
        marker = b[j]
        if marker == 0xD9:  # EOI — metadata walk completed
            walk_complete = True
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            # standalone TEM/RSTn: no length field follows
            i = j + 1
            continue
        if marker == 0xDA:
            # SOS: APPn segments must precede the scan, so an APP1
            # was never going to appear — stop without parsing
            # entropy-coded data
            walk_complete = True
            break
        if marker == 0x00:
            return None  # 0xFF00 byte-stuffing outside a scan
        if j + 3 > len(b):
            return None
        seg_len = struct.unpack(">H", b[j + 1 : j + 3])[0]
        if seg_len < 2 or j + 1 + seg_len > len(b):
            return None  # truncated segment
        if marker == 0xE1 and b[j + 3 : j + 9] == b"Exif\x00\x00":
            app1 = b[j + 9 : j + 1 + seg_len]
            break
        i = j + 1 + seg_len
    if app1 is None:
        return NO_EXIF if walk_complete else None
    tiff = app1
    if len(tiff) < 8:
        return None
    order = tiff[:2]
    if order == b"II":
        e = "<"
    elif order == b"MM":
        e = ">"
    else:
        return None
    magic, ifd0_off = struct.unpack(e + "HL", tiff[2:8])
    if magic != 42:
        return None
    # tag-level corruption guards: a flipped TYPE byte makes _value
    # return a differently-shaped (or None) payload — each extractor
    # accepts only the shape its tag is defined with and treats
    # anything else as the tag being absent (quarantine stays reserved
    # for STRUCTURAL damage: offsets/tables past the buffer)
    def _ptr(entry):
        v = _value(tiff, *entry, e)
        if isinstance(v, list) and v and isinstance(v[0], int):
            return v[0]
        return None

    try:
        ifd0, n0 = _read_ifd(tiff, ifd0_off, e)
        make = None
        if 0x010F in ifd0:
            v = _value(tiff, *ifd0[0x010F], e)
            make = v if isinstance(v, str) else None
        orientation = None
        if 0x0112 in ifd0:
            v = _value(tiff, *ifd0[0x0112], e)
            if isinstance(v, list) and v and isinstance(v[0], int):
                orientation = int(v[0])
        dt = None
        if 0x8769 in ifd0:  # Exif sub-IFD pointer
            off = _ptr(ifd0[0x8769])
            if off is not None:
                exif_ifd, _ = _read_ifd(tiff, off, e)
                if 0x9003 in exif_ifd:  # DateTimeOriginal
                    v = _value(tiff, *exif_ifd[0x9003], e)
                    dt = v if isinstance(v, str) else None
        has_gps, gps_lat = False, None
        if 0x8825 in ifd0:  # GPS sub-IFD pointer
            off = _ptr(ifd0[0x8825])
            if off is not None:
                gps_ifd, _ = _read_ifd(tiff, off, e)
                has_gps = True
                if 2 in gps_ifd:  # GPSLatitude: 3 RATIONALs
                    rats = _value(tiff, *gps_ifd[2], e)
                    if (
                        isinstance(rats, list)
                        and rats
                        and all(
                            isinstance(r, tuple) and len(r) == 2
                            for r in rats
                        )
                        and all(d != 0 for _, d in rats)
                    ):
                        deg = rats[0][0] / rats[0][1]
                        mins = (
                            rats[1][0] / rats[1][1] if len(rats) > 1 else 0
                        )
                        secs = (
                            rats[2][0] / rats[2][1] if len(rats) > 2 else 0
                        )
                        gps_lat = round(deg + mins / 60 + secs / 3600, 6)
    except ValueError:
        return None
    return (
        order.decode("ascii"),
        make,
        orientation,
        dt,
        has_gps,
        gps_lat,
        n0,
    )


TIFF_CENSUS_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("byte_order", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("bits_per_sample", T.IntegerType()),
        T.StructField("compression", T.IntegerType()),
        T.StructField("n_ifds", T.IntegerType()),
        T.StructField("n_ifd0_entries", T.IntegerType()),
    ]
)


def _parse_tiff(b: bytes):
    """Standalone TIFF container census (TIFF 6.0): the same II/MM +
    magic-42 + IFD machinery the EXIF walker hops through, but as the
    whole file — scanned-document corpora ship bare .tif. Walks the
    IFD CHAIN (next-IFD pointer; multi-page TIFFs are IFD lists),
    reading the baseline tags from IFD0: ImageWidth 0x0100,
    ImageLength 0x0101, BitsPerSample 0x0102, Compression 0x0103.
    Returns the census tuple or None for malformed input (bad order
    bytes, wrong magic, IFD/value offsets past the buffer, an IFD
    chain that loops)."""
    if len(b) < 8:
        return None
    order = b[:2]
    if order == b"II":
        e = "<"
    elif order == b"MM":
        e = ">"
    else:
        return None
    magic, ifd_off = struct.unpack(e + "HL", b[2:8])
    if magic != 42:
        return None

    def _first_int(entry):
        v = _value(b, *entry, e)
        if isinstance(v, list) and v and isinstance(v[0], int):
            return int(v[0])
        return None

    try:
        seen: set[int] = set()
        n_ifds = 0
        first: dict | None = None
        n0 = 0
        off = ifd_off
        while off:
            if off in seen:
                return None  # circular IFD chain
            seen.add(off)
            ifd, n = _read_ifd(b, off, e)
            if n_ifds == 0:
                first, n0 = ifd, n
            n_ifds += 1
            if n_ifds > 10_000:
                return None  # unreasonable page count — corrupt chain
            tail = off + 2 + 12 * n
            off = struct.unpack(e + "L", b[tail : tail + 4])[0]
        if first is None:
            return None  # zero IFDs: not a usable TIFF
        w = _first_int(first[0x0100]) if 0x0100 in first else None
        h = _first_int(first[0x0101]) if 0x0101 in first else None
        bits = _first_int(first[0x0102]) if 0x0102 in first else None
        comp = _first_int(first[0x0103]) if 0x0103 in first else None
    except ValueError:
        return None
    return (
        order.decode("ascii"),
        w,
        h,
        bits,
        comp,
        n_ifds,
        n0,
    )


def _tiff_census_rows(b: bytes) -> list[dict]:
    """One census row; malformed payloads quarantine as
    ``fmt='tiff?'`` with null census columns."""
    parsed = _parse_tiff(b)
    if parsed is None:
        return [{"fmt": "tiff?"}]
    names = ("byte_order", "width", "height", "bits_per_sample",
             "compression", "n_ifds", "n_ifd0_entries")
    return [{"fmt": "tiff", **dict(zip(names, parsed))}]


def census_tiff(
    df: DataFrame, id_col: str = "asset_id", content_col: str = "content"
) -> DataFrame:
    """Walk every payload's TIFF IFD chain
    (:func:`operators.payloads.map_payloads`); malformed payloads
    quarantine as ``fmt='tiff?'`` with null census columns — the
    census_exif contract on the standalone container."""
    return map_payloads(
        df, id_col, content_col, _tiff_census_rows, TIFF_CENSUS_SCHEMA
    )


def _build_tiff(i: int) -> bytes:
    """One deterministic standalone-TIFF fixture payload. Closed
    forms: byte order II for even ids / MM for odd; width 32 + id%97;
    height 24 + id%61; bits 8 except bilevel scans (1) every 3rd id;
    compression 1 (none) except LZW (5, header-only) every 4th id;
    pages 1 + id%3 (a real multi-page IFD chain). Every
    ``id % 37 == 0`` payload is truncated mid-IFD → quarantine."""
    e = "<" if i % 2 == 0 else ">"
    n_pages = 1 + i % 3
    w, h = 32 + i % 97, 24 + i % 61
    bits = 8 if i % 3 != 0 else 1
    comp = 1 if i % 4 != 0 else 5

    def entry(tag, typ, cnt, raw4):
        return struct.pack(e + "HHL", tag, typ, cnt) + raw4

    def short4(v):
        return struct.pack(e + "H", v) + b"\x00\x00"

    # each page IFD: 4 entries + next pointer, laid out back-to-back
    ifd_size = 2 + 12 * 4 + 4
    out = (b"II" if e == "<" else b"MM") + struct.pack(e + "HL", 42, 8)
    for p in range(n_pages):
        off = 8 + p * ifd_size
        nxt = off + ifd_size if p + 1 < n_pages else 0
        entries = [
            entry(0x0100, 3, 1, short4(w)),
            entry(0x0101, 3, 1, short4(h)),
            entry(0x0102, 3, 1, short4(bits)),
            entry(0x0103, 3, 1, short4(comp)),
        ]
        out += (
            struct.pack(e + "H", 4)
            + b"".join(entries)
            + struct.pack(e + "L", nxt)
        )
    if i % 37 == 0:
        out = out[: len(out) - len(out) // 2]  # truncate mid-IFD
    return out


def synthesize_tiff_payload(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic standalone-TIFF fixture (the
    :func:`synthesize_exif_payload` pattern). Closed forms in
    :func:`_build_tiff`."""
    return synthesize_payloads(df, id_col, _build_tiff)


def _packbits_decode(src: bytes, expected: int) -> bytes | None:
    """Decode an Apple PackBits stream (TIFF 6.0 §9, Compression
    32773) to exactly ``expected`` bytes; None on truncation, overrun,
    or a stream that ends at the wrong length — the quarantine
    signal, never an exception."""
    out = bytearray()
    i, n = 0, len(src)
    while i < n and len(out) < expected:
        c = src[i] - 256 if src[i] > 127 else src[i]
        i += 1
        if c >= 0:  # literal run of c+1 bytes
            if i + c + 1 > n:
                return None
            out += src[i : i + c + 1]
            i += c + 1
        elif c != -128:  # repeat next byte 1-c times; -128 is a no-op
            if i >= n:
                return None
            out += src[i : i + 1] * (1 - c)
            i += 1
    if len(out) != expected:
        return None
    return bytes(out)


def _packbits_encode(src: bytes) -> bytes:
    """PackBits-encode (fixture-side only — the operator DECODES):
    runs of ≥2 equal bytes become repeat packets, everything else
    literal packets; both capped at 128 per the spec."""
    out = bytearray()
    i, n = 0, len(src)
    while i < n:
        j = i
        while j + 1 < n and src[j + 1] == src[j] and j + 1 - i < 127:
            j += 1
        if j > i:  # repeat packet: length L in 2..128 → header -(L-1)
            out += bytes(((256 - (j - i)) & 0xFF, src[i]))
            i = j + 1
            continue
        k = i + 1  # literal packet up to the next 2-run or the cap
        while (
            k < n
            and (k + 1 >= n or src[k] != src[k + 1])
            and k - i < 128
        ):
            k += 1
        out.append(k - i - 1)
        out += src[i:k]
        i = k
    return bytes(out)


def _lzw_decode(src: bytes, expected: int) -> bytes | None:
    """Decode a TIFF 6.0 §13 LZW stream (MSB-first bit packing,
    ClearCode 256 / EOI 257, 9→12-bit codes with the TIFF
    early-change rule: width bumps when the NEXT table entry would be
    2^width − 1) to exactly ``expected`` bytes; None on any malformed
    stream — bad code, missing EOI, wrong decoded length. Never
    raises, never over-allocates past ``expected``."""
    buf = 0
    nbits = 0
    i = 0
    width = 9

    def read():
        nonlocal buf, nbits, i
        while nbits < width:
            if i >= len(src):
                return None
            buf = (buf << 8) | src[i]
            i += 1
            nbits += 8
        nbits -= width
        return (buf >> nbits) & ((1 << width) - 1)

    table: list[bytes] = [bytes([c]) for c in range(256)] + [b"", b""]
    out = bytearray()
    prev: bytes | None = None
    while True:
        code = read()
        if code is None:
            return None  # stream ended without EOI
        if code == 256:  # clear
            table = table[:258]
            width = 9
            prev = None
            continue
        if code == 257:  # end of information
            break
        if prev is None:
            if code > 255:
                return None  # first code after clear must be literal
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):  # the KwKwK case
            entry = prev + prev[:1]
            table.append(entry)
        else:
            return None
        out += entry
        if len(out) > expected:
            return None
        prev = entry
        if len(table) == (1 << width) - 1 and width < 12:
            width += 1
    if len(out) != expected:
        return None
    return bytes(out)


def _lzw_encode(data: bytes) -> bytes:
    """TIFF-flavor LZW encoder (fixture-side only — the operator
    DECODES): leading ClearCode, greedy longest-match, early-change
    width bumps mirroring :func:`_lzw_decode` exactly."""
    out = bytearray()
    buf = 0
    nbits = 0
    width = 9

    def emit(code: int) -> None:
        nonlocal buf, nbits
        buf = (buf << width) | code
        nbits += width
        while nbits >= 8:
            nbits -= 8
            out.append((buf >> nbits) & 0xFF)

    codes: dict[bytes, int] = {bytes([c]): c for c in range(256)}
    next_code = 258
    emit(256)
    w = b""
    for j in range(len(data)):
        ch = data[j : j + 1]
        wc = w + ch
        if wc in codes:
            w = wc
            continue
        emit(codes[w])
        if next_code <= 4093:
            codes[wc] = next_code
            next_code += 1
            # the ENCODER runs one table entry ahead of the decoder,
            # so its width bump lands one entry LATER (2^w, vs the
            # decoder's early-change 2^w - 1) for stream widths to
            # pair up — the public libtiff convention
            if next_code == (1 << width) and width < 12:
                width += 1
        w = ch
    if w:
        emit(codes[w])
        # the decoder appends one more table entry after this final
        # data code; if that lands exactly on its early-change
        # threshold it reads EOI one bit wider — mirror the bump
        if next_code == (1 << width) - 1 and width < 12:
            width += 1
    emit(257)
    if nbits:
        out.append((buf << (8 - nbits)) & 0xFF)
    return bytes(out)


def _tiff_gray(b: bytes):
    """Decode a baseline TIFF 6.0 payload to an (h, w) int64 grayscale
    matrix, top row first — the pixel tier the container census can't
    provide (a scanned-document corpus dedups on CONTENT, not tags).
    Supported: uncompressed (1), LZW (5, §13 early-change codes, with
    the horizontal-differencing Predictor 2 on 8-bit samples) and
    PackBits (32773) strip data; photometric WhiteIsZero 0 /
    BlackIsZero 1 at 8-bit AND 1-bit (bilevel rows MSB-packed,
    byte-aligned per row — the fax-scan layout; inverted for 0) and
    RGB 2 (8,8,8 → exact integer mean (R+G+B)//3, the BMP tier's
    formula). Strips reassemble via StripOffsets 0x0111 /
    StripByteCounts 0x0117 / RowsPerStrip 0x0116 (default: one strip).
    Anything else — remaining codecs (JPEG-in-TIFF / CCITT G3/G4 stay
    the documented boundary), tiled layout, bad geometry, strip
    overrun, decode length mismatch — returns None
    (quarantine-not-fail; the census tier names the payload). Never
    raises on crafted input."""
    import numpy as np

    if len(b) < 8:
        return None
    order = b[:2]
    if order == b"II":
        e = "<"
    elif order == b"MM":
        e = ">"
    else:
        return None
    magic, ifd_off = struct.unpack(e + "HL", b[2:8])
    if magic != 42:
        return None
    try:
        ifd, _n = _read_ifd(b, ifd_off, e)

        def ints(tag, default=None):
            if tag not in ifd:
                return default
            v = _value(b, *ifd[tag], e)
            if isinstance(v, list) and all(
                isinstance(x, int) for x in v
            ):
                return v
            return None

        wv, hv = ints(0x0100), ints(0x0101)
        if not wv or not hv:
            return None
        w, h = wv[0], hv[0]
        bits = ints(0x0102, [8])
        comp = ints(0x0103, [1])
        photo = ints(0x0106, [1])
        spp_l = ints(0x0115, [1])
        rps_l = ints(0x0116, [h])
        pred_l = ints(0x013D, [1])
        offs = ints(0x0111)
        cnts = ints(0x0117)
    except ValueError:
        return None
    if None in (bits, comp, photo, spp_l, rps_l, pred_l) or not (
        comp and photo and spp_l and rps_l and pred_l
    ):
        return None
    comp, photo, spp, rps, pred = (
        comp[0],
        photo[0],
        spp_l[0],
        rps_l[0],
        pred_l[0],
    )
    if w <= 0 or h <= 0 or rps <= 0 or w * h * spp > (1 << 26):
        return None
    if comp not in (1, 5, 32773):
        return None
    if photo in (0, 1):
        if spp != 1 or bits not in ([8], [1]):
            return None
        depth = bits[0]
    elif photo == 2:
        if spp != 3 or bits != [8, 8, 8]:
            return None
        depth = 8
    else:
        return None
    if pred not in (1, 2) or (pred == 2 and depth != 8):
        # horizontal differencing is defined on 8-bit samples here;
        # anything else quarantines rather than mis-decoding
        return None
    if offs is None or cnts is None or len(offs) != len(cnts):
        return None
    n_strips = (h + rps - 1) // rps
    if len(offs) != n_strips:
        return None
    # bilevel rows pack MSB-first and each ROW starts on a byte
    # boundary (TIFF 6.0 §8)
    row_bytes = (w * spp * depth + 7) // 8
    data = bytearray()
    for si, (o, c) in enumerate(zip(offs, cnts)):
        if o < 0 or c < 0 or o + c > len(b):
            return None
        rows_here = min(rps, h - si * rps)
        expected = rows_here * row_bytes
        strip = b[o : o + c]
        if comp == 1:
            if c != expected:
                return None
            dec = strip
        elif comp == 5:
            dec = _lzw_decode(strip, expected)
        else:
            dec = _packbits_decode(strip, expected)
        if dec is None:
            return None
        data += dec
    px = np.frombuffer(bytes(data), dtype=np.uint8).astype(np.int64)
    if depth == 1:
        rows = px.reshape(h, row_bytes).astype(np.uint8)
        bits_m = np.unpackbits(rows, axis=1)[:, :w].astype(np.int64)
        return 255 * (1 - bits_m) if photo == 0 else 255 * bits_m
    if pred == 2:
        # horizontal differencing: sample i = delta i + sample i-spp,
        # per row per channel — an exact per-row cumsum mod 256
        px = (
            px.reshape(h, w, spp).cumsum(axis=1, dtype=np.int64) % 256
        ).reshape(-1)
    if photo == 2:
        return px.reshape(h, w, 3).sum(axis=2) // 3
    g = px.reshape(h, w)
    return 255 - g if photo == 0 else g


def _tiff_strip_file(
    e: str,
    w: int,
    h: int,
    bits: int,
    comp: int,
    photo: int,
    spp: int,
    rps: int,
    strips: list[bytes],
    truncate: bool,
    extra: tuple[tuple[int, int], ...] = (),
) -> bytes:
    """One single-IFD strip TIFF in byte order ``e``: the 8-byte header,
    the IFD (the nine baseline tags, then the ``extra`` (tag, value)
    SHORT entries), the out-of-line values — the RGB BitsPerSample
    triple when ``spp == 3`` and, for more than one strip, the strip
    offset and byte-count arrays — then the strip bytes. ``truncate``
    cuts the file mid-strip (the quarantine class)."""

    def entry(tag, typ, cnt, raw4):
        return struct.pack(e + "HHL", tag, typ, cnt) + raw4

    def short4(v):
        return struct.pack(e + "H", v) + b"\x00\x00"

    def long4(v):
        return struct.pack(e + "L", v)

    n = len(strips)
    counts = [len(s) for s in strips]
    val_off = 8 + 2 + 12 * (9 + len(extra)) + 4
    bits_tail = struct.pack(e + "HHH", 8, 8, 8) if spp == 3 else b""
    bits_raw = long4(val_off) if spp == 3 else short4(bits)
    arr_off = val_off + len(bits_tail)
    if n > 1:
        offs = list(accumulate(counts[:-1], initial=arr_off + 8 * n))
        arrays = struct.pack(e + "L" * n, *offs) + struct.pack(e + "L" * n, *counts)
        so_raw, sc_raw = long4(arr_off), long4(arr_off + 4 * n)
    else:
        arrays = b""
        so_raw, sc_raw = long4(arr_off), long4(counts[0])
    entries = [
        entry(0x0100, 3, 1, short4(w)),
        entry(0x0101, 3, 1, short4(h)),
        entry(0x0102, 3, spp, bits_raw),
        entry(0x0103, 3, 1, short4(comp)),
        entry(0x0106, 3, 1, short4(photo)),
        entry(0x0111, 4, n, so_raw),
        entry(0x0115, 3, 1, short4(spp)),
        entry(0x0116, 3, 1, short4(rps)),
        entry(0x0117, 4, n, sc_raw),
        *[entry(tag, 3, 1, short4(v)) for tag, v in extra],
    ]
    out = (
        (b"II" if e == "<" else b"MM")
        + struct.pack(e + "HL", 42, 8)
        + struct.pack(e + "H", len(entries))
        + b"".join(entries)
        + struct.pack(e + "L", 0)
        + bits_tail
        + arrays
        + b"".join(strips)
    )
    if truncate:
        out = out[: len(out) - max(1, counts[-1] // 2)]
    return out


def _build_tiff_px(i: int) -> bytes:
    """One deterministic PIXEL-bearing TIFF fixture payload — the
    decode tier's twin of :func:`_build_tiff` (which carries tags
    only). Closed forms: byte order II even / MM odd; ``src = i mod
    250`` drives everything hash-visible, so ids sharing a residue
    decode to the SAME grayscale (the dup population); width
    ``8 + src%16``, height ``8 + src%8``; photometric cycles i%3
    (WhiteIsZero stores inverted bytes, BlackIsZero plain, RGB stores
    (g+1, g, g-1) whose exact mean is g); compression PackBits every
    4th id else none; RowsPerStrip 4 → a real multi-strip layout with
    external offset/count arrays. Decoded gray at pixel ``idx`` is
    always ``1 + (src*31 + (idx//4)*7) % 254`` — one oracle formula
    across all photometric/compression classes (the //4 plateaus give
    PackBits real repeat packets). Every ``i % 37 == 0`` payload is
    truncated mid-strip → quarantine."""
    e = "<" if i % 2 == 0 else ">"
    src = i % 250
    w, h = 8 + src % 16, 8 + src % 8
    photo = i % 3
    spp = 3 if photo == 2 else 1
    comp = 32773 if i % 4 == 0 else 1
    rps = 4

    raw = bytearray()
    for idx in range(w * h):
        gv = 1 + (src * 31 + (idx // 4) * 7) % 254
        if photo == 2:
            raw += bytes((gv + 1, gv, gv - 1))
        elif photo == 0:
            raw.append(255 - gv)
        else:
            raw.append(gv)
    strips = []
    for r0 in range(0, h, rps):
        rows_here = min(rps, h - r0)
        seg = bytes(raw[r0 * w * spp : (r0 + rows_here) * w * spp])
        strips.append(_packbits_encode(seg) if comp == 32773 else seg)
    return _tiff_strip_file(
        e, w, h, 8, comp, photo, spp, rps, strips, i % 37 == 0
    )


def _build_tiff_cx(i: int) -> bytes:
    """Compressed/extended TIFF fixture — the classes
    :func:`_build_tiff_px` leaves to the baseline tier. Class
    ``i % 4``: 0 = LZW gray, 1 = LZW gray + Predictor 2 (horizontal
    differencing), 2 = LZW RGB + Predictor 2, 3 = uncompressed
    BILEVEL (1-bit, WhiteIsZero, rows MSB-packed byte-aligned — the
    fax-scan layout). Byte order II even / MM odd; ``src = i mod
    250`` drives dims (w ``8 + src%16``, h ``8 + src%8``) and pixels;
    RowsPerStrip 4. Decoded gray closed forms the oracle replays:
    classes 0-2 → ``1 + (src*31 + (idx//4)*7) % 254`` (identical to
    the baseline fixture — LZW and the predictor are invisible after
    decode, which is exactly what pins them); class 3 →
    ``255 · ((src*31 + (idx//4)*7) % 2)``. Every ``i % 37 == 0``
    payload is truncated mid-strip → quarantine."""
    e = "<" if i % 2 == 0 else ">"
    src = i % 250
    w, h = 8 + src % 16, 8 + src % 8
    cls = i % 4
    bilevel = cls == 3
    photo = 0 if bilevel else (2 if cls == 2 else 1)
    spp = 3 if cls == 2 else 1
    comp = 1 if bilevel else 5
    pred = 2 if cls in (1, 2) else 1
    rps = 4
    row_bytes = (w + 7) // 8 if bilevel else w * spp

    rows_raw: list[bytes] = []
    for r in range(h):
        if bilevel:
            bits_row = [
                (src * 31 + ((r * w + c) // 4) * 7) % 2
                for c in range(w)
            ]
            packed = bytearray(row_bytes)
            for c, bit in enumerate(bits_row):
                # WhiteIsZero stores the INVERSE of the gray bit
                if not bit:
                    packed[c // 8] |= 0x80 >> (c % 8)
            rows_raw.append(bytes(packed))
            continue
        row = bytearray()
        for c in range(w):
            gv = 1 + (src * 31 + ((r * w + c) // 4) * 7) % 254
            if spp == 3:
                row += bytes((gv + 1, gv, gv - 1))
            else:
                row.append(gv)
        if pred == 2:  # horizontal differencing per row per channel
            delta = bytearray(row)
            for j in range(len(row) - 1, spp - 1, -1):
                delta[j] = (row[j] - row[j - spp]) % 256
            row = delta
        rows_raw.append(bytes(row))

    strips = []
    for r0 in range(0, h, rps):
        seg = b"".join(rows_raw[r0 : r0 + rps])
        strips.append(seg if comp == 1 else _lzw_encode(seg))
    return _tiff_strip_file(
        e,
        w,
        h,
        1 if bilevel else 8,
        comp,
        photo,
        spp,
        rps,
        strips,
        i % 37 == 0,
        extra=((0x013D, pred),),
    )


def synthesize_tiff_cx_payload(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic compressed/extended TIFF fixture (closed forms in
    :func:`_build_tiff_cx`); emits (asset_id, content)."""
    return synthesize_payloads(df, id_col, _build_tiff_cx)


def synthesize_tiff_pixel_payload(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic pixel-bearing TIFF fixture (Arrow ``mapInPandas``;
    closed forms in :func:`_build_tiff_px`). Emits (asset_id,
    content) — the :func:`synthesize_tiff_payload` contract with real
    strip data behind the tags."""
    return synthesize_payloads(df, id_col, _build_tiff_px)


def _exif_census_rows(b: bytes) -> list[dict]:
    """One census row: quarantine (``fmt='jpeg?'``, null columns), a
    clean JPEG without Exif (``fmt='jpeg'``, ``has_gps=false``, null
    metadata) — a PII audit must be able to tell 'no GPS present' from
    'unparseable' — or the decoded census."""
    parsed = _parse_exif(b)
    if parsed is None:
        return [{"fmt": "jpeg?"}]
    if parsed == NO_EXIF:
        return [{"fmt": "jpeg", "has_gps": False}]
    names = ("byte_order", "make", "orientation", "datetime_original",
             "has_gps", "gps_lat", "n_ifd0_entries")
    return [{"fmt": "jpeg", **dict(zip(names, parsed))}]


def census_exif(
    df: DataFrame, id_col: str = "asset_id", content_col: str = "content"
) -> DataFrame:
    """Walk every payload's JPEG segments + EXIF TIFF structure
    (:func:`operators.payloads.map_payloads`); malformed payloads
    quarantine as ``fmt='jpeg?'`` with null census columns."""
    return map_payloads(
        df, id_col, content_col, _exif_census_rows, EXIF_CENSUS_SCHEMA
    )


def _build_exif_jpeg(i: int) -> bytes:
    """One deterministic fixture payload: SOI + APP1/Exif (TIFF with
    IFD0 Make/Orientation + Exif and GPS sub-IFDs) + EOI. Closed
    forms: byte order II for even ids / MM for odd; make 'CAM<id%5>';
    orientation 1 + id%8; DateTimeOriginal day 1 + id%28; GPS present
    iff id%3 == 0 with latitude (id%90) deg + (id%60) min. Every
    ``id % 29 == 0`` payload is truncated mid-APP1 → quarantine.
    Otherwise every ``id % 31 == 0`` payload is a clean JPEG with an
    APP0/JFIF segment and NO Exif APP1 → fmt='jpeg', has_gps=false,
    null metadata (the no-EXIF census class). Every ``id % 11 == 0``
    payload prefixes the APP1 with a 0xFF fill byte and a standalone
    TEM marker — census values unchanged; a walker that misreads
    length-less markers fails here."""
    if i % 29 != 0 and i % 31 == 0:
        # structurally valid, metadata-free: SOI + APP0/JFIF + EOI
        jfif = b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00"
        app0 = b"\xff\xe0" + struct.pack(">H", len(jfif) + 2) + jfif
        return b"\xff\xd8" + app0 + b"\xff\xd9"
    e = "<" if i % 2 == 0 else ">"
    make = f"CAM{i % 5}".encode("ascii") + b"\x00"
    dt = f"2024:01:{1 + i % 28:02d} 12:00:00".encode("ascii") + b"\x00"
    gps = i % 3 == 0

    def entry(tag, typ, cnt, raw4):
        return struct.pack(e + "HHL", tag, typ, cnt) + raw4

    def short4(v):
        return struct.pack(e + "H", v) + b"\x00\x00"

    def long4(v):
        return struct.pack(e + "L", v)

    # layout: header(8) | IFD0 | exif IFD | gps IFD | data area
    n0 = 4 if gps else 3
    ifd0_off = 8
    ifd0_size = 2 + 12 * n0 + 4
    exif_off = ifd0_off + ifd0_size
    exif_size = 2 + 12 * 1 + 4
    gps_off = exif_off + exif_size
    gps_size = (2 + 12 * 2 + 4) if gps else 0
    data_off = gps_off + gps_size
    make_off = data_off
    dt_off = make_off + len(make)
    lat_off = dt_off + len(dt)

    ifd0_entries = [
        entry(0x010F, 2, len(make), long4(make_off)),
        entry(0x0112, 3, 1, short4(1 + i % 8)),
        entry(0x8769, 4, 1, long4(exif_off)),
    ]
    if gps:
        ifd0_entries.append(entry(0x8825, 4, 1, long4(gps_off)))
    ifd0_entries.sort(key=lambda raw: struct.unpack(e + "H", raw[:2])[0])
    ifd0 = (
        struct.pack(e + "H", n0) + b"".join(ifd0_entries) + long4(0)
    )
    exif_ifd = (
        struct.pack(e + "H", 1)
        + entry(0x9003, 2, len(dt), long4(dt_off))
        + long4(0)
    )
    data = make + dt
    gps_ifd = b""
    if gps:
        lat = struct.pack(
            e + "LLLLLL", i % 90, 1, i % 60, 1, 0, 1
        )
        gps_ifd = (
            struct.pack(e + "H", 2)
            + entry(1, 2, 2, b"N\x00\x00\x00")  # GPSLatitudeRef
            + entry(2, 5, 3, long4(lat_off))
            + long4(0)
        )
        data += lat
    tiff = (
        (b"II" if e == "<" else b"MM")
        + struct.pack(e + "HL", 42, ifd0_off)
        + ifd0
        + exif_ifd
        + gps_ifd
        + data
    )
    payload = b"Exif\x00\x00" + tiff
    app1 = b"\xff\xe1" + struct.pack(">H", len(payload) + 2) + payload
    if i % 11 == 0:
        # fill byte + standalone TEM before APP1 (length-less markers
        # the walker must skip; census values are unchanged)
        app1 = b"\xff" + b"\xff\x01" + app1
    out = b"\xff\xd8" + app1 + b"\xff\xd9"
    if i % 29 == 0:
        out = out[: len(out) - len(out) // 2]  # truncate mid-APP1
    return out


def synthesize_exif_payload(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic EXIF-JPEG fixture (per-row Python assembly in
    :func:`operators.payloads.synthesize_payloads`). All fields are the
    closed forms in :func:`_build_exif_jpeg`'s docstring."""
    return synthesize_payloads(df, id_col, _build_exif_jpeg)
