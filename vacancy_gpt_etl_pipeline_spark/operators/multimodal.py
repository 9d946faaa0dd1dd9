"""Multimodal column plumbing (north-star extension).

Image/audio/video payloads are opaque ``binary`` columns + typed metadata
(schemas.MULTIMODAL_ASSET). Round 6 replaces the former decode stub with a
REAL dependency-free byte decoder: payloads carry genuine PNG / GIF
headers (PNG signature + IHDR chunk with a true CRC-32, GIF89a logical
screen descriptor), and :func:`decode_images` recovers width / height /
bit depth by parsing those bytes — the same offsets and endianness any
image tool reads (PNG spec: 4-byte big-endian dims at IHDR offsets 0/4;
GIF spec: little-endian u16 dims at bytes 6/8). The decode goes all the
way to samples for every image format: 24-bpp BMP pixel arrays
(padding-stripped BGR channel means), PNG via stdlib-zlib IDAT inflate
plus full scanline unfiltering (all five filter types), and GIF via a
pure-arithmetic LZW decoder over the first frame — no external codec
library anywhere. Audio decodes 16-bit PCM WAV data chunks (frame
count, peak, mean |amplitude|); video gets the same treatment via
YUV4MPEG2 (:func:`decode_video_frames` walks FRAME markers and decodes
raw C444 planes to per-frame statistics) AND via Motion-JPEG in AVI —
a real compressed codec, decoded frame-by-frame through the baseline
JPEG stack in :mod:`operators.jpeg`. Only inter-frame-predicted
containers (H.264/VP9/... in mp4/webm) stop at metadata — they
genuinely need ffmpeg; :func:`sample_frames` emits real frames for Y4M
and MJPEG-AVI payloads and falls back to a documented deterministic
slicer only for those codecs.

Scale notes: every decoder here is one parse function per payload under
:func:`operators.payloads.map_payloads` (the shared Arrow ``mapInPandas``
body). Binary payloads dominate row size, so a small
``spark.sql.execution.arrow.maxRecordsPerBatch`` bounds executor memory;
feature extraction emits small fixed-width columns, so the payload is
dropped as early as the plan allows (select pruning keeps parquet from
even reading it when only metadata is touched).
"""

from __future__ import annotations

import struct
from collections.abc import Iterator
from functools import partial

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import flac, jpeg
from .payloads import map_payloads, synthesize_payloads

PNG_SIG = b"\x89PNG\r\n\x1a\n"
PNG_HEADER_LEN = 33  # 8 sig + 4 len + 4 'IHDR' + 13 data + 4 CRC
GIF_HEADER_LEN = 13  # 6 sig + 4 dims + packed + bg + aspect
# largest value of the Int32 census columns; a header field past it is
# malformed (PNG caps IHDR dims at 2^31-1 by spec)
_INT32_MAX = 2**31 - 1


def _int32(v: int) -> int | None:
    """``v``, or None when it does not fit an Int32 census column."""
    return v if -_INT32_MAX - 1 <= v <= _INT32_MAX else None


def attach_text_payload(df: DataFrame, text_col: str = "text", modality: str = "image") -> DataFrame:
    """Build a multimodal-shaped table from a text table: utf-8 bytes stand in
    for an encoded media payload. Used by tests and the sf fixtures (the
    container has no real media)."""
    return df.select(
        "*",
        F.encode(F.col(text_col), "UTF-8").alias("content"),
        F.lit(modality).alias("modality"),
        F.lit(f"application/x-fake-{modality}").alias("mime_type"),
    )


def _be32_hex(col: F.Column) -> F.Column:
    """4-byte big-endian hex of a non-negative int < 2^32."""
    return F.lpad(F.hex(col.cast("bigint")), 8, "0")


def _le16_hex(col: F.Column) -> F.Column:
    """2-byte little-endian hex of a non-negative int < 2^16."""
    c = col.cast("int")
    return F.concat(
        F.lpad(F.hex(c % 256), 2, "0"),
        F.lpad(F.hex(F.shiftright(c, 8) % 256), 2, "0"),
    )


def synthesize_image_payload(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    width_col: str | None = None,
    height_col: str | None = None,
) -> DataFrame:
    """Deterministic image-asset fixture with REAL format headers, built
    entirely JVM-side (hex assembly + ``unhex`` + ``crc32`` — whole-stage
    codegen, no Python).

    Even ids get a PNG: 8-byte signature, then an IHDR chunk whose CRC-32
    is computed over the actual type+data bytes (a PNG reader that checks
    the IHDR CRC accepts it). Odd ids get a GIF89a logical screen
    descriptor. The utf-8 text bytes ride behind the header as the body, so
    payload sizes vary realistically. Dimensions default to
    ``width = n_chars % 640 + 16``, ``height = id % 480 + 16`` (u16-safe
    for GIF), overridable via ``width_col`` / ``height_col``.
    """
    wid = (
        F.col(width_col)
        if width_col
        else (F.col("n_chars") % 640 + 16)
    ).cast("int")
    hei = (
        F.col(height_col)
        if height_col
        else (F.col(id_col) % 480 + 16)
    ).cast("int")

    # PNG: sig | len(13) | 'IHDR' | w BE32 | h BE32 | bitdepth 8,
    # truecolor(2), deflate(0), filter(0), no interlace(0) | CRC32
    ihdr_payload_hex = F.concat(
        F.lit("49484452"),  # 'IHDR'
        _be32_hex(wid),
        _be32_hex(hei),
        F.lit("0802000000"),
    )
    png_hex = F.concat(
        F.lit("89504E470D0A1A0A0000000D"),
        ihdr_payload_hex,
        _be32_hex(F.crc32(F.unhex(ihdr_payload_hex))),
    )
    # GIF89a: sig | w LE16 | h LE16 | packed 0x91 (GCT, 8-bit) | bg | aspect
    gif_hex = F.concat(
        F.lit("474946383961"), _le16_hex(wid), _le16_hex(hei), F.lit("910000")
    )
    is_png = F.col(id_col) % 2 == 0
    header = F.unhex(F.when(is_png, png_hex).otherwise(gif_hex))
    return df.select(
        F.col(id_col).cast("long").alias("asset_id"),
        F.concat(header, F.encode(F.col(text_col), "UTF-8")).alias("content"),
        F.lit("image").alias("modality"),
        F.when(is_png, F.lit("image/png"))
        .otherwise(F.lit("image/gif"))
        .alias("mime_type"),
    )


def _le32_hex(col: F.Column) -> F.Column:
    """4-byte little-endian hex of a non-negative int < 2^32."""
    c = col.cast("bigint")
    return F.concat(
        F.lpad(F.hex(c % 256), 2, "0"),
        F.lpad(F.hex(F.shiftright(c, 8) % 256), 2, "0"),
        F.lpad(F.hex(F.shiftright(c, 16) % 256), 2, "0"),
        F.lpad(F.hex(F.shiftright(c, 24) % 256), 2, "0"),
    )


BMP_HEADER_LEN = 54  # 14-byte file header + 40-byte BITMAPINFOHEADER


def synthesize_bmp_payload(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic 24-bpp uncompressed BMP fixture with REAL pixel
    data, built JVM-side (hex assembly like the PNG/WAV synthesizers).

    BMP is the one mainstream image format whose pixel array needs no
    codec — bytes after the 54-byte header ARE the pixels (BGR rows,
    bottom-up, each row padded to 4 bytes), so :func:`decode_images` can
    do a FULL pixel decode dependency-free. Dimensions are small by
    design (``w = id % 16 + 1``, ``h = id % 8 + 1``) and every pixel
    byte is the closed form ``(id·31 + j·7) mod 256`` over its offset
    ``j`` in the pixel array — an oracle can recompute exact channel
    statistics without parsing a single byte.
    """
    i = F.col(id_col).cast("bigint")
    w = (i % 16 + 1).cast("int")
    h = (i % 8 + 1).cast("int")
    # row stride padded to a 4-byte boundary: (3w + 3) & ~3
    row = (w * 3 + 3).bitwiseAND(F.lit(-4))
    n = (row * h).cast("int")
    px_hex = F.array_join(
        F.transform(
            F.sequence(F.lit(0), n - 1),
            lambda j: F.lpad(F.hex((i * 31 + j * 7) % 256), 2, "0"),
        ),
        "",
    )
    header_hex = F.concat(
        F.lit("424D"),              # 'BM'
        _le32_hex(n + F.lit(BMP_HEADER_LEN)),
        F.lit("00000000"),          # reserved
        _le32_hex(F.lit(BMP_HEADER_LEN)),  # pixel-array offset
        _le32_hex(F.lit(40)),       # BITMAPINFOHEADER size
        _le32_hex(w),
        _le32_hex(h),               # positive = bottom-up
        F.lit("0100"),              # planes = 1
        F.lit("1800"),              # 24 bpp
        _le32_hex(F.lit(0)),        # BI_RGB (uncompressed)
        _le32_hex(n),               # image size
        _le32_hex(F.lit(2835)),     # 72 dpi
        _le32_hex(F.lit(2835)),
        _le32_hex(F.lit(0)),
        _le32_hex(F.lit(0)),
    )
    return df.select(
        i.alias("asset_id"),
        F.unhex(F.concat(header_hex, px_hex)).alias("content"),
        F.lit("image").alias("modality"),
        F.lit("image/bmp").alias("mime_type"),
    )


WAV_HEADER_LEN = 44  # canonical PCM: RIFF(12) + fmt(24) + data header(8)


def synthesize_audio_payload(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Deterministic audio-asset fixture with a REAL canonical 44-byte PCM
    WAV header (RIFF/WAVE + fmt + data chunks, all little-endian per
    spec), built JVM-side like :func:`synthesize_image_payload`. The
    utf-8 text bytes stand in for PCM samples. Channels = 1 + id % 2,
    sample rate cycles 8000/16000/44100 by id % 3, 16-bit samples;
    byte rate and block align are derived per spec so a WAV reader that
    validates the fmt chunk accepts the header."""
    channels = (F.col(id_col) % 2 + 1).cast("int")
    rate = (
        F.when(F.col(id_col) % 3 == 0, 8000)
        .when(F.col(id_col) % 3 == 1, 16000)
        .otherwise(44100)
        .cast("int")
    )
    bits = F.lit(16)
    block_align = (channels * 2).cast("int")
    byte_rate = (rate * block_align).cast("bigint")
    data_size = F.octet_length(F.encode(F.col(text_col), "UTF-8"))
    header_hex = F.concat(
        F.lit("52494646"),                 # 'RIFF'
        _le32_hex(data_size + 36),         # chunk size
        F.lit("57415645666D7420"),         # 'WAVE' + 'fmt '
        F.lit("10000000"),                 # fmt chunk size 16
        F.lit("0100"),                     # PCM
        F.concat(                          # channels LE16
            F.lpad(F.hex(channels % 256), 2, "0"),
            F.lpad(F.hex(F.shiftright(channels, 8) % 256), 2, "0"),
        ),
        _le32_hex(rate),
        _le32_hex(byte_rate),
        F.concat(                          # block align LE16
            F.lpad(F.hex(block_align % 256), 2, "0"),
            F.lpad(F.hex(F.shiftright(block_align, 8) % 256), 2, "0"),
        ),
        F.concat(                          # bits per sample LE16
            F.lpad(F.hex(bits % 256), 2, "0"), F.lit("00")
        ),
        F.lit("64617461"),                 # 'data'
        _le32_hex(data_size),
    )
    return df.select(
        F.col(id_col).cast("long").alias("asset_id"),
        F.concat(
            F.unhex(header_hex), F.encode(F.col(text_col), "UTF-8")
        ).alias("content"),
        F.lit("audio").alias("modality"),
        F.lit("audio/wav").alias("mime_type"),
    )


def synthesize_pcm_payload(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic mono 16-bit PCM WAV fixture whose DATA bytes are
    real samples, built JVM-side. Sample ``k`` of asset ``id`` is the
    closed form ``u = (id·13 + k·7) mod 65536`` stored little-endian
    (as int16: ``u - 65536`` when ``u ≥ 32768``), ``n = id mod 64 + 16``
    samples, rate cycling 8000/16000/44100 — so an oracle can recompute
    exact amplitude statistics (peak, mean |s|) without parsing bytes,
    while :func:`decode_audio` recovers them by actually decoding the
    PCM frames."""
    i = F.col(id_col).cast("bigint")
    n = (i % 64 + 16).cast("int")
    rate = (
        F.when(i % 3 == 0, 8000)
        .when(i % 3 == 1, 16000)
        .otherwise(44100)
        .cast("int")
    )
    data_size = (n * 2).cast("bigint")
    u = lambda k: (i * 13 + k * 7) % 65536  # noqa: E731
    pcm_hex = F.array_join(
        F.transform(
            F.sequence(F.lit(0), n - 1),
            lambda k: F.concat(
                F.lpad(F.hex(u(k) % 256), 2, "0"),
                F.lpad(F.hex(F.shiftright(u(k), 8) % 256), 2, "0"),
            ),
        ),
        "",
    )
    header_hex = F.concat(
        F.lit("52494646"),
        _le32_hex(data_size + 36),
        F.lit("57415645666D7420"),
        F.lit("10000000"),
        F.lit("0100"),          # PCM
        F.lit("0100"),          # mono
        _le32_hex(rate),
        _le32_hex((rate * 2).cast("bigint")),  # byte rate = rate * block
        F.lit("0200"),          # block align 2
        F.lit("1000"),          # 16 bits
        F.lit("64617461"),
        _le32_hex(data_size),
    )
    return df.select(
        i.alias("asset_id"),
        F.unhex(F.concat(header_hex, pcm_hex)).alias("content"),
        F.lit("audio").alias("modality"),
        F.lit("audio/wav").alias("mime_type"),
    )


DECODED_AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("bits_per_sample", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("duration_sec", T.DoubleType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("peak_abs", T.IntegerType()),
        T.StructField("mean_abs", T.DoubleType()),
    ]
)


def _parse_wav_header(
    b: bytes,
) -> tuple[str, int | None, int | None, int | None, float | None]:
    """(fmt, channels, sample_rate, bits_per_sample, duration_sec) from a
    canonical RIFF/WAVE header: fmt-chunk fields are little-endian at
    spec offsets 22/24/34; duration = data size / byte rate."""
    if (
        len(b) >= WAV_HEADER_LEN
        and b[:4] == b"RIFF"
        and b[8:12] == b"WAVE"
        and b[12:16] == b"fmt "
    ):
        channels = int.from_bytes(b[22:24], "little")
        rate = int.from_bytes(b[24:28], "little")
        byte_rate = int.from_bytes(b[28:32], "little")
        bits = int.from_bytes(b[34:36], "little")
        data_size = int.from_bytes(b[40:44], "little")
        # plain IEEE division of two exact ints — bit-identical in every
        # engine, unlike round(x, 6) whose half-way rule differs
        dur = data_size / byte_rate if byte_rate else None
        return ("wav", channels, rate, bits, dur)
    return ("unknown", None, None, None, None)


def _pcm_stats(samples: np.ndarray) -> tuple:
    """(n_samples, peak |amplitude|, exact mean |amplitude|) of decoded
    PCM samples — integer sum / count, one IEEE division; nulls for an
    empty stream."""
    if not samples.size:
        return None, None, None
    absd = np.abs(samples.astype(np.int64))
    return int(samples.size), int(absd.max()), int(absd.sum()) / samples.size


def _audio_rows(b: bytes) -> list[dict]:
    """One decoded-audio row (see :func:`decode_audio`). A corrupt FLAC
    stream quarantines to a null-stats 'flac' row, a WAV whose sample
    rate does not fit the Int32 column to a null-field 'wav' row."""
    n_s = peak = mean = None
    if b[:4] == b"fLaC":
        # route through the real FLAC decoder (operators/flac.py): Rice
        # residuals, fixed predictors, CRCs and STREAMINFO MD5 verified
        fmt = "flac"
        try:
            rate, ch, bits, samples = flac.decode_flac(b)
            dur = (samples.size // max(ch, 1)) / rate if rate else None
            n_s, peak, mean = _pcm_stats(samples)
        except (ValueError, struct.error, IndexError, KeyError):
            ch = rate = bits = dur = None
    else:
        fmt, ch, rate, bits, dur = _parse_wav_header(b)
        if fmt == "wav" and _int32(rate) is None:
            ch = rate = bits = dur = None
    if fmt == "wav" and bits == 16:
        data_size = int.from_bytes(b[40:44], "little")
        data = b[WAV_HEADER_LEN : WAV_HEADER_LEN + data_size]
        n_s, peak, mean = _pcm_stats(
            np.frombuffer(data[: len(data) - (len(data) % 2)], dtype="<i2")
        )
    return [dict(fmt=fmt, channels=ch, sample_rate=rate,
                 bits_per_sample=bits, n_bytes=len(b), duration_sec=dur,
                 n_samples=n_s, peak_abs=peak, mean_abs=mean)]


def decode_audio(
    df: DataFrame,
    id_col: str = "asset_id",
    content_col: str = "content",
) -> DataFrame:
    """Decode audio payloads by parsing the REAL RIFF/WAVE bytes — the
    audio twin of :func:`decode_images`, same
    :func:`operators.payloads.map_payloads` shape. Header fields
    (channels/rate/bits/duration) come from the fmt chunk; for 16-bit
    PCM the DATA chunk is then actually decoded — little-endian int16
    frames → sample count, peak |amplitude|, and exact mean |amplitude|
    (integer sum / count, one IEEE division). FLAC payloads decode
    through :mod:`operators.flac` to the same statistics."""
    return map_payloads(
        df, id_col, content_col, _audio_rows, DECODED_AUDIO_SCHEMA
    )


DECODED_IMAGE_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("bit_depth", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("mean_luma", T.DoubleType()),
        T.StructField("mean_b", T.DoubleType()),
        T.StructField("mean_g", T.DoubleType()),
        T.StructField("mean_r", T.DoubleType()),
    ]
)


def _parse_image_header(b: bytes) -> tuple[str | None, int | None, int | None, int | None, int]:
    """(fmt, width, height, bit_depth, body_offset) from real header bytes.

    PNG: IHDR data starts at byte 16 — width/height are big-endian u32,
    bit depth is the following byte; dims past 2^31-1 are malformed
    (null fields). GIF87a/89a: logical screen width and height are
    little-endian u16 at bytes 6 and 8. BMP: width/height are signed
    LE32 — a negative height is a top-down pixel array, censused as-is
    with null channel means. Anything else is 'unknown' (nulls) —
    quarantine-not-fail, like the corrupt-JSONL path.
    """
    if len(b) >= PNG_HEADER_LEN and b[:8] == PNG_SIG and b[12:16] == b"IHDR":
        w = _int32(int.from_bytes(b[16:20], "big"))
        h = _int32(int.from_bytes(b[20:24], "big"))
        if w is None or h is None:
            return ("png", None, None, None, PNG_HEADER_LEN)
        return ("png", w, h, b[24], PNG_HEADER_LEN)
    if len(b) >= GIF_HEADER_LEN and b[:6] in (b"GIF87a", b"GIF89a"):
        return (
            "gif",
            int.from_bytes(b[6:8], "little"),
            int.from_bytes(b[8:10], "little"),
            None,
            GIF_HEADER_LEN,
        )
    if len(b) >= BMP_HEADER_LEN and b[:2] == b"BM":
        return (
            "bmp",
            int.from_bytes(b[18:22], "little", signed=True),
            int.from_bytes(b[22:26], "little", signed=True),
            int.from_bytes(b[28:30], "little"),
            int.from_bytes(b[10:14], "little"),
        )
    if len(b) >= 4 and b[:3] == b"\xff\xd8\xff":
        w, h, depth = _jpeg_header_dims(b)
        return ("jpeg", w, h, depth, 2)
    return ("unknown", None, None, None, 0)


def _jpeg_header_dims(
    b: bytes,
) -> tuple[int | None, int | None, int | None]:
    """(width, height, precision) from a JPEG's frame header: walk the
    marker stream to the first SOFn segment (any frame type — dims are
    readable even for progressive/arithmetic streams the pixel decoder
    rejects). Malformed streams yield nulls, quarantine-not-fail."""
    pos = 2
    sof = frozenset(
        (0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
         0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF)
    )
    while pos + 4 <= len(b):
        if b[pos] != 0xFF:
            return (None, None, None)
        marker = b[pos + 1]
        pos += 2
        if marker == 0x01 or 0xD0 <= marker <= 0xD9:
            continue
        if pos + 2 > len(b):
            return (None, None, None)
        seglen = struct.unpack(">H", b[pos : pos + 2])[0]
        if marker in sof and pos + 7 <= len(b):
            prec, h, w = struct.unpack(">BHH", b[pos + 2 : pos + 7])
            return (w, h, prec)
        if marker == 0xDA:  # entropy data follows; no SOF seen
            return (None, None, None)
        pos += seglen
    return (None, None, None)


def _jpeg_channel_means(
    b: bytes,
) -> tuple[float | None, float | None, float | None]:
    """(mean_b, mean_g, mean_r) of a baseline JPEG still via the full
    T.81 decode (:mod:`operators.jpeg`) + JFIF/BT.601 full-range
    YCbCr→RGB with ``floor(x+0.5)`` rounding — half-away-from-zero on
    the non-negative domain, chosen over numpy's banker's ``rint``
    because it is what SQL ``FLOOR(x+0.5)`` computes, keeping the
    conversion oracle-expressible. Grayscale maps Y to all three
    channels. Non-baseline / malformed payloads yield nulls."""
    try:
        w, h, planes = jpeg.decode_baseline_jpeg(b)
    except (ValueError, IndexError, struct.error, KeyError):
        # KeyError: scan references an undefined Huffman/quant table id
        return (None, None, None)
    cnt = w * h
    if cnt == 0:
        return (None, None, None)
    y = planes[0].astype(np.float64)
    if len(planes) >= 3:
        cb = planes[1].astype(np.float64) - 128.0
        cr = planes[2].astype(np.float64) - 128.0
        r = np.clip(np.floor(y + 1.402 * cr + 0.5), 0, 255)
        g = np.clip(
            np.floor(y - 0.344136 * cb - 0.714136 * cr + 0.5), 0, 255
        )
        bl = np.clip(np.floor(y + 1.772 * cb + 0.5), 0, 255)
    else:
        r = g = bl = y
    return (
        int(bl.astype(np.int64).sum()) / cnt,
        int(g.astype(np.int64).sum()) / cnt,
        int(r.astype(np.int64).sum()) / cnt,
    )


def _bmp_channel_means(
    b: bytes, w: int, h: int, off: int
) -> tuple[float | None, float | None, float | None]:
    """Exact per-channel means of a bottom-up 24-bpp BMP pixel array:
    strip the 4-byte row padding, split BGR triples, divide exact int
    sums by the pixel count (one IEEE division — engine-stable with no
    rounding). Short/truncated arrays yield nulls, not errors."""
    row = (w * 3 + 3) & ~3
    px = np.frombuffer(b, dtype=np.uint8)[off : off + row * h]
    if w <= 0 or h <= 0 or px.size < row * h:
        return (None, None, None)
    triples = px.reshape(h, row)[:, : 3 * w].reshape(-1, 3).astype(np.int64)
    sums = triples.sum(axis=0)
    cnt = w * h
    return (
        int(sums[0]) / cnt,
        int(sums[1]) / cnt,
        int(sums[2]) / cnt,
    )


# quarantine ceiling for a single decoded image's filtered sample
# stream (h × (w·nch + 1) bytes): a row-level payload bigger than this
# would blow the Arrow batch long before the pixels are useful, and the
# bound is what lets _png_pixels inflate untrusted IDAT safely.
_MAX_PIXEL_BYTES = 64 * 1024 * 1024


def _png_pixels(b: bytes) -> tuple[int, int, int, "np.ndarray"] | None:
    """FULL PNG pixel decode, dependency-free: walk the chunk stream,
    concatenate IDAT, ``zlib.decompress`` (zlib is stdlib — no codec
    library needed after all), and undo the five scanline filters
    (None/Sub/Up/Average/Paeth) per spec. Supports the non-interlaced
    8-bit-depth color types (grayscale 0, truecolor 2, truecolor+alpha
    6). Returns (w, h, n_channels, h×(w·nch) sample array) or None for
    unsupported/malformed payloads (quarantine-not-fail).

    The per-byte unfilter loop is Python — fine for the fixture-scale
    images the tests decode; a production deployment would swap in a
    codec library behind the same mapInPandas plumbing."""
    import zlib

    if not b.startswith(PNG_SIG):
        return None
    pos = 8
    w = h = depth = ctype = interlace = None
    idat = bytearray()
    while pos + 8 <= len(b):
        ln = int.from_bytes(b[pos : pos + 4], "big")
        typ = b[pos + 4 : pos + 8]
        data = b[pos + 8 : pos + 8 + ln]
        if len(data) < ln:
            return None
        if typ == b"IHDR":
            if ln != 13:
                return None
            w = int.from_bytes(data[0:4], "big")
            h = int.from_bytes(data[4:8], "big")
            depth, ctype, interlace = data[8], data[9], data[12]
        elif typ == b"IDAT":
            idat += data
        elif typ == b"IEND":
            break
        pos += 12 + ln  # len + type + data + crc
    nch = {0: 1, 2: 3, 6: 4}.get(ctype)
    if not idat or not w or not h or depth != 8 or nch is None or interlace:
        return None
    stride = w * nch
    expected = h * (stride + 1)
    # decompression-bomb guard: the exact output size is known from
    # IHDR, so (a) refuse absurd declared dimensions before inflating
    # and (b) inflate AT MOST expected+1 bytes — a few-KB bomb PNG can
    # otherwise expand to GBs in executor memory before any size check
    # runs. Oversized streams quarantine (None), per module contract.
    if expected > _MAX_PIXEL_BYTES:
        return None
    try:
        dec = zlib.decompressobj()
        raw = dec.decompress(bytes(idat), expected + 1)
    except zlib.error:
        return None
    if len(raw) != expected or dec.unconsumed_tail:
        return None
    out = np.zeros((h, stride), dtype=np.uint8)
    bpp = nch
    p = 0
    for y in range(h):
        ft = raw[p]
        line = bytearray(raw[p + 1 : p + 1 + stride])
        p += 1 + stride
        prev = out[y - 1] if y > 0 else bytes(stride)
        if ft == 1:  # Sub
            for i in range(bpp, stride):
                line[i] = (line[i] + line[i - bpp]) & 255
        elif ft == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 255
        elif ft == 3:  # Average
            for i in range(stride):
                left = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + ((left + prev[i]) >> 1)) & 255
        elif ft == 4:  # Paeth
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                up = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                pr = a + up - c
                pa, pb, pc = abs(pr - a), abs(pr - up), abs(pr - c)
                line[i] = (
                    line[i]
                    + (a if pa <= pb and pa <= pc else up if pb <= pc else c)
                ) & 255
        elif ft != 0:
            return None
        out[y] = np.frombuffer(bytes(line), np.uint8)
    return w, h, nch, out


def _png_channel_means(
    b: bytes,
) -> tuple[float | None, float | None, float | None]:
    """(mean_b, mean_g, mean_r) of a decodable PNG — exact integer sums
    over the unfiltered samples, one IEEE division each. Grayscale maps
    its single channel to all three; alpha is excluded."""
    decoded = _png_pixels(b)
    if decoded is None:
        return (None, None, None)
    w, h, nch, px = decoded
    samples = px.reshape(h * w, nch).astype(np.int64)
    cnt = w * h
    if nch == 1:
        m = int(samples[:, 0].sum()) / cnt
        return (m, m, m)
    mr = int(samples[:, 0].sum()) / cnt
    mg = int(samples[:, 1].sum()) / cnt
    mb = int(samples[:, 2].sum()) / cnt
    return (mb, mg, mr)


def _gif_lzw_decode(
    data: bytes, min_code_size: int, n_pixels: int
) -> bytes | None:
    """GIF-variant LZW: LSB-first packed variable-width codes, dictionary
    reset on CLEAR, width growth at 2^size up to 12 bits. Pure
    arithmetic — no codec library. Returns exactly ``n_pixels`` color
    indices or None (also for a minimum code size past the 8 bits a
    byte-sized color index needs)."""
    if min_code_size > 8:
        return None
    clear = 1 << min_code_size
    end = clear + 1
    code_size = min_code_size + 1
    table: dict[int, bytes] = {i: bytes([i]) for i in range(clear)}
    next_code = end + 1
    out = bytearray()
    prev: bytes | None = None
    bitpos = 0
    total_bits = len(data) * 8
    while len(out) < n_pixels:
        if bitpos + code_size > total_bits:
            break
        byte_i = bitpos >> 3
        window = int.from_bytes(data[byte_i : byte_i + 4], "little")
        code = (window >> (bitpos & 7)) & ((1 << code_size) - 1)
        bitpos += code_size
        if code == end:
            break
        if code == clear:
            code_size = min_code_size + 1
            table = {i: bytes([i]) for i in range(clear)}
            next_code = end + 1
            prev = None
            continue
        if code in table:
            entry = table[code]
        elif code == next_code and prev is not None:
            entry = prev + prev[:1]
        else:
            return None
        out += entry
        if prev is not None and next_code < 4096:
            table[next_code] = prev + entry[:1]
            next_code += 1
            if next_code == (1 << code_size) and code_size < 12:
                code_size += 1
        prev = entry
    return bytes(out[:n_pixels]) if len(out) >= n_pixels else None


def _gif_channel_means(
    b: bytes,
) -> tuple[float | None, float | None, float | None]:
    """(mean_b, mean_g, mean_r) of a GIF's FIRST image frame: walk the
    block stream past extensions, decode the LZW-compressed index
    stream (:func:`_gif_lzw_decode`), and average the palette-mapped
    RGB triples. Header-only payloads (no image descriptor — the JVM
    fixture synthesizer's shape) and malformed streams yield nulls."""
    if len(b) < 13 or b[:6] not in (b"GIF87a", b"GIF89a"):
        return (None, None, None)
    packed = b[10]
    pos = 13
    gct = None
    if packed & 0x80:
        sz = 2 ** ((packed & 7) + 1)
        gct = b[pos : pos + 3 * sz]
        if len(gct) < 3 * sz:
            return (None, None, None)
        pos += 3 * sz
    while pos < len(b):
        blk = b[pos]
        if blk == 0x3B:  # trailer
            break
        if blk == 0x21:  # extension: introducer + label + sub-blocks
            pos += 2
            while pos < len(b) and b[pos] != 0:
                pos += 1 + b[pos]
            pos += 1
            continue
        if blk != 0x2C:  # not an image descriptor
            return (None, None, None)
        if pos + 10 > len(b):
            return (None, None, None)
        iw = int.from_bytes(b[pos + 5 : pos + 7], "little")
        ih = int.from_bytes(b[pos + 7 : pos + 9], "little")
        ipacked = b[pos + 9]
        pos += 10
        pal = gct
        if ipacked & 0x80:  # local color table
            sz = 2 ** ((ipacked & 7) + 1)
            pal = b[pos : pos + 3 * sz]
            if len(pal) < 3 * sz:
                return (None, None, None)
            pos += 3 * sz
        if pal is None or pos >= len(b) or iw <= 0 or ih <= 0:
            return (None, None, None)
        if ipacked & 0x40:  # interlaced: row order permuted, skip
            return (None, None, None)
        min_code = b[pos]
        pos += 1
        data = bytearray()
        while pos < len(b) and b[pos] != 0:
            n = b[pos]
            data += b[pos + 1 : pos + 1 + n]
            pos += 1 + n
        idx = _gif_lzw_decode(bytes(data), min_code, iw * ih)
        if idx is None:
            return (None, None, None)
        arr = np.frombuffer(idx, np.uint8).astype(np.int64)
        pal_arr = np.frombuffer(pal, np.uint8).reshape(-1, 3).astype(np.int64)
        if int(arr.max()) >= len(pal_arr):
            return (None, None, None)
        rgb = pal_arr[arr]
        cnt = iw * ih
        return (
            int(rgb[:, 2].sum()) / cnt,
            int(rgb[:, 1].sum()) / cnt,
            int(rgb[:, 0].sum()) / cnt,
        )
    return (None, None, None)


def _image_rows(b: bytes) -> list[dict]:
    """One decoded-image row (see :func:`decode_images`)."""
    fmt, w, h, depth, off = _parse_image_header(b)
    body = np.frombuffer(b, dtype=np.uint8)[off:]
    mb = mg = mr = None
    if fmt == "bmp" and depth == 24:
        mb, mg, mr = _bmp_channel_means(b, w, h, off)
    elif fmt == "png":
        mb, mg, mr = _png_channel_means(b)
    elif fmt == "gif":
        mb, mg, mr = _gif_channel_means(b)
    elif fmt == "jpeg":
        mb, mg, mr = _jpeg_channel_means(b)
    luma = round(float(body.mean()), 6) if body.size else 0.0
    return [dict(fmt=fmt, width=w, height=h, bit_depth=depth,
                 n_bytes=len(b), mean_luma=luma,
                 mean_b=mb, mean_g=mg, mean_r=mr)]


def decode_images(
    df: DataFrame,
    id_col: str = "asset_id",
    content_col: str = "content",
) -> DataFrame:
    """Decode image payloads to (fmt, width, height, bit_depth, n_bytes,
    mean_luma, channel means) by parsing the REAL bytes
    (:func:`operators.payloads.map_payloads` — per-payload work is the
    genuine shape of a decode stage). ALL four formats now decode to
    samples when the payload carries them: BMP pixel arrays
    (:func:`_bmp_channel_means`), PNG via stdlib-zlib IDAT inflate +
    scanline unfiltering (:func:`_png_channel_means`), GIF via a
    pure-arithmetic LZW decoder (:func:`_gif_channel_means`), and
    baseline JPEG through the full T.81 Huffman/IDCT stack with BT.601
    RGB conversion (:func:`_jpeg_channel_means`). Header-only payloads
    (e.g. the JVM fixture synthesizer's PNG-with-text-body) yield null
    channel means — quarantine-not-fail. ``mean_luma`` is the mean of
    the raw body bytes behind the header — the format-agnostic
    statistic."""
    return map_payloads(
        df, id_col, content_col, _image_rows, DECODED_IMAGE_SCHEMA
    )


FRAME_SAMPLE_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_bytes", T.BinaryType()),
    ]
)


def _frame_sample_rows(
    b: bytes, every_n_bytes: int, decode_stub: bool, every_nth_frame: int
) -> list[dict]:
    """The sampled frames of one payload (see :func:`sample_frames`)."""
    if b.startswith(Y4M_MAGIC):
        frames = (
            (idx, data.tobytes()) for idx, _w, _h, data in _iter_y4m_frames(b)
        )
    elif b[:4] == b"RIFF" and jpeg.avi_video_fourcc(b) == "MJPG":
        # REAL sampling for MJPEG AVIs too: each emitted frame is the
        # self-contained baseline JPEG still
        frames = jpeg.iter_avi_mjpeg_frames(b)
    elif not decode_stub:
        raise NotImplementedError(
            "inter-predicted-codec frame sampling requires ffmpeg (raw "
            "Y4M and MJPEG-AVI decode dependency-free)"
        )
    else:
        return [
            {"frame_idx": i, "frame_bytes": b[off : off + every_n_bytes]}
            for i, off in enumerate(range(0, len(b), every_n_bytes))
        ]
    return [
        {"frame_idx": idx, "frame_bytes": data}
        for idx, data in frames
        if idx % every_nth_frame == 0
    ]


def sample_frames(
    df: DataFrame,
    every_n_bytes: int = 64,
    id_col: str = "asset_id",
    content_col: str = "content",
    decode_stub: bool = True,
    every_nth_frame: int = 1,
) -> DataFrame:
    """Video frame sampling (1→N row expansion through
    :func:`operators.payloads.map_payloads`).

    Y4M payloads get REAL sampling: the stream header is parsed, the
    FRAME markers walked, and every ``every_nth_frame``-th frame's raw
    C444 planes are emitted verbatim as ``frame_bytes`` — the same
    parser :func:`decode_video_frames` uses, no codec anywhere.
    MJPEG-AVI payloads get REAL sampling too: each sampled frame is
    its self-contained baseline-JPEG still (:mod:`operators.jpeg`).

    Inter-predicted containers (mp4/webm/...) need ffmpeg, which this
    environment does not ship: with ``decode_stub=True`` they fall back
    to deterministic ``every_n_bytes`` payload slices (a documented
    fake that keeps the Spark-side plumbing — schema, batch shape,
    expansion factor — real); with ``decode_stub=False`` such a
    payload raises ``NotImplementedError``. Y4M and MJPEG-AVI payloads
    never raise.
    """
    # validate on the DRIVER: a 0/negative stride would otherwise
    # surface as an opaque ZeroDivisionError inside a Python worker
    if every_nth_frame < 1:
        raise ValueError(
            f"every_nth_frame must be >= 1, got {every_nth_frame}"
        )
    if every_n_bytes < 1:
        raise ValueError(f"every_n_bytes must be >= 1, got {every_n_bytes}")
    parse = partial(
        _frame_sample_rows,
        every_n_bytes=every_n_bytes,
        decode_stub=decode_stub,
        every_nth_frame=every_nth_frame,
    )
    return map_payloads(df, id_col, content_col, parse, FRAME_SAMPLE_SCHEMA)


# --- Y4M video: the uncompressed container, decodable without a codec ----

Y4M_MAGIC = b"YUV4MPEG2 "


def synthesize_y4m_payload(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic YUV4MPEG2 (Y4M) video fixture with REAL frames,
    built JVM-side. Y4M is video's BMP: an ASCII stream header
    (``YUV4MPEG2 W.. H.. F25:1 Ip A1:1 C444``) then per frame a
    ``FRAME\\n`` marker followed by raw W·H Y, U, V planes — no codec
    anywhere, the bytes are the samples.

    ``w = id%8+2``, ``h = id%4+2``, ``id%5+1`` frames; plane byte ``j``
    of frame ``f`` is the closed form ``(id·37 + f·11 + j·5) mod 256``,
    so frame statistics are recomputable without parsing.
    """
    i = F.col(id_col).cast("bigint")
    w = (i % 8 + 2).cast("int")
    h = (i % 4 + 2).cast("int")
    nf = (i % 5 + 1).cast("int")
    frame_len = (w * h * 3).cast("int")
    header_hex = F.hex(
        F.encode(
            F.concat(
                F.lit("YUV4MPEG2 W"),
                w.cast("string"),
                F.lit(" H"),
                h.cast("string"),
                F.lit(" F25:1 Ip A1:1 C444\n"),
            ),
            "UTF-8",
        )
    )
    frame_marker_hex = F.hex(F.encode(F.lit("FRAME\n"), "UTF-8"))
    frames_hex = F.array_join(
        F.transform(
            F.sequence(F.lit(0), nf - 1),
            lambda f: F.concat(
                frame_marker_hex,
                F.array_join(
                    F.transform(
                        F.sequence(F.lit(0), frame_len - 1),
                        lambda j: F.lpad(
                            F.hex((i * 37 + f * 11 + j * 5) % 256), 2, "0"
                        ),
                    ),
                    "",
                ),
            ),
        ),
        "",
    )
    return df.select(
        i.alias("asset_id"),
        F.unhex(F.concat(header_hex, frames_hex)).alias("content"),
        F.lit("video").alias("modality"),
        F.lit("video/x-yuv4mpeg").alias("mime_type"),
    )


MULTIMODAL_PAYLOAD_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("content", T.BinaryType()),
        T.StructField("modality", T.StringType()),
        T.StructField("mime_type", T.StringType()),
    ]
)


def _solid_block_planes(i: int, f: int, w: int, h: int) -> list[np.ndarray]:
    """The shared MJPEG/JPEG fixture content: a w×h 4:4:4 frame of solid
    8×8 blocks, raster-order block ``k`` with luma ``(i·37+f·11+k·29)
    mod 256`` and chroma offsets +85/+170 — exactly round-trippable per
    the DC-step-8 contract in :mod:`operators.jpeg`."""
    nbx, nby = w // 8, h // 8
    ks = np.arange(nby * nbx, dtype=np.int64)
    grid = ((i * 37 + f * 11 + ks * 29) % 256).reshape(nby, nbx)
    return [
        np.repeat(np.repeat(((grid + off) % 256).astype(np.uint8), 8, 0), 8, 1)
        for off in (0, 85, 170)
    ]


def _flac_fixture(i: int) -> bytes:
    n = i % 300 + 40
    rate = (8000, 16000, 44100)[i % 3]
    k = np.arange(n, dtype=np.int64)
    u = (i * 13 + k * 7) % 65536
    samples = np.where(u >= 32768, u - 65536, u).astype(np.int16)
    return flac.encode_flac(samples, rate, block_size=64)


def _jpeg_fixture(i: int) -> bytes:
    w = (i % 4 + 1) * 8
    h = (i % 2 + 1) * 8
    return jpeg.encode_baseline_jpeg(
        _solid_block_planes(i, 0, w, h), w, h, restart_interval=i % 3
    )


def _mjpeg_avi_fixture(i: int) -> bytes:
    w = (i % 4 + 1) * 8
    h = (i % 2 + 1) * 8
    frames = [
        jpeg.encode_baseline_jpeg(
            _solid_block_planes(i, f, w, h), w, h, restart_interval=i % 3
        )
        for f in range(i % 3 + 1)
    ]
    return jpeg.build_mjpeg_avi(frames, w, h)


def synthesize_flac_payload(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic FLAC audio fixture: one REAL Rice-coded FLAC
    stream per row (operators/flac.py encoder — fixed predictors,
    CRC-8/16, STREAMINFO MD5). Samples share the PCM fixture's closed
    form — sample ``k`` of asset ``id`` is ``(id·13 + k·7) mod 65536``
    read as int16 — with ``n = id mod 300 + 40`` samples (1..6 blocks
    at block size 64, so multi-frame streams and the frame-number
    UTF-8 coding are exercised) and the 8000/16000/44100 rate cycle.
    Built in :func:`operators.payloads.synthesize_payloads` like the
    JPEG synthesizers: Rice coding is not Catalyst arithmetic. The
    oracle recomputes every statistic from the formula without touching
    a byte — the hash only matches if the whole encode→Rice→decode
    round trip is lossless."""
    return synthesize_payloads(
        df, id_col, _flac_fixture, MULTIMODAL_PAYLOAD_SCHEMA,
        modality="audio", mime_type="audio/flac",
    )


def synthesize_jpeg_payload(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic baseline-JPEG still fixture: one real entropy-coded
    JPEG per row (``w = (id%4+1)·8``, ``h = (id%2+1)·8``, restart
    interval ``id%3``), content per :func:`_solid_block_planes` so the
    decode oracle is closed-form. Built in
    :func:`operators.payloads.synthesize_payloads` for the same reason as
    :func:`synthesize_mjpeg_avi_payload` (entropy coding is not Catalyst
    arithmetic)."""
    return synthesize_payloads(
        df, id_col, _jpeg_fixture, MULTIMODAL_PAYLOAD_SCHEMA,
        modality="image", mime_type="image/jpeg",
    )


def synthesize_mjpeg_avi_payload(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic MJPEG-in-AVI video fixture: each frame is a REAL
    baseline JPEG (FDCT → quantize → Annex-K Huffman → byte stuffing)
    wrapped in a minimal valid RIFF-AVI container — the compressed-video
    fixture matching :mod:`operators.jpeg`'s decode path.

    Unlike the JVM-side synthesizers this one is built in an Arrow
    ``mapInPandas`` stage (:func:`operators.payloads.synthesize_payloads`):
    JPEG entropy coding (bit-packed canonical Huffman with FF-byte
    stuffing) is genuinely not expressible as Catalyst column
    arithmetic. The ORACLE stays byte-free because the content is
    closed-form: frame ``f`` of asset ``id`` is a grid of solid 8×8
    blocks where raster-order block ``k``
    has luma ``(id·37 + f·11 + k·29) mod 256`` (chroma = luma+85 / +170
    mod 256, 4:4:4). Per the exactness contract in
    :mod:`operators.jpeg`, solid blocks under the DC-step-8 fixture
    quant table round-trip bit-exactly through the LOSSY codec, so a
    SQL engine can recompute every frame mean from the formula without
    touching a byte. ``w = (id%4+1)·8``, ``h = (id%2+1)·8``,
    ``id%3+1`` frames, restart interval ``id%3`` (0 = none) — the DRI/
    RSTn path is exercised by two-thirds of the corpus.
    """
    return synthesize_payloads(
        df, id_col, _mjpeg_avi_fixture, MULTIMODAL_PAYLOAD_SCHEMA,
        modality="video", mime_type="video/x-msvideo",
    )


DECODED_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_y", T.DoubleType()),
        T.StructField("mean_u", T.DoubleType()),
        T.StructField("mean_v", T.DoubleType()),
    ]
)


def _parse_y4m_header(b: bytes) -> tuple[int, int, int] | None:
    """(w, h, header_end) of a C444 YUV4MPEG2 stream header, or None —
    the ONE place the Y4M header boundary lives (the frame walkers and
    the pHash tier all route through it). Malformed W/H tokens (dims
    past 2^31-1 included) and non-C444 colorspaces (including
    C444alpha, whose 4-plane frames would desynchronize a 3-plane
    stride walk) quarantine as None, never raise."""
    if not b.startswith(Y4M_MAGIC):
        return None
    nl = b.find(b"\n")
    if nl < 0:
        return None
    w = h = None
    c444 = True
    try:
        for tok in b[len(Y4M_MAGIC) : nl].split(b" "):
            if tok[:1] == b"W":
                w = int(tok[1:])
            elif tok[:1] == b"H":
                h = int(tok[1:])
            elif tok[:1] == b"C" and tok != b"C444":
                c444 = False
    except ValueError:
        return None
    if not (c444 and w and h and 0 < min(w, h) <= max(w, h) <= _INT32_MAX):
        return None
    return w, h, nl + 1


def _iter_y4m_frames(
    b: bytes,
) -> Iterator[tuple[int, int, int, "np.ndarray"]]:
    """Yield (frame_idx, w, h, raw_planes) — the 3·w·h C444 sample
    bytes — per decodable frame of a Y4M stream. Non-Y4M / malformed
    payloads yield nothing (quarantine-not-fail); truncated trailing
    frames are dropped, complete leading frames still decode."""
    hdr = _parse_y4m_header(b)
    if hdr is None:
        return
    w, h, pos = hdr
    plane = w * h
    idx = 0
    while b[pos : pos + 5] == b"FRAME":
        fnl = b.find(b"\n", pos)
        if fnl < 0:
            return
        data = np.frombuffer(b, dtype=np.uint8)[fnl + 1 : fnl + 1 + 3 * plane]
        if data.size < 3 * plane:
            return
        yield idx, w, h, data
        pos = fnl + 1 + 3 * plane
        idx += 1


def _parse_y4m(b: bytes) -> Iterator[tuple[int, int, int, float, float, float]]:
    """Yield (frame_idx, w, h, mean_y, mean_u, mean_v) per decodable
    frame of a C444 Y4M stream (see :func:`_iter_y4m_frames` for the
    malformed-payload contract)."""
    for idx, w, h, data in _iter_y4m_frames(b):
        plane = w * h
        sums = data.astype(np.int64).reshape(3, plane).sum(axis=1)
        yield (
            idx,
            w,
            h,
            int(sums[0]) / plane,
            int(sums[1]) / plane,
            int(sums[2]) / plane,
        )


def _video_frame_rows(b: bytes) -> list[dict]:
    """Per-frame statistics of one Y4M or MJPEG-AVI payload (see
    :func:`decode_video_frames`); anything else yields no rows."""
    riff = b[:4] == b"RIFF"
    stats = jpeg.parse_mjpeg_avi_stats(b) if riff else _parse_y4m(b)
    names = ("frame_idx", "width", "height", "mean_y", "mean_u", "mean_v")
    return [dict(zip(names, frame)) for frame in stats]


def decode_video_frames(
    df: DataFrame,
    id_col: str = "asset_id",
    content_col: str = "content",
) -> DataFrame:
    """REAL video frame extraction for Y4M *and* MJPEG-AVI payloads:
    raw C444 Y4M streams are walked by FRAME marker and each plane
    decoded to per-frame (width, height, mean Y/U/V); RIFF-AVI payloads
    whose video stream is Motion-JPEG get each ``00dc`` chunk decoded
    through the full baseline-JPEG stack (Huffman → dequant → IDCT →
    upsample, :mod:`operators.jpeg`) to the same per-frame statistics —
    a genuine compressed-codec pixel path, dependency-free.

    PERMANENT DOCUMENTED LIMIT: inter-frame-predicted codec decode
    (H.264/H.265/VP9/AV1 inside mp4/webm) is out of scope — a real
    codec stack (ffmpeg/pyav) is not in the environment, and those
    formats' arithmetic/CABAC entropy layers plus motion compensation
    are not a Spark problem. MJPEG is the one mainstream compressed
    format whose frames are independently decodable stills, which is
    why it decodes here and they don't. The intended integration point
    for the rest is swapping this parse function for an ffmpeg call —
    the Spark-side plumbing (schema, 1→N expansion, partitioning, batch
    shape) is exactly what those payloads need and is fully exercised
    by the Y4M and MJPEG paths. Until then mp4
    stops at container metadata (:func:`video_container_metadata`);
    :func:`sample_frames` shares both parsers and stubs only
    inter-predicted payloads."""
    return map_payloads(
        df, id_col, content_col, _video_frame_rows, DECODED_FRAME_SCHEMA
    )


# --- MP4/ISO-BMFF container metadata: pure-stdlib box walk ---------------
#
# Compressed-codec FRAME decode genuinely needs ffmpeg (absent here), but
# the ISO base-media container structure (ISO/IEC 14496-12) is plain
# length-prefixed boxes — duration, timescale, track count, handler types
# and video track dimensions are all readable with byte arithmetic. This
# closes the multimodal gap at the metadata level: every container an
# asset-curation pipeline meets yields at least (container, duration,
# tracks) for filtering/budgeting, with Y4M additionally yielding real
# frames (decode_video_frames).

VIDEO_META_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("container", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("duration_sec", T.DoubleType()),
        T.StructField("timescale", T.LongType()),
        T.StructField("n_tracks", T.IntegerType()),
        T.StructField("handlers", T.StringType()),
        T.StructField("video_codec", T.StringType()),
        T.StructField("audio_codec", T.StringType()),
    ]
)

# quarantine bound for the box walk: a malformed 64-bit box size must not
# drive offsets past any plausible payload
_MAX_BOX_BYTES = 1 << 40


def _iter_mp4_boxes(b: bytes, start: int, end: int):
    """Yield (box_type, payload_start, payload_end) for the ISO-BMFF
    boxes in b[start:end]. Handles 32-bit sizes, size==1 (64-bit
    largesize) and size==0 (to end of enclosing box); stops — not
    raises — on any malformed length (quarantine-not-fail)."""
    pos = start
    while pos + 8 <= end:
        size = int.from_bytes(b[pos : pos + 4], "big")
        typ = b[pos + 4 : pos + 8]
        payload = pos + 8
        if size == 1:
            if pos + 16 > end:
                return
            size = int.from_bytes(b[pos + 8 : pos + 16], "big")
            payload = pos + 16
        elif size == 0:
            size = end - pos
        if size < payload - pos or size > _MAX_BOX_BYTES or pos + size > end:
            return
        yield typ, payload, pos + size
        pos += size


def _find_box(b: bytes, start: int, end: int, typ: bytes):
    """(payload_start, payload_end) of the first child box of ``typ``."""
    for t, s, e in _iter_mp4_boxes(b, start, end):
        if t == typ:
            return s, e
    return None


def _parse_mp4_metadata(
    b: bytes,
) -> tuple[float | None, int | None, int, str, int | None, int | None] | None:
    """(duration_sec, timescale, n_tracks, handlers_csv, width, height)
    from an ISO-BMFF payload's moov box, or None when the payload is
    not ISO-BMFF / carries no moov. Width/height come from the first
    video (``vide`` handler) track's tkhd, as 16.16 fixed-point.

    mvhd v0 lays out version+flags(4) ctime(4) mtime(4) timescale(4)
    duration(4); v1 widens ctime/mtime/duration to 8 bytes
    (ISO/IEC 14496-12 §8.2.2). tkhd v0: version+flags(4) ctime(4)
    mtime(4) track_id(4) reserved(4) duration(4) reserved(8) layer(2)
    alt_group(2) volume(2) reserved(2) matrix(36) width(4) height(4);
    v1 widens ctime/mtime/duration (§8.3.2). hdlr: version+flags(4)
    pre_defined(4) handler_type(4) (§8.4.3)."""
    # an ISO-BMFF stream opens with a box whose type is ftyp/styp/moov/
    # free/skip/mdat/wide — require a sane leading box rather than
    # scanning arbitrary bytes
    if len(b) < 8 or b[4:8] not in (
        b"ftyp", b"styp", b"moov", b"free", b"skip", b"mdat", b"wide",
    ):
        return None
    moov = _find_box(b, 0, len(b), b"moov")
    if moov is None:
        return None
    duration_sec = timescale = None
    mvhd = _find_box(b, moov[0], moov[1], b"mvhd")
    if mvhd is not None:
        s, e = mvhd
        if e - s >= 4:
            version = b[s]
            # v1 layout is 4+8+8+4+8 = 32 bytes through duration — a
            # shorter payload must quarantine, not read a truncated
            # slice as a garbage duration
            if version == 1 and e - s >= 32:
                timescale = int.from_bytes(b[s + 20 : s + 24], "big")
                duration = int.from_bytes(b[s + 24 : s + 32], "big")
            elif version == 0 and e - s >= 20:
                timescale = int.from_bytes(b[s + 12 : s + 16], "big")
                duration = int.from_bytes(b[s + 16 : s + 20], "big")
            else:
                duration = None
            if timescale and duration is not None:
                duration_sec = duration / timescale
    n_tracks = 0
    handlers: list[str] = []
    width = height = None
    for t, s, e in _iter_mp4_boxes(b, moov[0], moov[1]):
        if t != b"trak":
            continue
        n_tracks += 1
        handler = ""
        mdia = _find_box(b, s, e, b"mdia")
        if mdia is not None:
            hdlr = _find_box(b, mdia[0], mdia[1], b"hdlr")
            if hdlr is not None and hdlr[1] - hdlr[0] >= 12:
                handler = b[hdlr[0] + 8 : hdlr[0] + 12].decode(
                    "ascii", "replace"
                )
        handlers.append(handler or "?")
        if handler == "vide" and width is None:
            tkhd = _find_box(b, s, e, b"tkhd")
            if tkhd is not None:
                ts_, te_ = tkhd
                version = b[ts_] if te_ - ts_ >= 1 else None
                # version+flags(4) then v0: 4+4+4+4+4, v1: 8+8+4+4+8
                base = ts_ + 4 + (32 if version == 1 else 20)  # past duration
                wh = base + 8 + 2 + 2 + 2 + 2 + 36
                if te_ - wh >= 8:
                    width = int.from_bytes(b[wh : wh + 4], "big") >> 16
                    height = int.from_bytes(b[wh + 4 : wh + 8], "big") >> 16
    return duration_sec, timescale, n_tracks, ",".join(handlers), width, height


def _read_desc_size(b: bytes, i: int) -> tuple[int, int]:
    """MPEG-4 descriptor 'expandable' size (ISO/IEC 14496-1 §8.3.3):
    up to four 7-bit groups, high bit = continuation. Returns
    (size, next_offset)."""
    size = 0
    for _ in range(4):
        if i >= len(b):
            break
        byte = b[i]
        i += 1
        size = (size << 7) | (byte & 0x7F)
        if not byte & 0x80:
            break
    return size, i


def _parse_mp4_codecs(b: bytes) -> tuple[str | None, str | None]:
    """(video_codec, audio_codec) of an ISO-BMFF payload as
    RFC-6381-style strings, from the first vide/soun tracks' stsd
    sample entries — the codec CENSUS for the tier that refuses to
    decode inter-predicted video (sample_video_frames docstring): the
    metadata must NAME what it refuses.

    Reads: the sample-entry fourcc always; for ``avc1`` the avcC
    AVCDecoderConfigurationRecord (ISO/IEC 14496-15 §5.3.3:
    profile_idc / profile_compatibility / level_idc at bytes 1-3) →
    ``avc1.PPCCLL`` (hex); for ``vp09`` the vpcC VPCodecConfigurationBox
    (VP9-in-ISOBMFF spec: FullBox, then profile / level / bitDepth)
    → ``vp09.PP.LL.DD`` (decimal); for ``mp4a`` the esds ES_Descriptor
    chain (14496-1 §7.2.6: objectTypeIndication in the
    DecoderConfigDescriptor, AudioObjectType = first 5 bits of the
    DecoderSpecificInfo) → ``mp4a.OO.A``. Unknown entries report their
    bare fourcc; payloads without a moov/stsd report (None, None)."""
    moov = _find_box(b, 0, len(b), b"moov")
    if moov is None:
        return None, None
    vcodec = acodec = None
    for t, s, e in _iter_mp4_boxes(b, moov[0], moov[1]):
        if t != b"trak":
            continue
        mdia = _find_box(b, s, e, b"mdia")
        if mdia is None:
            continue
        hdlr = _find_box(b, mdia[0], mdia[1], b"hdlr")
        handler = (
            b[hdlr[0] + 8 : hdlr[0] + 12]
            if hdlr is not None and hdlr[1] - hdlr[0] >= 12
            else b""
        )
        minf = _find_box(b, mdia[0], mdia[1], b"minf")
        if minf is None:
            continue
        stbl = _find_box(b, minf[0], minf[1], b"stbl")
        if stbl is None:
            continue
        stsd = _find_box(b, stbl[0], stbl[1], b"stsd")
        if stsd is None or stsd[1] - stsd[0] < 16:
            continue
        # stsd is a FullBox: ver/flags(4) + entry_count(4), then the
        # sample entries are box-shaped
        entries = list(_iter_mp4_boxes(b, stsd[0] + 8, stsd[1]))
        if not entries:
            continue
        fourcc, es, ee = entries[0]
        name = fourcc.decode("ascii", "replace").strip()
        if handler == b"vide" and vcodec is None:
            vcodec = name
            if fourcc == b"avc1":
                # children follow SampleEntry(8) + VisualSampleEntry(70)
                c = _find_box(b, es + 78, ee, b"avcC")
                if c is not None and c[1] - c[0] >= 4:
                    vcodec = (
                        f"avc1.{b[c[0] + 1]:02x}"
                        f"{b[c[0] + 2]:02x}{b[c[0] + 3]:02x}"
                    )
            elif fourcc == b"vp09":
                c = _find_box(b, es + 78, ee, b"vpcC")
                if c is not None and c[1] - c[0] >= 7:
                    vcodec = (
                        f"vp09.{b[c[0] + 4]:02d}.{b[c[0] + 5]:02d}"
                        f".{b[c[0] + 6] >> 4:02d}"
                    )
        elif handler == b"soun" and acodec is None:
            acodec = name
            if fourcc == b"mp4a":
                # children follow SampleEntry(8) + AudioSampleEntry(20)
                c = _find_box(b, es + 28, ee, b"esds")
                if c is not None and c[1] - c[0] >= 5:
                    i, end = c[0] + 4, c[1]  # skip FullBox ver/flags
                    oti = aot = None
                    while i < end:
                        tag = b[i]
                        size, i = _read_desc_size(b, i + 1)
                        if tag == 0x03:
                            i += 3  # ES_ID(2) + streamDependence flags(1)
                        elif tag == 0x04:
                            if i < end:
                                oti = b[i]
                            i += 13  # through avgBitrate; descend to DSI
                        elif tag == 0x05:
                            if size >= 1 and i < end:
                                aot = b[i] >> 3
                            i += size
                        else:
                            i += size
                    if oti is not None:
                        acodec = f"mp4a.{oti:02x}" + (
                            f".{aot}" if aot is not None else ""
                        )
    return vcodec, acodec


def _parse_y4m_metadata(
    b: bytes,
) -> tuple[int, int, int, float | None] | None:
    """(width, height, n_frames, duration_sec) of a C444 Y4M stream —
    frame count from the FRAME walk, duration from the F<num>:<den>
    header rate token when present."""
    if not b.startswith(Y4M_MAGIC):
        return None
    nl = b.find(b"\n")
    if nl < 0:
        return None
    fps = None
    for tok in b[len(Y4M_MAGIC) : nl].split(b" "):
        if tok[:1] == b"F" and b":" in tok:
            num, den = tok[1:].split(b":", 1)
            try:
                fps = int(num) / int(den)
            except (ValueError, ZeroDivisionError):
                fps = None
    w = h = n = None
    for _idx, fw, fh, _data in _iter_y4m_frames(b):
        w, h = fw, fh
        n = (n or 0) + 1
    if n is None:
        return None
    return w, h, n, (n / fps if fps else None)


def _parse_avi_metadata(
    b: bytes,
) -> tuple[int | None, int | None, int | None, float | None, int, str | None] | None:
    """(width, height, n_frames, duration_sec, n_tracks, handlers) of a
    RIFF-AVI payload from the avih main header (dims, total frames,
    µs-per-frame) and the strh stream headers (fccType:fccHandler pairs,
    e.g. ``vids:MJPG``). None for non-AVI payloads; missing boxes
    degrade to null fields, quarantine-not-fail."""
    if b[:4] != b"RIFF" or b[8:12] != b"AVI ":
        return None
    w = h = nf = None
    dur = None
    handlers: list[str] = []
    for cid, data in jpeg._iter_riff_chunks(b):
        if cid == b"avih" and len(data) >= 40:
            uspf, _mbps, _pad, _flags, total = struct.unpack("<5I", data[:20])
            # DWORD fields past the Int32 columns are malformed: nulls
            w = _int32(int.from_bytes(data[32:36], "little"))
            h = _int32(int.from_bytes(data[36:40], "little"))
            nf = _int32(total)
            if uspf and nf is not None:
                dur = total * uspf / 1_000_000
        elif cid == b"strh" and len(data) >= 8:
            handlers.append(
                data[:4].decode("ascii", "replace")
                + ":"
                + data[4:8].decode("ascii", "replace")
            )
    return (w, h, nf, dur, len(handlers), ",".join(handlers) or None)


def _video_meta_rows(b: bytes) -> list[dict]:
    """One container-metadata row (see :func:`video_metadata`);
    unrecognized payloads quarantine as a ``container=NULL`` row."""
    y4m = _parse_y4m_metadata(b)
    if y4m is not None:
        w, h, nf, dur = y4m
        return [dict(container="y4m", width=w, height=h, n_frames=nf,
                     duration_sec=dur, video_codec="rawvideo")]
    mp4 = _parse_mp4_metadata(b)
    if mp4 is not None:
        dur, tscale, ntr, hnd, w, h = mp4
        vc, ac = _parse_mp4_codecs(b)
        return [dict(container="isobmff", width=w, height=h,
                     duration_sec=dur, timescale=tscale, n_tracks=ntr,
                     handlers=hnd, video_codec=vc, audio_codec=ac)]
    avi = _parse_avi_metadata(b)
    if avi is not None:
        w, h, nf, dur, ntr, hnd = avi
        # the strh fourcc already parsed into handlers names the codec;
        # MJPG is the one this engine actually decodes (operators/jpeg.py)
        vc = "mjpeg" if "MJPG" in (hnd or "") else None
        return [dict(container="riff-avi", width=w, height=h, n_frames=nf,
                     duration_sec=dur, n_tracks=ntr, handlers=hnd,
                     video_codec=vc)]
    return [{}]


def video_metadata(
    df: DataFrame,
    id_col: str = "asset_id",
    content_col: str = "content",
) -> DataFrame:
    """Per-asset video container metadata, dependency-free: Y4M streams
    yield (width, height, n_frames, duration); ISO-BMFF (mp4/mov/m4a)
    payloads yield (duration, timescale, n_tracks, handler list, video
    track dimensions) from the moov box walk; RIFF-AVI payloads yield
    (dims, frame count, duration, stream handlers) from the avih/strh
    headers — no codec anywhere. Unrecognized payloads quarantine as
    container=NULL rows (1:1 with input, so anti-join recovers the
    reject set). Runs as one :func:`operators.payloads.map_payloads`
    projection; only (id, content) are read, so payload pruning
    upstream still applies."""
    return map_payloads(
        df, id_col, content_col, _video_meta_rows, VIDEO_META_SCHEMA
    )


# fixed-layout ISO-BMFF templates for synthesize_mp4_payload: every box
# below has a constant size because every field is fixed-width, so the
# only runtime splices are the BE32 duration / width / height fields.
def _mp4_box_hdr(typ: bytes, size: int) -> bytes:
    return size.to_bytes(4, "big") + typ


_MP4_FTYP_HEX = (
    _mp4_box_hdr(b"ftyp", 24) + b"isom\x00\x00\x02\x00isomiso2"
).hex().upper()
# mvhd v0: ver/flags + ctime + mtime (zeros) + timescale 1000, then dur
_MP4_MVHD_PRE_HEX = (
    _mp4_box_hdr(b"mvhd", 28) + bytes(12) + (1000).to_bytes(4, "big")
).hex().upper()
# tkhd v0 pre-duration: ver/flags(0x7) + ctime + mtime + track_id + rsvd
def _mp4_tkhd_pre_hex(track_id: int) -> str:
    return (
        _mp4_box_hdr(b"tkhd", 92)
        + b"\x00\x00\x00\x07"
        + bytes(8)
        + track_id.to_bytes(4, "big")
        + bytes(4)
    ).hex().upper()


# tkhd post-duration filler: reserved(8) layer(2) alt(2) vol(2) rsvd(2)
# + unity-free zero matrix(36); width/height BE32 16.16 follow
_MP4_TKHD_MID_HEX = bytes(52).hex().upper()


def _mp4_hdlr_hex(handler: bytes) -> str:
    return (
        _mp4_box_hdr(b"hdlr", 33) + bytes(8) + handler + bytes(13)
    ).hex().upper()


def _visual_sample_fields() -> bytes:
    """SampleEntry(8) + VisualSampleEntry fixed fields(70) per
    ISO/IEC 14496-12 §12.1.3 — dims stay zero here (the fixture's dims
    live in tkhd, which the metadata walk reads); 72 dpi resolutions,
    frame_count 1, depth 24, pre_defined -1 are the spec constants."""
    return (
        bytes(6) + b"\x00\x01"        # reserved + data_reference_index
        + bytes(16)                   # pre_defined/reserved/pre_defined
        + bytes(4)                    # width/height
        + b"\x00\x48\x00\x00" * 2     # horiz/vert resolution 72 dpi
        + bytes(4) + b"\x00\x01"      # reserved + frame_count
        + bytes(32)                   # compressorname
        + b"\x00\x18\xff\xff"         # depth 24, pre_defined -1
    )


# vide minf chains: minf{stbl{stsd{<entry>{<codec config>}}}} with the
# codec-identifying bytes (profile/level) spliced at runtime.
# avc1 sizes: avcC 15, entry 101, stsd 117, stbl 125, minf 133
_MP4_MINF_AVC_PRE_HEX = (
    _mp4_box_hdr(b"minf", 133)
    + _mp4_box_hdr(b"stbl", 125)
    + _mp4_box_hdr(b"stsd", 117) + bytes(4) + (1).to_bytes(4, "big")
    + _mp4_box_hdr(b"avc1", 101) + _visual_sample_fields()
    # AVCDecoderConfigurationRecord (14496-15 §5.3.3):
    # configurationVersion=1, then profile/compat/level spliced
    + _mp4_box_hdr(b"avcC", 15) + b"\x01"
).hex().upper()
#: lengthSizeMinusOne=3 (reserved bits set), 0 SPS, 0 PPS
_MP4_AVCC_TAIL_HEX = b"\xff\xe0\x00".hex().upper()

# vp09 sizes: vpcC 20, entry 106, stsd 122, stbl 130, minf 138
_MP4_MINF_VP9_PRE_HEX = (
    _mp4_box_hdr(b"minf", 138)
    + _mp4_box_hdr(b"stbl", 130)
    + _mp4_box_hdr(b"stsd", 122) + bytes(4) + (1).to_bytes(4, "big")
    + _mp4_box_hdr(b"vp09", 106) + _visual_sample_fields()
    # VPCodecConfigurationBox: FullBox v1, then profile/level spliced
    + _mp4_box_hdr(b"vpcC", 20) + b"\x01\x00\x00\x00"
).hex().upper()
#: bitDepth 8 / chroma 4:2:0 colocated (0x82), BT.709 colour triple,
#: codecInitializationDataSize 0
_MP4_VPCC_TAIL_HEX = b"\x82\x01\x01\x01\x00\x00".hex().upper()

#: ES_Descriptor chain (14496-1 §7.2.6): ES_ID 0 →
#: DecoderConfigDescriptor (objectTypeIndication 0x40 = MPEG-4 Audio,
#: streamType 0x05<<2|1) → DecoderSpecificInfo 0x12,0x10 (AAC-LC,
#: 44.1 kHz, stereo) → SLConfigDescriptor(2)
_ESDS_DESCRIPTORS = bytes.fromhex(
    "0319" + "0000" + "00"
    + "0411" + "40" + "15" + "000000" + "00000000" + "00000000"
    + "0502" + "1210"
    + "0601" + "02"
)
# soun minf chain, fully constant: esds 39, mp4a entry 75, stsd 91,
# stbl 99, minf 107
_MP4_SOUN_MINF_HEX = (
    _mp4_box_hdr(b"minf", 107)
    + _mp4_box_hdr(b"stbl", 99)
    + _mp4_box_hdr(b"stsd", 91) + bytes(4) + (1).to_bytes(4, "big")
    + _mp4_box_hdr(b"mp4a", 75)
    + bytes(6) + b"\x00\x01"                 # SampleEntry
    + bytes(8) + b"\x00\x02\x00\x10"         # stereo, 16-bit
    + bytes(4) + b"\xac\x44\x00\x00"         # 44100 Hz, 16.16
    + _mp4_box_hdr(b"esds", 39) + bytes(4) + _ESDS_DESCRIPTORS
).hex().upper()

# enclosing sizes per branch: vide mdia = 8 + hdlr 33 + minf;
# trak = 8 + tkhd 92 + mdia; moov = 8 + mvhd 28 + trak_v + trak_s
_MP4_VIDE_MDIA_AVC = 8 + 33 + 133    # 174
_MP4_VIDE_MDIA_VP9 = 8 + 33 + 138    # 179
_MP4_SOUN_MDIA = 8 + 33 + 107        # 148
_MP4_VIDE_TRAK_AVC = 8 + 92 + _MP4_VIDE_MDIA_AVC   # 274
_MP4_VIDE_TRAK_VP9 = 8 + 92 + _MP4_VIDE_MDIA_VP9   # 279
_MP4_SOUN_TRAK = 8 + 92 + _MP4_SOUN_MDIA           # 248
_MP4_MOOV_AVC = 36 + _MP4_VIDE_TRAK_AVC + _MP4_SOUN_TRAK  # 558
_MP4_MOOV_VP9 = 36 + _MP4_VIDE_TRAK_VP9 + _MP4_SOUN_TRAK  # 563
_MP4_MDAT_HEX = (_mp4_box_hdr(b"mdat", 24) + bytes(16)).hex().upper()


def synthesize_mp4_payload(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic ISO-BMFF (mp4) fixture built JVM-side (hex assembly
    + ``unhex`` — whole-stage codegen, no Python): ftyp, then a moov
    carrying an mvhd (timescale 1000, ``duration = (id%50+1)·100``
    ticks) and two trak boxes — a ``vide`` track with 16.16 fixed-point
    ``width = (id%8+2)·16`` / ``height = (id%4+2)·16`` in its tkhd and
    a ``soun`` track — then an empty mdat. Every field the moov box
    walk (:func:`_parse_mp4_metadata`) reads is synthesized for real,
    so container metadata round-trips: duration_sec = dur/1000,
    n_tracks = 2, handlers 'vide,soun'. The vide track's stsd carries a
    REAL codec configuration record — avc1+avcC for even per-branch
    ordinals p = (id-1)//6 (profile 66/77/100 by p%3, level
    30/31/40/41 by p%4), vp09+vpcC for odd (profile p%4, level
    10/11/20/21/30 by p%5, 8-bit) — and the soun track an mp4a+esds
    (AAC-LC), so the codec CENSUS names exactly what the decode tier
    refuses (no coded samples anywhere: the mdat is empty by
    construction, the boundary where real decode needs ffmpeg)."""
    i = F.col(id_col).cast("bigint")
    dur = (i % 50 + 1) * 100
    w = ((i % 8 + 2) * 16).cast("bigint")
    h = ((i % 4 + 2) * 16).cast("bigint")
    # per-branch ordinal: ids on the mp4 residue class (≡1 mod 3) have
    # q = (id-1)/3 consecutive, so q's parity picks the codec family
    # and p = q/2 counts WITHIN the family — every profile/level arm
    # below cycles fully (a modulus on the raw id would alias against
    # the residue class and leave arms dead)
    q = F.floor((i - 1) / 3).cast("bigint")
    p = F.floor(q / 2).cast("bigint")
    is_avc = q % 2 == 0
    prof_avc = (
        F.when(p % 3 == 0, F.lit("42"))
        .when(p % 3 == 1, F.lit("4D"))
        .otherwise(F.lit("64"))
    )
    lvl_avc = (
        F.when(p % 4 == 0, F.lit("1E"))
        .when(p % 4 == 1, F.lit("1F"))
        .when(p % 4 == 2, F.lit("28"))
        .otherwise(F.lit("29"))
    )
    prof_vp9 = F.lpad((p % 4).cast("string"), 2, "0")
    lvl_vp9 = (
        F.when(p % 5 == 0, F.lit("0A"))
        .when(p % 5 == 1, F.lit("0B"))
        .when(p % 5 == 2, F.lit("14"))
        .when(p % 5 == 3, F.lit("15"))
        .otherwise(F.lit("1E"))
    )
    vide_minf_hex = F.when(
        is_avc,
        F.concat(
            F.lit(_MP4_MINF_AVC_PRE_HEX),
            prof_avc,
            F.lit("00"),
            lvl_avc,
            F.lit(_MP4_AVCC_TAIL_HEX),
        ),
    ).otherwise(
        F.concat(
            F.lit(_MP4_MINF_VP9_PRE_HEX),
            prof_vp9,
            lvl_vp9,
            F.lit(_MP4_VPCC_TAIL_HEX),
        )
    )
    trak_vide_hex = F.concat(
        F.when(
            is_avc,
            F.lit(_mp4_box_hdr(b"trak", _MP4_VIDE_TRAK_AVC).hex().upper()),
        ).otherwise(
            F.lit(_mp4_box_hdr(b"trak", _MP4_VIDE_TRAK_VP9).hex().upper())
        ),
        F.lit(_mp4_tkhd_pre_hex(1)),
        _be32_hex(dur),
        F.lit(_MP4_TKHD_MID_HEX),
        _be32_hex(w * 65536),
        _be32_hex(h * 65536),
        F.when(
            is_avc,
            F.lit(_mp4_box_hdr(b"mdia", _MP4_VIDE_MDIA_AVC).hex().upper()),
        ).otherwise(
            F.lit(_mp4_box_hdr(b"mdia", _MP4_VIDE_MDIA_VP9).hex().upper())
        ),
        F.lit(_mp4_hdlr_hex(b"vide")),
        vide_minf_hex,
    )
    trak_soun_hex = F.concat(
        F.lit(
            _mp4_box_hdr(b"trak", _MP4_SOUN_TRAK).hex().upper()
            + _mp4_tkhd_pre_hex(2)
        ),
        _be32_hex(dur),
        F.lit(_MP4_TKHD_MID_HEX),
        _be32_hex(F.lit(0)),
        _be32_hex(F.lit(0)),
        F.lit(
            _mp4_box_hdr(b"mdia", _MP4_SOUN_MDIA).hex().upper()
            + _mp4_hdlr_hex(b"soun")
            + _MP4_SOUN_MINF_HEX
        ),
    )
    full_hex = F.concat(
        F.lit(_MP4_FTYP_HEX),
        F.when(
            is_avc, F.lit(_mp4_box_hdr(b"moov", _MP4_MOOV_AVC).hex().upper())
        ).otherwise(
            F.lit(_mp4_box_hdr(b"moov", _MP4_MOOV_VP9).hex().upper())
        ),
        F.lit(_MP4_MVHD_PRE_HEX),
        _be32_hex(dur),
        trak_vide_hex,
        trak_soun_hex,
        F.lit(_MP4_MDAT_HEX),
    )
    return df.select(
        i.alias("asset_id"),
        F.unhex(full_hex).alias("content"),
        F.lit("video").alias("modality"),
        F.lit("video/mp4").alias("mime_type"),
    )
