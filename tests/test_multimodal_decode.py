"""Real multimodal decode: golden header literals, CRC validity, and the
Spark encode→parse round trip (operators/multimodal.py).

The golden bytes are hand-written straight from the public specs (PNG:
8-byte signature then IHDR with big-endian u32 dims; GIF89a: little-endian
u16 logical-screen dims), NOT produced by the synthesizer — they catch a
symmetric encode/parse endianness bug that the DuckDB oracle round trip
cannot see.
"""

from __future__ import annotations

import zlib

import pytest
from pyspark.sql import functions as F

from vacancy_gpt_etl_pipeline_spark.operators.multimodal import (
    GIF_HEADER_LEN,
    PNG_HEADER_LEN,
    _parse_image_header,
    decode_images,
    synthesize_image_payload,
)

# The ubiquitous 1x1 transparent PNG, truncated after the IHDR chunk —
# signature, IHDR length (13), 'IHDR', w=1, h=1, depth=8, color=6 (RGBA),
# and the real CRC 0x1F15C489 every tool emits for exactly those bytes.
GOLDEN_PNG_1x1 = bytes.fromhex(
    "89504E470D0A1A0A0000000D49484452000000010000000108060000001F15C489"
)

# A GIF89a whose logical screen is 10x5: dims are LITTLE-endian u16.
GOLDEN_GIF_10x5 = b"GIF89a" + b"\x0a\x00" + b"\x05\x00" + b"\x91\x00\x00"


def test_parse_golden_png():
    fmt, w, h, depth, off = _parse_image_header(GOLDEN_PNG_1x1)
    assert (fmt, w, h, depth, off) == ("png", 1, 1, 8, PNG_HEADER_LEN)


def test_parse_golden_gif():
    fmt, w, h, depth, off = _parse_image_header(GOLDEN_GIF_10x5 + b"body")
    assert (fmt, w, h, depth, off) == ("gif", 10, 5, None, GIF_HEADER_LEN)
    # GIF87a variant parses identically
    fmt87, w87, h87, _, _ = _parse_image_header(
        b"GIF87a" + GOLDEN_GIF_10x5[6:]
    )
    assert (fmt87, w87, h87) == ("gif", 10, 5)


def test_parse_rejects_non_image_bytes():
    for junk in (b"", b"plain text payload", b"\x89PNGnope", b"GIF12a\x00" * 4):
        fmt, w, h, depth, off = _parse_image_header(junk)
        assert fmt == "unknown" and w is None and h is None and off == 0


def test_synthesized_png_header_is_spec_conformant(spark):
    """The JVM-built PNG must carry a TRUE IHDR CRC-32 (zlib.crc32 over
    type+data) and big-endian dims at the spec offsets."""
    df = spark.createDataFrame(
        [(2, "hello png body", 14)], "doc_id long, text string, n_chars long"
    )
    [row] = synthesize_image_payload(df).collect()
    b = bytes(row["content"])
    assert b[:8] == bytes.fromhex("89504E470D0A1A0A")
    assert int.from_bytes(b[8:12], "big") == 13 and b[12:16] == b"IHDR"
    assert int.from_bytes(b[16:20], "big") == 14 % 640 + 16  # width
    assert int.from_bytes(b[20:24], "big") == 2 % 480 + 16  # height
    assert b[24] == 8 and b[25] == 2  # depth, truecolor
    crc = int.from_bytes(b[29:33], "big")
    assert crc == zlib.crc32(b[12:29])  # real CRC over type+data
    assert b[PNG_HEADER_LEN:] == "hello png body".encode()
    assert row["mime_type"] == "image/png"


def test_synthesized_gif_header_is_spec_conformant(spark):
    df = spark.createDataFrame(
        [(3, "gif body", 8)], "doc_id long, text string, n_chars long"
    )
    [row] = synthesize_image_payload(df).collect()
    b = bytes(row["content"])
    assert b[:6] == b"GIF89a"
    assert int.from_bytes(b[6:8], "little") == 8 % 640 + 16
    assert int.from_bytes(b[8:10], "little") == 3 % 480 + 16
    assert b[GIF_HEADER_LEN:] == "gif body".encode()
    assert row["mime_type"] == "image/gif"


def test_decode_round_trip_and_luma(spark):
    """synthesize → decode recovers the encoded dims through the real
    byte parse; mean_luma is the exact body-byte mean."""
    rows = [(i, f"document body {i} " + "ab" * i, 14 + 2 * i) for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string, n_chars long")
    out = {
        r["asset_id"]: r
        for r in decode_images(synthesize_image_payload(df)).collect()
    }
    assert len(out) == 6
    for i, text, n_chars in rows:
        r = out[i]
        body = text.encode()
        assert r["fmt"] == ("png" if i % 2 == 0 else "gif")
        assert r["width"] == n_chars % 640 + 16
        assert r["height"] == i % 480 + 16
        assert r["bit_depth"] == (8 if i % 2 == 0 else None)
        header_len = PNG_HEADER_LEN if i % 2 == 0 else GIF_HEADER_LEN
        assert r["n_bytes"] == header_len + len(body)
        assert r["mean_luma"] == pytest.approx(
            sum(body) / len(body), abs=1e-6
        )


def test_decode_quarantines_unknown_bytes(spark):
    """Non-image payloads decode to fmt='unknown' with null dims — the
    corrupt-record path, not a crash."""
    df = spark.createDataFrame(
        [(1, bytearray(b"not an image at all"))],
        "asset_id long, content binary",
    )
    [r] = decode_images(df).collect()
    assert r["fmt"] == "unknown"
    assert r["width"] is None and r["height"] is None and r["bit_depth"] is None
    assert r["n_bytes"] == 19


# A canonical 44-byte PCM WAV header, hand-written from the RIFF spec:
# mono, 8000 Hz, 16-bit, 8 data bytes (so 4 frames = 0.0005 s).
GOLDEN_WAV = (
    b"RIFF" + (36 + 8).to_bytes(4, "little") + b"WAVE"
    + b"fmt " + (16).to_bytes(4, "little")
    + (1).to_bytes(2, "little")          # PCM
    + (1).to_bytes(2, "little")          # mono
    + (8000).to_bytes(4, "little")       # sample rate
    + (16000).to_bytes(4, "little")      # byte rate = 8000 * 1 * 2
    + (2).to_bytes(2, "little")          # block align
    + (16).to_bytes(2, "little")         # bits
    + b"data" + (8).to_bytes(4, "little")
    + b"\x00" * 8
)


def test_parse_golden_wav():
    from vacancy_gpt_etl_pipeline_spark.operators.multimodal import (
        _parse_wav_header,
    )

    fmt, ch, rate, bits, dur = _parse_wav_header(GOLDEN_WAV)
    assert (fmt, ch, rate, bits) == ("wav", 1, 8000, 16)
    assert dur == 8 / 16000


def test_parse_wav_rejects_non_riff():
    from vacancy_gpt_etl_pipeline_spark.operators.multimodal import (
        _parse_wav_header,
    )

    assert _parse_wav_header(b"not audio" * 6)[0] == "unknown"
    assert _parse_wav_header(GOLDEN_PNG_1x1)[0] == "unknown"


def test_synthesized_wav_round_trip(spark):
    from vacancy_gpt_etl_pipeline_spark.operators.multimodal import (
        WAV_HEADER_LEN,
        decode_audio,
        synthesize_audio_payload,
    )

    rows = [(i, f"pcm body {i} " + "xy" * i) for i in range(4)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    [probe] = synthesize_audio_payload(df.where("doc_id = 1")).collect()
    b = bytes(probe["content"])
    # spec conformance of the synthesized header itself
    assert b[:4] == b"RIFF" and b[8:12] == b"WAVE" and b[12:16] == b"fmt "
    assert int.from_bytes(b[16:20], "little") == 16  # fmt chunk size
    assert int.from_bytes(b[20:22], "little") == 1   # PCM tag
    assert int.from_bytes(b[28:32], "little") == (   # byte rate derived
        int.from_bytes(b[24:28], "little")
        * int.from_bytes(b[22:24], "little") * 2
    )
    assert b[36:40] == b"data"
    assert b[WAV_HEADER_LEN:] == rows[1][1].encode()
    out = {
        r["asset_id"]: r
        for r in decode_audio(synthesize_audio_payload(df)).collect()
    }
    for i, text in rows:
        r = out[i]
        body = len(text.encode())
        assert r["fmt"] == "wav"
        assert r["channels"] == i % 2 + 1
        assert r["sample_rate"] == {0: 8000, 1: 16000, 2: 44100}[i % 3]
        assert r["bits_per_sample"] == 16
        assert r["n_bytes"] == WAV_HEADER_LEN + body
        assert r["duration_sec"] == body / (
            r["sample_rate"] * r["channels"] * 2
        )


# --- BMP pixel decode -----------------------------------------------------

# Hand-written 2x2 24-bpp BMP straight from the spec: 14-byte file header,
# 40-byte BITMAPINFOHEADER, bottom-up rows padded to 4 bytes (stride 8).
# Pixels (B,G,R): bottom row (10,20,30) (40,50,60); top row (70,80,90)
# (100,110,120) -> channel means B=55, G=65, R=75 exactly.
GOLDEN_BMP_2x2 = (
    b"BM" + (54 + 16).to_bytes(4, "little") + b"\x00\x00\x00\x00"
    + (54).to_bytes(4, "little")
    + (40).to_bytes(4, "little") + (2).to_bytes(4, "little")
    + (2).to_bytes(4, "little") + (1).to_bytes(2, "little")
    + (24).to_bytes(2, "little") + (0).to_bytes(4, "little")
    + (16).to_bytes(4, "little") + (2835).to_bytes(4, "little")
    + (2835).to_bytes(4, "little") + (0).to_bytes(4, "little")
    + (0).to_bytes(4, "little")
    + bytes([10, 20, 30, 40, 50, 60, 0, 0])
    + bytes([70, 80, 90, 100, 110, 120, 0, 0])
)


def test_parse_golden_bmp():
    from vacancy_gpt_etl_pipeline_spark.operators.multimodal import (
        _bmp_channel_means,
    )

    fmt, w, h, depth, off = _parse_image_header(GOLDEN_BMP_2x2)
    assert (fmt, w, h, depth, off) == ("bmp", 2, 2, 24, 54)
    assert _bmp_channel_means(GOLDEN_BMP_2x2, w, h, off) == (55.0, 65.0, 75.0)


def test_bmp_truncated_pixels_yield_nulls():
    from vacancy_gpt_etl_pipeline_spark.operators.multimodal import (
        _bmp_channel_means,
    )

    assert _bmp_channel_means(GOLDEN_BMP_2x2[:-4], 2, 2, 54) == (
        None,
        None,
        None,
    )


def test_synthesized_bmp_full_pixel_round_trip(spark):
    from pyspark.sql import Row

    from vacancy_gpt_etl_pipeline_spark.operators.multimodal import (
        synthesize_bmp_payload,
    )

    df = spark.createDataFrame([Row(doc_id=i) for i in (3, 7, 18, 31)])
    out = {
        r.asset_id: r
        for r in decode_images(synthesize_bmp_payload(df)).collect()
    }
    for i in (3, 7, 18, 31):
        w, h = i % 16 + 1, i % 8 + 1
        row = (w * 3 + 3) & ~3
        sums = [0, 0, 0]
        for rr in range(h):
            for p in range(w):
                for c in range(3):
                    j = rr * row + 3 * p + c
                    sums[c] += (i * 31 + j * 7) % 256
        r = out[i]
        assert (r.fmt, r.width, r.height, r.bit_depth) == ("bmp", w, h, 24)
        assert r.n_bytes == 54 + row * h
        assert (r.mean_b, r.mean_g, r.mean_r) == tuple(
            s / (w * h) for s in sums
        )


# --- PCM sample decode ----------------------------------------------------

# Hand-written mono 16-bit PCM WAV: canonical header + 3 samples
# 0x0001, 0x8000 (-32768), 0xFFFF (-1) -> |s| = 1, 32768, 1.
GOLDEN_PCM_WAV = (
    b"RIFF" + (36 + 6).to_bytes(4, "little") + b"WAVEfmt "
    + (16).to_bytes(4, "little") + (1).to_bytes(2, "little")
    + (1).to_bytes(2, "little") + (8000).to_bytes(4, "little")
    + (16000).to_bytes(4, "little") + (2).to_bytes(2, "little")
    + (16).to_bytes(2, "little") + b"data" + (6).to_bytes(4, "little")
    + b"\x01\x00" + b"\x00\x80" + b"\xff\xff"
)


def test_decode_golden_pcm_samples(spark):
    from pyspark.sql import Row

    from vacancy_gpt_etl_pipeline_spark.operators.multimodal import (
        decode_audio,
    )

    df = spark.createDataFrame([Row(asset_id=1, content=GOLDEN_PCM_WAV)])
    r = decode_audio(df).collect()[0]
    assert (r.fmt, r.channels, r.sample_rate, r.bits_per_sample) == (
        "wav",
        1,
        8000,
        16,
    )
    assert r.n_samples == 3
    assert r.peak_abs == 32768
    assert r.mean_abs == (1 + 32768 + 1) / 3
    assert r.duration_sec == 6 / 16000


def test_synthesized_pcm_round_trip(spark):
    from pyspark.sql import Row

    from vacancy_gpt_etl_pipeline_spark.operators.multimodal import (
        decode_audio,
        synthesize_pcm_payload,
    )

    df = spark.createDataFrame([Row(doc_id=i) for i in (0, 5, 17, 63)])
    out = {
        r.asset_id: r
        for r in decode_audio(synthesize_pcm_payload(df)).collect()
    }
    for i in (0, 5, 17, 63):
        n = i % 64 + 16
        absv = [
            (65536 - u) if (u := (i * 13 + k * 7) % 65536) >= 32768 else u
            for k in range(n)
        ]
        r = out[i]
        assert r.n_samples == n
        assert r.peak_abs == max(absv)
        assert r.mean_abs == sum(absv) / n
        assert r.n_bytes == 44 + 2 * n


# --- Y4M video frame decode ----------------------------------------------

# Hand-written 2x2 C444 stream with 2 frames. Frame planes are 4 bytes
# each (Y, U, V): frame 0 -> Y=10,20,30,40 U=1,2,3,4 V=5,6,7,8;
# frame 1 all 255s. Means: f0 Y=25.0 U=2.5 V=6.5; f1 255.0 each.
GOLDEN_Y4M_2x2 = (
    b"YUV4MPEG2 W2 H2 F25:1 Ip A1:1 C444\n"
    + b"FRAME\n"
    + bytes([10, 20, 30, 40, 1, 2, 3, 4, 5, 6, 7, 8])
    + b"FRAME\n"
    + bytes([255] * 12)
)


def test_decode_golden_y4m(spark):
    from pyspark.sql import Row

    from vacancy_gpt_etl_pipeline_spark.operators.multimodal import (
        decode_video_frames,
    )

    df = spark.createDataFrame([Row(asset_id=9, content=GOLDEN_Y4M_2x2)])
    out = sorted(decode_video_frames(df).collect(), key=lambda r: r.frame_idx)
    assert len(out) == 2
    f0, f1 = out
    assert (f0.width, f0.height) == (2, 2)
    assert (f0.mean_y, f0.mean_u, f0.mean_v) == (25.0, 2.5, 6.5)
    assert (f1.mean_y, f1.mean_u, f1.mean_v) == (255.0, 255.0, 255.0)


def test_y4m_rejects_non_y4m_and_drops_truncated_tail(spark):
    from pyspark.sql import Row

    from vacancy_gpt_etl_pipeline_spark.operators.multimodal import (
        decode_video_frames,
    )

    truncated = GOLDEN_Y4M_2x2[:-5]  # second frame incomplete
    df = spark.createDataFrame(
        [
            Row(asset_id=1, content=b"not video"),
            Row(asset_id=2, content=truncated),
            Row(asset_id=3, content=b"YUV4MPEG2 W2 H2 F25:1 Ip A1:1 C420\n"),
        ]
    )
    out = decode_video_frames(df).collect()
    # asset 1: nothing; asset 2: ONLY the complete first frame;
    # asset 3: non-C444 sampling refused (we only decode what we claim)
    assert {r.asset_id for r in out} == {2}
    assert [r.frame_idx for r in out] == [0]


def test_synthesized_y4m_round_trip(spark):
    from pyspark.sql import Row

    from vacancy_gpt_etl_pipeline_spark.operators.multimodal import (
        decode_video_frames,
        synthesize_y4m_payload,
    )

    ids = [0, 3, 11, 24]
    df = spark.createDataFrame([Row(doc_id=i) for i in ids])
    out = decode_video_frames(synthesize_y4m_payload(df)).collect()
    by_asset: dict[int, list] = {}
    for r in out:
        by_asset.setdefault(r.asset_id, []).append(r)
    for i in ids:
        w, h, nf = i % 8 + 2, i % 4 + 2, i % 5 + 1
        frames = sorted(by_asset[i], key=lambda r: r.frame_idx)
        assert len(frames) == nf
        plane = w * h
        for f, r in enumerate(frames):
            assert (r.width, r.height) == (w, h)
            sums = [0, 0, 0]
            for j in range(3 * plane):
                sums[j // plane] += (i * 37 + f * 11 + j * 5) % 256
            assert (r.mean_y, r.mean_u, r.mean_v) == tuple(
                s / plane for s in sums
            )


# ---- full compressed-format decode (round 7: PNG inflate, GIF LZW) ----


def _build_png(w, h, pixels, filters, ctype=2):
    """Spec-correct PNG encoder for fixtures: per-row forward filtering
    (the inverse of the decoder's unfilter) + zlib, real CRCs."""
    import struct
    import zlib

    nch = {0: 1, 2: 3, 6: 4}[ctype]
    stride = w * nch
    flat = bytes(pixels)
    assert len(flat) == h * stride
    raw = bytearray()
    prev = bytes(stride)
    for y in range(h):
        line = flat[y * stride : (y + 1) * stride]
        ft = filters[y % len(filters)]
        raw.append(ft)
        for i in range(stride):
            a = line[i - nch] if i >= nch else 0
            b = prev[i]
            c = prev[i - nch] if i >= nch else 0
            if ft == 0:
                enc = line[i]
            elif ft == 1:
                enc = (line[i] - a) & 255
            elif ft == 2:
                enc = (line[i] - b) & 255
            elif ft == 3:
                enc = (line[i] - ((a + b) >> 1)) & 255
            else:  # Paeth
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else b if pb <= pc else c
                enc = (line[i] - pred) & 255
            raw.append(enc)
        prev = line

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _build_gif(w, h, indices, palette):
    """Minimal valid GIF89a: global color table + one image block whose
    LZW stream interleaves CLEAR codes so the table never grows — a
    legal stream any decoder accepts, trivially encodable."""
    n_colors = len(palette) // 3
    depth = max(2, (n_colors - 1).bit_length())
    pal = bytes(palette) + bytes(3 * ((1 << depth) - n_colors))
    out = bytearray(b"GIF89a")
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out += bytes([0x80 | (depth - 1), 0, 0])  # GCT flag + size
    out += pal
    out += b"\x2c" + bytes(4) + w.to_bytes(2, "little") + h.to_bytes(2, "little") + b"\x00"
    min_code = depth
    clear, end = 1 << min_code, (1 << min_code) + 1
    cs = min_code + 1
    codes = [clear]
    for px in indices:
        codes += [px, clear]
    codes[-1] = end  # final clear -> end-of-information
    acc = nbits = 0
    packed = bytearray()
    for c in codes:
        acc |= c << nbits
        nbits += cs
        while nbits >= 8:
            packed.append(acc & 255)
            acc >>= 8
            nbits -= 8
    if nbits:
        packed.append(acc & 255)
    out += bytes([min_code])
    for i in range(0, len(packed), 255):
        blockdata = packed[i : i + 255]
        out += bytes([len(blockdata)]) + blockdata
    out += b"\x00\x3b"
    return bytes(out)


def test_png_full_decode_all_filter_types(spark):
    """Round-trip: spec-encoded PNG (every filter type exercised across
    rows) must decode to the exact planted channel means."""
    from vacancy_gpt_etl_pipeline_spark.operators.multimodal import (
        decode_images,
    )

    w, h = 7, 10
    pixels = bytearray()
    for y in range(h):
        for x in range(w):
            pixels += bytes(((x * 31 + y * 7) % 256, (x * 5) % 256, (y * 11) % 256))
    payload = _build_png(w, h, pixels, filters=[0, 1, 2, 3, 4])
    df = spark.createDataFrame([(1, bytearray(payload))], "asset_id long, content binary")
    row = decode_images(df).collect()[0]
    assert (row["fmt"], row["width"], row["height"], row["bit_depth"]) == ("png", 7, 10, 8)
    n = w * h
    arr = [pixels[i : i + 3] for i in range(0, len(pixels), 3)]
    assert row["mean_r"] == sum(p[0] for p in arr) / n
    assert row["mean_g"] == sum(p[1] for p in arr) / n
    assert row["mean_b"] == sum(p[2] for p in arr) / n


def test_png_grayscale_and_alpha_channels(spark):
    from vacancy_gpt_etl_pipeline_spark.operators.multimodal import (
        _png_channel_means,
    )

    # grayscale: single channel maps to all three means
    w, h = 4, 3
    gray = bytes((x * 17 + y * 3) % 256 for y in range(h) for x in range(w))
    mb, mg, mr = _png_channel_means(_build_png(w, h, gray, [0, 2], ctype=0))
    want = sum(gray) / (w * h)
    assert mb == mg == mr == want
    # RGBA: alpha excluded from means
    rgba = bytes(
        v
        for y in range(h)
        for x in range(w)
        for v in ((x * 3) % 256, (y * 5) % 256, (x + y) % 256, 200)
    )
    mb, mg, mr = _png_channel_means(_build_png(w, h, rgba, [4], ctype=6))
    n = w * h
    quads = [rgba[i : i + 4] for i in range(0, len(rgba), 4)]
    assert mr == sum(q[0] for q in quads) / n
    assert mb == sum(q[2] for q in quads) / n


def test_png_header_only_payload_yields_null_means(spark):
    """The JVM fixture synthesizer's PNG (header + text body, no IDAT)
    must keep decoding header-only — null channel means, no error."""
    from vacancy_gpt_etl_pipeline_spark.operators.multimodal import (
        decode_images,
        synthesize_image_payload,
    )

    docs = spark.createDataFrame([(2, "hello world")], "doc_id long, text string")
    docs = docs.withColumn("n_chars", F.length("text"))
    assets = synthesize_image_payload(docs)
    row = decode_images(assets).collect()[0]
    assert row["fmt"] == "png"
    assert row["mean_b"] is None and row["mean_r"] is None


def test_gif_lzw_full_decode(spark):
    """Planted palette image through the LZW round-trip: exact means."""
    from vacancy_gpt_etl_pipeline_spark.operators.multimodal import (
        decode_images,
    )

    w, h = 6, 5
    palette = [10, 20, 30, 200, 100, 50, 0, 255, 128, 77, 66, 55]
    indices = [(x + y) % 4 for y in range(h) for x in range(w)]
    payload = _build_gif(w, h, indices, palette)
    df = spark.createDataFrame([(1, bytearray(payload))], "asset_id long, content binary")
    row = decode_images(df).collect()[0]
    assert (row["fmt"], row["width"], row["height"]) == ("gif", 6, 5)
    n = w * h
    assert row["mean_r"] == sum(palette[3 * i] for i in indices) / n
    assert row["mean_g"] == sum(palette[3 * i + 1] for i in indices) / n
    assert row["mean_b"] == sum(palette[3 * i + 2] for i in indices) / n


def test_gif_lzw_growing_dictionary_stream(spark):
    """A REAL LZW stream (dictionary growth, no interleaved clears) —
    encoded here with the standard compressor — must also decode."""
    from vacancy_gpt_etl_pipeline_spark.operators.multimodal import (
        _gif_lzw_decode,
    )

    # reference LZW compressor (textbook GIF variant)
    def lzw_encode(indices, min_code):
        clear, end = 1 << min_code, (1 << min_code) + 1
        cs = min_code + 1
        table = {bytes([i]): i for i in range(clear)}
        next_code = end + 1
        codes = [clear]
        buf = b""
        for px in indices:
            cand = buf + bytes([px])
            if cand in table:
                buf = cand
                continue
            codes.append(table[buf])
            if next_code < 4096:
                table[cand] = next_code
                next_code += 1
            buf = bytes([px])
        if buf:
            codes.append(table[buf])
        codes.append(end)
        # pack LSB-first with the same width schedule the decoder uses
        out = bytearray()
        acc = nbits = 0
        cs = min_code + 1
        nc = end + 1
        for c in codes:
            acc |= c << nbits
            nbits += cs
            while nbits >= 8:
                out.append(acc & 255)
                acc >>= 8
                nbits -= 8
            if c == clear:
                cs = min_code + 1
                nc = end + 1
            else:
                # widen BEFORE counting this emission: the decoder's
                # next_code (one behind) hits 2^cs right after consuming
                # this code, so the NEXT code is already written wider
                if nc < 4096:
                    if nc == (1 << cs) and cs < 12:
                        cs += 1
                    nc += 1
        if nbits:
            out.append(acc & 255)
        return bytes(out)

    indices = [(i * i) % 4 for i in range(500)]
    data = lzw_encode(indices, 2)
    got = _gif_lzw_decode(data, 2, len(indices))
    assert got == bytes(indices)


# ---------------------------------------------------- mp4 box-walk metadata


def _box(typ: bytes, payload: bytes) -> bytes:
    import struct

    return struct.pack(">I", 8 + len(payload)) + typ + payload


def _mvhd_v0(timescale: int, duration: int) -> bytes:
    import struct

    return _box(
        b"mvhd",
        b"\x00\x00\x00\x00"  # version 0 + flags
        + struct.pack(">II", 0, 0)  # ctime, mtime
        + struct.pack(">II", timescale, duration),
    )


def _trak(handler: bytes, w: int = 0, h: int = 0) -> bytes:
    import struct

    tkhd = _box(
        b"tkhd",
        b"\x00\x00\x00\x07"
        + struct.pack(">IIII", 0, 0, 1, 0)  # ctime mtime track_id reserved
        + struct.pack(">I", 500)  # duration
        + b"\x00" * 8  # reserved
        + b"\x00" * 2 * 3  # layer, alt_group, volume
        + b"\x00" * 2  # reserved
        + b"\x00" * 36  # matrix
        + struct.pack(">II", w << 16, h << 16),  # 16.16 fixed
    )
    hdlr = _box(
        b"hdlr", b"\x00\x00\x00\x00" + b"\x00" * 4 + handler + b"\x00" * 13
    )
    mdia = _box(b"mdia", hdlr)
    return _box(b"trak", tkhd + mdia)


def _golden_mp4() -> bytes:
    ftyp = _box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2")
    moov = _box(
        b"moov",
        _mvhd_v0(1000, 2500)  # 2.5 s at timescale 1000
        + _trak(b"vide", 640, 360)
        + _trak(b"soun"),
    )
    mdat = _box(b"mdat", b"\x00" * 32)
    return ftyp + moov + mdat


def test_mp4_golden_literal_metadata():
    from vacancy_gpt_etl_pipeline_spark.operators.multimodal import (
        _parse_mp4_metadata,
    )

    dur, tscale, ntr, hnd, w, h = _parse_mp4_metadata(_golden_mp4())
    assert dur == 2.5
    assert tscale == 1000
    assert ntr == 2
    assert hnd == "vide,soun"
    assert (w, h) == (640, 360)


def test_mp4_mvhd_v1_and_largesize_box():
    import struct

    from vacancy_gpt_etl_pipeline_spark.operators.multimodal import (
        _parse_mp4_metadata,
    )

    mvhd_v1 = _box(
        b"mvhd",
        b"\x01\x00\x00\x00"
        + struct.pack(">QQ", 0, 0)  # 64-bit ctime, mtime
        + struct.pack(">I", 90000)  # timescale
        + struct.pack(">Q", 225000),  # 64-bit duration -> 2.5 s
    )
    moov_payload = mvhd_v1 + _trak(b"soun")
    # wrap moov as a size==1 (64-bit largesize) box
    moov = (
        struct.pack(">I", 1)
        + b"moov"
        + struct.pack(">Q", 16 + len(moov_payload))
        + moov_payload
    )
    b = _box(b"ftyp", b"isom") + moov
    dur, tscale, ntr, hnd, w, h = _parse_mp4_metadata(b)
    assert dur == 2.5
    assert tscale == 90000
    assert (ntr, hnd) == (1, "soun")
    assert w is None and h is None


def test_mp4_malformed_payloads_quarantine():
    from vacancy_gpt_etl_pipeline_spark.operators.multimodal import (
        _parse_mp4_metadata,
    )

    assert _parse_mp4_metadata(b"") is None
    assert _parse_mp4_metadata(b"not a video at all") is None
    # sane leading box but no moov anywhere
    assert _parse_mp4_metadata(_box(b"ftyp", b"isom") + _box(b"mdat", b"x")) is None
    # truncated: moov declares more bytes than exist -> walk stops, None
    import struct

    trunc = _box(b"ftyp", b"isom") + struct.pack(">I", 4096) + b"moov"
    assert _parse_mp4_metadata(trunc) is None


def test_video_metadata_operator_routes_y4m_mp4_and_unknown(spark):
    from vacancy_gpt_etl_pipeline_spark.operators.multimodal import (
        synthesize_y4m_payload,
        video_metadata,
    )

    y4m = (
        synthesize_y4m_payload(
            spark.createDataFrame([(3,)], "doc_id: long"), "doc_id"
        )
        .select("asset_id", "content")
        .collect()[0]
    )
    rows = [
        (3, bytearray(y4m.content)),
        (7, bytearray(_golden_mp4())),
        (9, bytearray(b"garbage bytes")),
    ]
    df = spark.createDataFrame(rows, "asset_id: long, content: binary")
    got = {r.asset_id: r for r in video_metadata(df).collect()}
    assert len(got) == 3  # 1:1, quarantine included
    # Y4M: id=3 -> w=3%8+2=5, h=3%4+2=5, frames=3%5+1=4, F25:1 -> 0.16 s
    r = got[3]
    assert (r.container, r.width, r.height, r.n_frames) == ("y4m", 5, 5, 4)
    assert abs(r.duration_sec - 4 / 25) < 1e-12
    r = got[7]
    assert (r.container, r.duration_sec, r.timescale) == ("isobmff", 2.5, 1000)
    assert (r.n_tracks, r.handlers, r.width, r.height) == (2, "vide,soun", 640, 360)
    r = got[9]
    assert r.container is None and r.duration_sec is None


def _visual_entry(fourcc: bytes, child: bytes) -> bytes:
    """SampleEntry(8) + VisualSampleEntry fixed fields(70) + child box."""
    fields = (
        b"\x00" * 6 + b"\x00\x01" + b"\x00" * 16 + b"\x00" * 4
        + b"\x00\x48\x00\x00" * 2 + b"\x00" * 4 + b"\x00\x01"
        + b"\x00" * 32 + b"\x00\x18\xff\xff"
    )
    return _box(fourcc, fields + child)


def _trak_with_codec(handler: bytes, entry: bytes) -> bytes:
    hdlr = _box(
        b"hdlr", b"\x00\x00\x00\x00" + b"\x00" * 4 + handler + b"\x00" * 13
    )
    stsd = _box(b"stsd", b"\x00\x00\x00\x00" + (1).to_bytes(4, "big") + entry)
    minf = _box(b"minf", _box(b"stbl", stsd))
    return _box(b"trak", hdlr + _box(b"mdia", hdlr + minf))


def test_mp4_codec_census_golden_literals():
    """Hand-built avcC/vpcC/esds records parse to the RFC-6381 strings
    the public conventions pin: H.264 High@4.1 is the canonical
    'avc1.640029'; a 10-bit VP9 profile-2 stream is 'vp09.02.30.10';
    AAC-LC in mp4 is 'mp4a.40.2'."""
    from vacancy_gpt_etl_pipeline_spark.operators.multimodal import (
        _parse_mp4_codecs,
    )

    avcc = _box(b"avcC", bytes([1, 0x64, 0x00, 0x29]) + b"\xff\xe0\x00")
    vide = _trak_with_codec(b"vide", _visual_entry(b"avc1", avcc))
    esds = _box(
        b"esds",
        b"\x00" * 4
        + bytes.fromhex(
            "031900000004114015000000000000000000000005021210060102"
        ),
    )
    audio_fields = (
        b"\x00" * 6 + b"\x00\x01" + b"\x00" * 8 + b"\x00\x02\x00\x10"
        + b"\x00" * 4 + b"\xac\x44\x00\x00"
    )
    soun = _trak_with_codec(b"soun", _box(b"mp4a", audio_fields + esds))
    b = _box(b"ftyp", b"isom") + _box(
        b"moov", _mvhd_v0(1000, 1000) + vide + soun
    )
    assert _parse_mp4_codecs(b) == ("avc1.640029", "mp4a.40.2")

    vpcc = _box(
        b"vpcC",
        b"\x01\x00\x00\x00" + bytes([2, 30, 0xA2, 1, 1, 1]) + b"\x00\x00",
    )
    vide_vp9 = _trak_with_codec(b"vide", _visual_entry(b"vp09", vpcc))
    b2 = _box(b"ftyp", b"isom") + _box(b"moov", _mvhd_v0(1000, 1000) + vide_vp9)
    assert _parse_mp4_codecs(b2) == ("vp09.02.30.10", None)

    # unknown fourcc reports itself; no stsd anywhere reports nothing
    vide_hvc = _trak_with_codec(b"vide", _visual_entry(b"hvc1", b""))
    b3 = _box(b"ftyp", b"isom") + _box(b"moov", _mvhd_v0(1000, 1000) + vide_hvc)
    assert _parse_mp4_codecs(b3) == ("hvc1", None)
    assert _parse_mp4_codecs(_golden_mp4()) == (None, None)


def test_mp4_synthesis_codec_roundtrip(spark):
    """synthesize_mp4_payload's stsd chains re-read through the census:
    family alternates with the per-branch ordinal, profiles/levels
    cycle, audio is always AAC-LC."""
    from vacancy_gpt_etl_pipeline_spark.operators.multimodal import (
        synthesize_mp4_payload,
        video_metadata,
    )

    ids = [1, 4, 7, 10, 13, 16]
    df = synthesize_mp4_payload(
        spark.createDataFrame([(i,) for i in ids], "doc_id: long"), "doc_id"
    )
    got = {r.asset_id: r for r in video_metadata(df).collect()}
    want = {
        1: "avc1.42001e",
        4: "vp09.00.10.08",
        7: "avc1.4d001f",
        10: "vp09.01.11.08",
        13: "avc1.640028",
        16: "vp09.02.20.08",
    }
    for i in ids:
        assert got[i].video_codec == want[i], i
        assert got[i].audio_codec == "mp4a.40.2"
        # the metadata walk still reads dims/duration through the
        # larger moov — the census did not disturb the box framing
        assert got[i].n_tracks == 2 and got[i].handlers == "vide,soun"
        assert got[i].duration_sec == (i % 50 + 1) * 100 / 1000.0


def test_mp4_truncated_mvhd_v1_quarantines_duration():
    """A v1 mvhd shorter than its 32-byte fixed layout must yield no
    duration (quarantine), never a garbage value read off the end."""
    from vacancy_gpt_etl_pipeline_spark.operators.multimodal import (
        _parse_mp4_metadata,
    )

    # v1 header but only 28 payload bytes (stops mid-duration)
    short_mvhd = _box(b"mvhd", b"\x01\x00\x00\x00" + b"\x00" * 24)
    moov = _box(b"moov", short_mvhd + _trak(b"soun"))
    meta = _parse_mp4_metadata(_box(b"ftyp", b"isom") + moov)
    dur, tscale, ntr, hnd, w, h = meta
    assert dur is None and tscale is None
    assert (ntr, hnd) == (1, "soun")


# --- header fields that do not fit the Int32 census columns ---------------
# Each of these used to fail the whole decode task: the unsigned header
# value overflowed the Int32 column on the way to Arrow.


def _bmp_4x2(height_field: int) -> bytes:
    """A 4x2 24-bpp BMP whose header height is ``height_field`` (signed
    LE32: negative = top-down rows); 12-byte rows, no padding."""
    return (
        b"BM" + (54 + 24).to_bytes(4, "little") + b"\x00\x00\x00\x00"
        + (54).to_bytes(4, "little")
        + (40).to_bytes(4, "little") + (4).to_bytes(4, "little")
        + height_field.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little") + (24).to_bytes(4, "little")
        + (2835).to_bytes(4, "little") + (2835).to_bytes(4, "little")
        + (0).to_bytes(8, "little")
        + bytes(range(24))
    )


def test_top_down_bmp_decodes_with_signed_height(spark):
    """A valid top-down BMP stores its height negated; read signed (as
    phash._bmp_gray does) it censuses as height -2 with null channel
    means instead of an unsigned ~4.29e9 that failed the task."""
    df = spark.createDataFrame(
        [(1, bytearray(_bmp_4x2(-2))), (2, bytearray(_bmp_4x2(2)))],
        "asset_id long, content binary",
    )
    out = {r.asset_id: r for r in decode_images(df).collect()}
    top_down, bottom_up = out[1], out[2]
    assert (top_down.fmt, top_down.width, top_down.height) == ("bmp", 4, -2)
    assert top_down.bit_depth == 24 and top_down.mean_b is None
    assert (bottom_up.width, bottom_up.height) == (4, 2)
    assert bottom_up.mean_b is not None


def test_png_dims_past_int32_are_malformed(spark):
    """PNG caps IHDR width/height at 2^31-1; a larger field is a
    malformed header: a 'png' row with null dims, not a failed task."""
    bad = bytearray(GOLDEN_PNG_1x1)
    bad[16:20] = (2**31).to_bytes(4, "big")
    df = spark.createDataFrame(
        [(1, bad), (2, bytearray(GOLDEN_PNG_1x1))],
        "asset_id long, content binary",
    )
    out = {r.asset_id: r for r in decode_images(df).collect()}
    assert (out[1].fmt, out[1].width, out[1].height) == ("png", None, None)
    assert out[1].bit_depth is None and out[1].n_bytes == len(bad)
    assert (out[2].width, out[2].height, out[2].bit_depth) == (1, 1, 8)


def test_wav_sample_rate_past_int32_is_malformed(spark):
    """A WAV sample rate of 2^31 or more does not fit the Int32 column:
    the row keeps fmt='wav' with null fields, like a corrupt FLAC."""
    from vacancy_gpt_etl_pipeline_spark.operators.multimodal import (
        decode_audio,
    )

    bad = bytearray(GOLDEN_PCM_WAV)
    bad[24:28] = (2**31).to_bytes(4, "little")
    df = spark.createDataFrame(
        [(1, bad), (2, bytearray(GOLDEN_PCM_WAV))],
        "asset_id long, content binary",
    )
    out = {r.asset_id: r for r in decode_audio(df).collect()}
    r = out[1]
    assert (r.fmt, r.channels, r.sample_rate, r.bits_per_sample) == (
        "wav", None, None, None
    )
    assert r.n_samples is None and r.n_bytes == len(bad)
    assert (out[2].sample_rate, out[2].n_samples) == (8000, 3)


def test_oversized_container_fields_are_malformed():
    """The same overflow in three more walkers, checked on the pure
    parsers: AVI avih DWORDs and Y4M W/H past 2^31-1 read as malformed
    (null field / no stream), and a GIF LZW minimum code size past 8
    (no byte-sized color index needs it) yields null means instead of
    raising ValueError from the code table."""
    import numpy as np

    from vacancy_gpt_etl_pipeline_spark.operators import jpeg
    from vacancy_gpt_etl_pipeline_spark.operators.multimodal import (
        _gif_channel_means,
        _parse_avi_metadata,
        _parse_y4m_header,
    )

    frame = jpeg.encode_baseline_jpeg([np.zeros((8, 8), np.uint8)], 8, 8)
    avi = bytearray(jpeg.build_mjpeg_avi([frame], 8, 8))
    avih = avi.find(b"avih") + 8
    avi[avih + 32 : avih + 36] = (2**31).to_bytes(4, "little")  # width
    avi[avih + 16 : avih + 20] = (2**32 - 1).to_bytes(4, "little")  # frames
    w, h, nf, dur, ntr, hnd = _parse_avi_metadata(bytes(avi))
    assert (w, h, nf, dur, hnd) == (None, 8, None, None, "vids:MJPG")
    y4m = b"YUV4MPEG2 W2147483648 H2 F25:1 C444\nFRAME\n" + bytes(12)
    assert _parse_y4m_header(y4m) is None
    assert _parse_y4m_header(y4m.replace(b"W2147483648", b"W2")) == (2, 2, 27)
    gif = bytearray(_build_gif(2, 2, [0, 1, 2, 3], list(range(12))))
    assert _gif_channel_means(bytes(gif)) != (None, None, None)
    gif[13 + 12 + 10] = 9  # LZW minimum code size
    assert _gif_channel_means(bytes(gif)) == (None, None, None)
