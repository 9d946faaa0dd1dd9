"""MP3 / ID3v2 and AAC-ADTS metadata census — pure-stdlib frame
walkers, written against the PUBLIC bitstream layouts (ISO/IEC
11172-3 audio frame headers; ID3v2.3 informal standard, id3.org;
ISO/IEC 13818-7 §6.2 ADTS). The perceptual-audio
sibling of the mp4/avi/y4m container walkers in
:mod:`operators.multimodal`: MDCT+Huffman *sample* decode stays a
documented boundary (the same boundary the video tier draws at
inter-predicted codecs), but every byte of framing metadata — tag,
sync, version, layer, bitrate, sample rate, padding, channel mode,
frame count, CBR/VBR shape, wall-clock duration — is parsed from the
real bitstream, so a 100 TB audio crawl can be censused, bucketed and
budgeted without a codec library in the container.

Parser scope (stated loudly):
  * ID3v2.2/2.3/2.4 tag header: syncsafe size honoured, v2.4 footer
    skipped, tag-level unsynchronisation de-stuffed, tag skipped for
    frame walking; v2.3/v2.4 TIT2 (and v2.2 TT2) text frames with
    encoding 0 (latin-1) / 3 (utf-8) extracted as ``title``
    (v2.4 per-frame unsync with the tag flag clear stays a boundary);
  * MPEG-1 and MPEG-2 (ISO 11172-3 / 13818-3) Layers I/II/III frame
    headers: sync ``0xFFE``, version/layer bits, the full bitrate and
    sample-rate index tables, padding bit, channel mode; frame length
    via the per-layer slot formula (Layer I: ``(12·br/sr + pad)·4``,
    Layers II/III: ``144·br/sr + pad`` with the MPEG-2 Layer III
    half-frame ``72·br/sr``);
  * walk terminates at the first non-sync byte (trailing garbage or
    an APEv2/ID3v1 trailer quarantines the remainder, never crashes);
  * free-format (bitrate index 0) and bad indices (15) quarantine the
    stream with ``fmt='mp3?'`` and null census columns.

Scale shape: payloads are opaque binary cells; the walk is one parse
function per payload under :func:`operators.payloads.map_payloads`
(the shared Arrow ``mapInPandas`` body), embarrassingly parallel, and
reads ONLY the 4 header bytes of each frame (``O(n_frames)`` seeks,
not ``O(n_bytes)`` scans).

Reference parity: the reference pipeline
(dag/vacancy_pipline_gpt_rerty.py) has no audio surface — this module
is part of the §8 extension inventory (training-data pipeline
operators beyond the reference).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .multimodal import _be32_hex
from .payloads import map_payloads

# MPEG-1 Layer III bitrate table, index 1..14 → kbps (ISO 11172-3
# Table B.2); index 0 = free format, 15 = forbidden.
BITRATE_KBPS_V1_L3 = (
    None, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320,
)
BITRATE_KBPS_V1_L2 = (
    None, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384,
)
BITRATE_KBPS_V1_L1 = (
    None, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448,
)
# MPEG-2 / 2.5 Layer II & III share one table (ISO 13818-3).
BITRATE_KBPS_V2_L23 = (
    None, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160,
)
BITRATE_KBPS_V2_L1 = (
    None, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256,
)

SAMPLE_RATE_HZ = {
    # version bits (b1 >> 3 & 3): 0 = MPEG-2.5, 2 = MPEG-2, 3 = MPEG-1
    3: (44100, 48000, 32000),
    2: (22050, 24000, 16000),
    0: (11025, 12000, 8000),
}

CHANNEL_MODES = ("stereo", "joint_stereo", "dual_channel", "mono")

# samples per frame, keyed (version_group, layer): MPEG-1 L3 = 1152,
# MPEG-2/2.5 L3 = 576, L2 = 1152 everywhere, L1 = 384 everywhere.
_SAMPLES_PER_FRAME = {
    ("1", 1): 384, ("1", 2): 1152, ("1", 3): 1152,
    ("2", 1): 384, ("2", 2): 1152, ("2", 3): 576,
}


def _syncsafe(b: bytes) -> int:
    """ID3v2 28-bit syncsafe integer (4 bytes, 7 bits each)."""
    return (b[0] << 21) | (b[1] << 14) | (b[2] << 7) | b[3]


def _parse_id3v2(b: bytes) -> tuple[int, str | None]:
    """Return ``(total_tag_bytes, title)``; ``(0, None)`` if no tag.

    Walks v2.3/v2.4 frames (4-byte id + 4-byte size + 2 flag bytes) or
    v2.2 frames (3-byte id + 3-byte size) looking for TIT2 / TT2 with
    text encoding 0 (latin-1) or 3 (utf-8). v2.4 frame sizes are
    syncsafe; v2.2/v2.3 are plain big-endian.
    """
    if len(b) < 10 or b[:3] != b"ID3":
        return 0, None
    major = b[3]
    tag_body = _syncsafe(b[6:10])
    # v2.4 footer flag: a 10-byte '3DI' footer follows the body and is
    # NOT counted in the syncsafe size — skip it or the frame walk
    # starts inside the footer and quarantines a valid stream
    footer = 10 if major >= 4 and b[5] & 0x10 else 0
    end = min(10 + tag_body, len(b))
    tag = b[10:end]
    if b[5] & 0x80:
        if major >= 4:
            # v2.4 semantics (r12 advice): the tag-level flag means
            # every frame was INDIVIDUALLY unsynchronised, and frame
            # size fields count the STORED (stuffed) bytes — a global
            # de-stuff makes the syncsafe sizes over-count and the
            # frame walk desynchronizes. Documented boundary: skip the
            # tag correctly (header syncsafe size over raw bytes),
            # surface no title.
            return 10 + tag_body + footer, None
        # v2.2/v2.3 tag-level unsynchronisation: a 0x00 is stuffed
        # after every 0xFF throughout the tag — de-stuff before
        # walking, or frame sizes read over stuffed bytes and the walk
        # desynchronizes. This covers the legacy corpus where unsync
        # is actually common.
        tag = tag.replace(b"\xff\x00", b"\xff")
    i = 0
    if b[5] & 0x40 and major >= 3 and i + 4 <= len(tag):  # extended header
        if major == 4:  # v2.4: syncsafe, size INCLUDES the size field
            ext = _syncsafe(tag[i : i + 4])
        else:  # v2.3: plain BE, size EXCLUDES the 4-byte size field
            ext = int.from_bytes(tag[i : i + 4], "big") + 4
        i += max(ext, 4)
    title = None
    hdr = 6 if major == 2 else 10
    want = b"TT2" if major == 2 else b"TIT2"
    while i + hdr <= len(tag):
        fid = tag[i : i + (3 if major == 2 else 4)]
        if fid.strip(b"\x00") == b"":  # padding reached
            break
        if major == 2:
            fsz = int.from_bytes(tag[i + 3 : i + 6], "big")
        elif major == 4:
            fsz = _syncsafe(tag[i + 4 : i + 8])
        else:
            fsz = int.from_bytes(tag[i + 4 : i + 8], "big")
        body = tag[i + hdr : i + hdr + fsz]
        if fid == want and fsz >= 1:
            enc, text = body[0], body[1:]
            if enc == 0:
                title = text.split(b"\x00")[0].decode("latin-1", "replace")
            elif enc == 3:
                title = text.split(b"\x00")[0].decode("utf-8", "replace")
        i += hdr + fsz
    return 10 + tag_body + footer, title


def _frame_info(b: bytes, i: int):
    """Parse one frame header at offset ``i``; None if not a sync word.

    Returns ``(frame_len, version_group, layer, bitrate_kbps,
    sample_rate, channel_mode, samples_per_frame)`` or None.
    """
    if i + 4 > len(b) or b[i] != 0xFF or (b[i + 1] & 0xE0) != 0xE0:
        return None
    vbits = (b[i + 1] >> 3) & 0x3
    lbits = (b[i + 1] >> 1) & 0x3
    if vbits == 1 or lbits == 0:
        return None  # reserved version / layer
    layer = 4 - lbits  # bits 3/2/1 → Layer I/II/III
    br_i = (b[i + 2] >> 4) & 0xF
    sr_i = (b[i + 2] >> 2) & 0x3
    pad = (b[i + 2] >> 1) & 0x1
    mode = CHANNEL_MODES[(b[i + 3] >> 6) & 0x3]
    if br_i in (0, 15) or sr_i == 3:
        return None  # free-format / forbidden → quarantine
    if vbits == 3:
        table = (None, BITRATE_KBPS_V1_L1, BITRATE_KBPS_V1_L2,
                 BITRATE_KBPS_V1_L3)[layer]
        vgroup = "1"
    else:
        table = BITRATE_KBPS_V2_L1 if layer == 1 else BITRATE_KBPS_V2_L23
        vgroup = "2"
    kbps = table[br_i]
    sr = SAMPLE_RATE_HZ[vbits][sr_i]
    if layer == 1:
        flen = (12 * kbps * 1000 // sr + pad) * 4
    elif vgroup == "2" and layer == 3:
        flen = 72 * kbps * 1000 // sr + pad
    else:
        flen = 144 * kbps * 1000 // sr + pad
    return flen, vgroup, layer, kbps, sr, mode, _SAMPLES_PER_FRAME[(vgroup, layer)]


MP3_CENSUS_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("version", T.StringType()),
        T.StructField("layer", T.IntegerType()),
        T.StructField("channel_mode", T.StringType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("bitrate_kbps", T.IntegerType()),
        T.StructField("is_cbr", T.BooleanType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("id3_bytes", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("duration_sec", T.DoubleType()),
    ]
)


def _mp3_census_rows(b: bytes) -> list[dict]:
    """One census row (see the module docstring); an absent or invalid
    first frame header quarantines as ``fmt='mp3?'``."""
    tag_bytes, title = _parse_id3v2(b)
    row = {"title": title, "id3_bytes": tag_bytes, "n_bytes": len(b)}
    i = tag_bytes
    first = _frame_info(b, i)
    if first is None:
        return [{**row, "fmt": "mp3?"}]
    _, vgroup, layer, kbps0, sr, mode, spf = first
    n_frames = 0
    n_samples = 0
    cbr = True
    while True:
        info = _frame_info(b, i)
        if info is None:
            break
        flen, _, _, kbps, _, _, spf_f = info
        cbr = cbr and kbps == kbps0
        n_frames += 1
        n_samples += spf_f
        i += flen
    return [dict(row, fmt="mp3", version="MPEG" + vgroup, layer=layer,
                 channel_mode=mode, sample_rate=sr, bitrate_kbps=kbps0,
                 is_cbr=cbr, n_frames=n_frames,
                 duration_sec=n_samples / sr)]


def census_mp3(
    df: DataFrame, id_col: str = "asset_id", content_col: str = "content"
) -> DataFrame:
    """Walk every payload's ID3v2 tag + MPEG frame chain
    (:func:`operators.payloads.map_payloads`) and emit the census row
    described in the module docstring. A payload whose first frame
    header is absent or invalid quarantines as ``fmt='mp3?'`` with null
    census columns — quarantine-not-fail, same contract as
    :func:`decode_images`."""
    return map_payloads(
        df, id_col, content_col, _mp3_census_rows, MP3_CENSUS_SCHEMA
    )


# --- fixture synthesizer -------------------------------------------------

# the five bitrate indices the synthesizer cycles through (all MPEG-1 L3)
_SYNTH_BR_INDICES = (9, 10, 11, 12, 13)  # → 128/160/192/224/256 kbps
_SYNTH_RATES = (44100, 48000, 32000)  # sr index 0/1/2


def synthesize_mp3_payload(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic MPEG-1 Layer III fixture with a REAL ID3v2.3 tag
    (syncsafe size, one TIT2 latin-1 frame carrying ``t<id>``) and
    ``id % 8 + 3`` real frame headers, built JVM-side by hex assembly
    like :func:`operators.multimodal.synthesize_bmp_payload`.

    Closed forms an oracle can replay without touching a byte:
      * sample-rate index ``id % 3`` → 44100/48000/32000;
      * bitrate index ``9 + id % 5`` (CBR) — except ``id % 7 == 0``
        streams, which are VBR: frame ``f`` uses index
        ``9 + (id + f) % 5``;
      * padding bit of frame ``f`` is ``(id + f) % 2``;
      * channel mode: stereo for even ids, mono for odd;
      * frame length ``144000·kbps // rate + pad``; body fill 0x41.
    """
    i = F.col(id_col).cast("bigint")
    title_hex = F.hex(F.encode(F.concat(F.lit("t"), i.cast("string")), "UTF-8"))
    title_len = F.length(i.cast("string")) + 1
    tit2_total = title_len + 11  # 10-byte frame header + 1 encoding byte
    # syncsafe28 of the tag body (just the TIT2 frame, no padding)
    syncsafe_hex = F.concat(
        F.lpad(F.hex(F.shiftright(tit2_total, 21) % 128), 2, "0"),
        F.lpad(F.hex(F.shiftright(tit2_total, 14) % 128), 2, "0"),
        F.lpad(F.hex(F.shiftright(tit2_total, 7) % 128), 2, "0"),
        F.lpad(F.hex(tit2_total % 128), 2, "0"),
    )
    tag_hex = F.concat(
        F.lit("494433"),        # 'ID3'
        F.lit("030000"),        # v2.3.0, no flags
        syncsafe_hex,
        F.lit("54495432"),      # 'TIT2'
        _be32_hex(title_len + 1),
        F.lit("0000"),          # frame flags
        F.lit("00"),            # encoding 0 = latin-1
        title_hex,
    )
    n_frames = (i % 8 + 3).cast("int")
    sr = (
        F.when(i % 3 == 0, _SYNTH_RATES[0])
        .when(i % 3 == 1, _SYNTH_RATES[1])
        .otherwise(_SYNTH_RATES[2])
        .cast("bigint")
    )
    sr_bits = (i % 3).cast("int")

    def frame_hex(f: F.Column) -> F.Column:
        br_idx = F.when(i % 7 == 0, 9 + (i + f) % 5).otherwise(9 + i % 5)
        kbps = (
            F.when(br_idx == 9, 128)
            .when(br_idx == 10, 160)
            .when(br_idx == 11, 192)
            .when(br_idx == 12, 224)
            .otherwise(256)
            .cast("bigint")
        )
        pad = ((i + f) % 2).cast("int")
        bits = kbps * 144000
        # integer-exact floor division: (x - x % sr) is divisible by sr,
        # and the double quotient of exactly-divisible ints < 2^53 is exact
        flen = ((bits - bits % sr) / sr).cast("bigint") + pad
        b2 = (br_idx * 16 + sr_bits * 4 + pad * 2).cast("int")
        b3 = F.when(i % 2 == 0, 0).otherwise(192).cast("int")  # stereo/mono
        return F.concat(
            F.lit("FFFB"),
            F.lpad(F.hex(b2), 2, "0"),
            F.lpad(F.hex(b3), 2, "0"),
            F.repeat(F.lit("41"), (flen - 4).cast("int")),
        )

    frames_hex = F.array_join(
        F.transform(F.sequence(F.lit(0), n_frames - 1), frame_hex), ""
    )
    return df.select(
        i.alias("asset_id"),
        F.unhex(F.concat(tag_hex, frames_hex)).alias("content"),
        F.lit("audio").alias("modality"),
        F.lit("audio/mpeg").alias("mime_type"),
    )


# --- ADTS (AAC) census ----------------------------------------------------
# ISO/IEC 13818-7 §6.2 / 14496-3: the 7-byte (protection_absent) ADTS
# fixed+variable header. Sample decode is the same documented boundary
# as MP3 MDCT; the census walks real frame lengths.

ADTS_SAMPLE_RATES = (
    96000, 88200, 64000, 48000, 44100, 32000,
    24000, 22050, 16000, 12000, 11025, 8000,
)
ADTS_PROFILES = ("AAC Main", "AAC LC", "AAC SSR", "AAC LTP")

ADTS_CENSUS_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("mpeg_id", T.StringType()),
        T.StructField("profile", T.StringType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("duration_sec", T.DoubleType()),
    ]
)


def _adts_frame_info(b: bytes, i: int):
    """Parse one ADTS header at offset ``i``; None if not a sync word.
    Returns ``(frame_len, mpeg_id, profile, sample_rate, channels,
    n_blocks)``."""
    if i + 7 > len(b) or b[i] != 0xFF or (b[i + 1] & 0xF6) != 0xF0:
        return None  # sync 0xFFF + layer bits 00 required
    mpeg_id = "MPEG-2" if b[i + 1] & 0x08 else "MPEG-4"
    crc = not (b[i + 1] & 0x01)  # protection_absent = 0 → CRC present
    profile = ADTS_PROFILES[(b[i + 2] >> 6) & 0x3]
    sf_i = (b[i + 2] >> 2) & 0xF
    if sf_i >= len(ADTS_SAMPLE_RATES):
        return None  # reserved sampling-frequency index
    sr = ADTS_SAMPLE_RATES[sf_i]
    ch = ((b[i + 2] & 0x1) << 2) | ((b[i + 3] >> 6) & 0x3)
    flen = ((b[i + 3] & 0x3) << 11) | (b[i + 4] << 3) | (b[i + 5] >> 5)
    n_blocks = (b[i + 6] & 0x3) + 1
    if flen < (9 if crc else 7):
        return None
    return flen, mpeg_id, profile, sr, ch, n_blocks


def _adts_census_rows(b: bytes) -> list[dict]:
    """One census row; an invalid first frame quarantines as
    ``fmt='aac?'``."""
    first = _adts_frame_info(b, 0)
    if first is None:
        return [{"fmt": "aac?", "n_bytes": len(b)}]
    _, mpeg_id, profile, sr, ch, _ = first
    i = 0
    n_frames = 0
    n_samples = 0
    while True:
        info = _adts_frame_info(b, i)
        if info is None:
            break
        flen, _, _, _, _, n_blocks = info
        n_frames += 1
        n_samples += 1024 * n_blocks
        i += flen
    return [dict(fmt="aac", mpeg_id=mpeg_id, profile=profile,
                 sample_rate=sr, channels=ch, n_frames=n_frames,
                 n_bytes=len(b), duration_sec=n_samples / sr)]


def census_adts(
    df: DataFrame, id_col: str = "asset_id", content_col: str = "content"
) -> DataFrame:
    """Walk every payload's ADTS frame chain and census it —
    ``duration_sec`` is sample-exact (1024 samples per raw data block).
    Invalid first frame quarantines as ``fmt='aac?'``."""
    return map_payloads(
        df, id_col, content_col, _adts_census_rows, ADTS_CENSUS_SCHEMA
    )


def synthesize_adts_payload(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic MPEG-4 ADTS AAC fixture, hex-assembled JVM-side.
    Closed forms for the oracle: ``id % 6 + 2`` frames; profile bits
    ``id % 3`` (Main/LC/SSR); sampling-frequency index ``3 + id % 5``
    (48000/44100/32000/24000/22050); ``1 + id % 2`` channels; frame
    ``f`` carries a ``100 + (id + 13·f) % 200``-byte payload behind
    the 7-byte header (protection absent, fullness 0x7FF, 1 raw
    block); fill byte 0x42."""
    i = F.col(id_col).cast("bigint")
    n_frames = (i % 6 + 2).cast("int")
    profile = (i % 3).cast("int")
    sf_i = (3 + i % 5).cast("int")
    ch = (1 + i % 2).cast("int")
    # b2 = profile<<6 | sf_index<<2 | 0<<1 | channel_config>>2 (ch ≤ 2 → 0)
    b2 = (profile * 64 + sf_i * 4).cast("int")

    def frame_hex(f: F.Column) -> F.Column:
        flen = (107 + (i + 13 * f) % 200).cast("int")  # 7 + payload
        b3 = ((ch % 4) * 64 + F.shiftright(flen, 11)).cast("int")
        b4 = (F.shiftright(flen, 3) % 256).cast("int")
        b5 = ((flen % 8) * 32 + 31).cast("int")  # fullness 0x7FF >> 6
        return F.concat(
            F.lit("FFF1"),
            F.lpad(F.hex(b2), 2, "0"),
            F.lpad(F.hex(b3), 2, "0"),
            F.lpad(F.hex(b4), 2, "0"),
            F.lpad(F.hex(b5), 2, "0"),
            F.lit("FC"),  # fullness low 6 bits << 2 | (1 block - 1)
            F.repeat(F.lit("42"), flen - 7),
        )

    frames_hex = F.array_join(
        F.transform(F.sequence(F.lit(0), n_frames - 1), frame_hex), ""
    )
    return df.select(
        i.alias("asset_id"),
        F.unhex(frames_hex).alias("content"),
        F.lit("audio").alias("modality"),
        F.lit("audio/aac").alias("mime_type"),
    )
