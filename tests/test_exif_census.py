"""JPEG EXIF census conformance (operators/exif.py): golden TIFF
structures in BOTH byte orders, the >4-byte offset indirection,
GPS latitude decode, and every quarantine class."""

from __future__ import annotations

import struct

from vacancy_gpt_etl_pipeline_spark.operators.exif import (
    _build_exif_jpeg,
    _parse_exif,
    census_exif,
    census_tiff,
)


def _long_ifd(e: str, entries: list[tuple[int, int]]) -> bytes:
    """One IFD of LONG-typed ``(tag, value)`` entries, no next IFD."""
    return (
        struct.pack(e + "H", len(entries))
        + b"".join(struct.pack(e + "HHLL", t, 4, 1, v) for t, v in entries)
        + struct.pack(e + "L", 0)
    )


def _long_tiff(width: int) -> bytes:
    """A TIFF whose ImageWidth/ImageLength are LONG (4-byte) fields."""
    return b"II" + struct.pack("<HL", 42, 8) + _long_ifd(
        "<", [(0x0100, width), (0x0101, 48), (0x0102, 8)]
    )


def _long_orientation_jpeg(orientation: int) -> bytes:
    """A JPEG whose Exif IFD0 Orientation is a LONG (4-byte) field."""
    app1 = b"Exif\x00\x00MM" + struct.pack(">HL", 42, 8) + _long_ifd(
        ">", [(0x0112, orientation)]
    )
    return (
        b"\xff\xd8\xff\xe1" + struct.pack(">H", len(app1) + 2) + app1
        + b"\xff\xd9"
    )


def test_both_byte_orders_golden():
    even = _parse_exif(_build_exif_jpeg(12))  # II, gps (12%3==0)
    assert even == (
        "II",
        "CAM2",
        5,
        "2024:01:13 12:00:00",
        True,
        12.2,  # 12 deg + 12 min / 60
        4,
    )
    odd = _parse_exif(_build_exif_jpeg(7))  # MM, no gps
    assert odd == ("MM", "CAM2", 8, "2024:01:08 12:00:00", False, None, 3)


def test_inline_vs_offset_values():
    """Orientation (SHORT, 2 bytes) is stored inline in the 4-byte
    value field; Make (ASCII > 4 bytes) goes through the offset
    indirection — both must decode."""
    got = _parse_exif(_build_exif_jpeg(2))
    assert got[1] == "CAM2" and got[2] == 3


def test_gps_latitude_rationals():
    # id=33: MM order, 33%90=33 deg, 33%60=33 min -> 33.55
    # (33, not 93 — 93 is a multiple of 31, the no-EXIF fixture class)
    got = _parse_exif(_build_exif_jpeg(33))
    assert got[4] is True
    assert got[5] == round(33 + 33 / 60, 6) == 33.55


def test_quarantine_classes():
    good = _build_exif_jpeg(4)
    assert _parse_exif(good) is not None
    assert _parse_exif(good[: len(good) // 2]) is None  # truncated
    assert _parse_exif(b"") is None
    assert _parse_exif(b"\x00\x00" + good[2:]) is None  # no SOI
    # APP1 present but TIFF magic wrong
    bad = bytearray(good)
    off = good.find(b"Exif\x00\x00") + 6
    bad[off + 2] = 0x99  # magic 42 -> corrupted
    assert _parse_exif(bytes(bad)) is None
    # IFD0 offset pointing past the buffer
    bad = bytearray(good)
    bad[off + 4 : off + 8] = struct.pack("<L", 1 << 20)
    assert _parse_exif(bytes(bad)) is None
    # segment length overrunning the file
    bad = bytearray(good)
    bad[2 + 2 : 2 + 4] = struct.pack(">H", 0xFFFF)
    assert _parse_exif(bytes(bad)) is None


def test_no_exif_is_not_quarantine():
    """A structurally valid JPEG without an Exif APP1 is NO_EXIF, not
    None — 'no GPS present' and 'unparseable' are distinct census
    populations."""
    from vacancy_gpt_etl_pipeline_spark.operators.exif import NO_EXIF

    jfif = b"\xff\xd8\xff\xe0" + struct.pack(">H", 7) + b"JFIF\x00\xff\xd9"
    assert _parse_exif(jfif) == NO_EXIF
    # bare SOI+EOI: the walk completes at EOI having seen no segments
    assert _parse_exif(b"\xff\xd8\xff\xd9") == NO_EXIF
    # SOS terminates the metadata walk (APPn must precede the scan) —
    # entropy-coded data after it is never parsed as segments
    sos = (
        b"\xff\xd8"
        + b"\xff\xda"
        + struct.pack(">H", 4)
        + b"\x01\x00"
        + b"\x12\x34\x56"  # entropy bytes, not segment-shaped
    )
    assert _parse_exif(sos) == NO_EXIF
    # truncation is still quarantine, not NO_EXIF
    assert _parse_exif(jfif[:-3]) is None


def test_fill_bytes_and_standalone_markers_are_skipped():
    """0xFF fill padding and length-less TEM/RSTn markers before APP1
    must not derail the walk (advice r13: the walker misread them as
    length-bearing segments)."""
    good = _build_exif_jpeg(4)
    assert good[2:4] == b"\xff\xe1"
    app1_on = good[2:]
    for prefix in (
        b"\xff",  # fill byte
        b"\xff\x01",  # TEM
        b"\xff\xd0",  # RST0
        b"\xff\xff\xff\xd7\xff\x01",  # fill run + RST7 + TEM
    ):
        assert _parse_exif(b"\xff\xd8" + prefix + app1_on) == _parse_exif(
            good
        )
    # the id%11 fixture class bakes the same prefix in
    got = _parse_exif(_build_exif_jpeg(22))  # 22%11==0, II, no gps
    assert got is not None and got[0] == "II" and got[1] == "CAM2"


def test_no_exif_fixture_class():
    from vacancy_gpt_etl_pipeline_spark.operators.exif import NO_EXIF

    assert _parse_exif(_build_exif_jpeg(31)) == NO_EXIF
    assert _parse_exif(_build_exif_jpeg(62)) == NO_EXIF
    # %29 truncation takes precedence over %31
    assert _parse_exif(_build_exif_jpeg(29 * 31)) is None


def test_tiff_census_golden_and_chain():
    from vacancy_gpt_etl_pipeline_spark.operators.exif import (
        _build_tiff,
        _parse_tiff,
    )

    # id=2: II, 1+2%3=3 pages, w=34, h=26, bits 8, comp 1
    got = _parse_tiff(_build_tiff(2))
    assert got == ("II", 34, 26, 8, 1, 3, 4)
    # id=3: MM, bilevel (3%3==0 -> bits 1), 1 page
    got = _parse_tiff(_build_tiff(3))
    assert got == ("MM", 32 + 3, 24 + 3, 1, 1, 1, 4)
    # id=4: LZW compression tag (4%4==0)
    assert _parse_tiff(_build_tiff(4))[4] == 5


def test_tiff_census_quarantine_classes():
    import struct as _s

    from vacancy_gpt_etl_pipeline_spark.operators.exif import (
        _build_tiff,
        _parse_tiff,
    )

    good = _build_tiff(2)
    assert _parse_tiff(good) is not None
    assert _parse_tiff(good[: len(good) // 2]) is None  # truncated
    assert _parse_tiff(b"") is None
    assert _parse_tiff(b"XX" + good[2:]) is None  # bad order bytes
    bad = bytearray(good)
    bad[2:4] = _s.pack("<H", 43)  # wrong magic
    assert _parse_tiff(bytes(bad)) is None
    # fixture truncation class
    assert _parse_tiff(_build_tiff(37)) is None
    assert _parse_tiff(_build_tiff(74)) is None
    # circular IFD chain: point page 2's next pointer back at IFD0
    loop = bytearray(_build_tiff(2))  # 3 pages, IFDs at 8/62/116
    ifd_size = 2 + 12 * 4 + 4
    tail = 8 + ifd_size + (2 + 12 * 4)  # page-2 next-pointer offset
    loop[tail : tail + 4] = _s.pack("<L", 8)
    assert _parse_tiff(bytes(loop)) is None


def test_spark_census_closed_forms(spark, sf_dir):
    from vacancy_gpt_etl_pipeline_spark.operators.exif import (
        census_exif,
        synthesize_exif_payload,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id"
    )
    rows = census_exif(synthesize_exif_payload(docs)).collect()
    assert rows
    for r in rows:
        i = r.asset_id
        if i % 29 == 0:
            assert r.fmt == "jpeg?" and r.byte_order is None
            assert r.has_gps is None
            continue
        if i % 31 == 0:
            assert r.fmt == "jpeg" and r.byte_order is None
            assert r.has_gps is False and r.gps_lat is None
            assert r.n_ifd0_entries is None
            continue
        assert r.fmt == "jpeg"
        assert r.byte_order == ("II" if i % 2 == 0 else "MM")
        assert r.make == f"CAM{i % 5}"
        assert r.orientation == 1 + i % 8
        assert r.has_gps == (i % 3 == 0)
        if r.has_gps:
            assert r.gps_lat == round((i % 90) + (i % 60) / 60, 6)


def test_tiff_pixel_decode_golden_all_classes():
    """_build_tiff_px → _tiff_gray round-trips EVERY fixture class
    (both byte orders, WhiteIsZero/BlackIsZero/RGB, PackBits and
    uncompressed, multi-strip) to the one closed-form gray matrix the
    oracle replays; ids sharing a residue mod 250 decode identical
    (the dup population) despite different container classes."""
    import numpy as np

    from vacancy_gpt_etl_pipeline_spark.operators.exif import (
        _build_tiff_px,
        _tiff_gray,
    )

    for i in (1, 2, 3, 4, 5, 6, 8, 12, 251, 252, 480):
        g = _tiff_gray(_build_tiff_px(i))
        src = i % 250
        w, h = 8 + src % 16, 8 + src % 8
        assert g is not None and g.shape == (h, w)
        exp = np.array(
            [1 + (src * 31 + (k // 4) * 7) % 254 for k in range(w * h)]
        ).reshape(h, w)
        assert (g == exp).all(), i
    # cross-class collapse: II/uncompressed/photo-1 (id 1) vs
    # MM/photo-? (id 251) — different containers, same pixels
    a = _tiff_gray(_build_tiff_px(1))
    b = _tiff_gray(_build_tiff_px(251))
    assert (a == b).all()


def test_tiff_pixel_decode_quarantine_classes():
    import struct as _s

    from vacancy_gpt_etl_pipeline_spark.operators.exif import (
        _build_tiff_px,
        _packbits_decode,
        _tiff_gray,
    )

    # fixture truncation class (every 37th id)
    assert _tiff_gray(_build_tiff_px(37)) is None
    assert _tiff_gray(_build_tiff_px(0)) is None
    good = _build_tiff_px(2)
    assert _tiff_gray(good) is not None
    assert _tiff_gray(b"") is None
    assert _tiff_gray(b"XX" + good[2:]) is None
    bad = bytearray(good)
    bad[2:4] = _s.pack("<H", 43)  # wrong magic
    assert _tiff_gray(bytes(bad)) is None
    # unsupported compression tag (LZW=5) on an otherwise-valid file:
    # entry 4 (0x0103) value field sits at 8+2+12*3+8
    lzw = bytearray(good)
    lzw[8 + 2 + 12 * 3 + 8 : 8 + 2 + 12 * 3 + 10] = _s.pack("<H", 5)
    assert _tiff_gray(bytes(lzw)) is None
    # census still reads the tag census-style — decode is the only
    # tier that refuses (quarantine split between tiers)
    from vacancy_gpt_etl_pipeline_spark.operators.exif import _parse_tiff

    assert _parse_tiff(bytes(lzw))[4] == 5
    # PackBits stream with wrong decoded length
    assert _packbits_decode(b"\x01ab", 2) == b"ab"  # valid 2-literal
    assert _packbits_decode(b"\x02abc", 2) is None  # decodes 3, want 2
    assert _packbits_decode(b"\xfe", 3) is None  # repeat missing byte
    assert _packbits_decode(b"\x05ab", 6) is None  # literal truncated


def test_phash_tiff_spark_and_dup_population(spark, sf_dir):
    """Spark-side: quarantined ids dropped, residue-mod-250 pairs
    collapse to one fingerprint, and the hash matches hashing the
    decoded plane directly."""
    from vacancy_gpt_etl_pipeline_spark.operators.exif import (
        _build_tiff_px,
        _tiff_gray,
        synthesize_tiff_pixel_payload,
    )
    from vacancy_gpt_etl_pipeline_spark.operators.phash import (
        phash64,
        phash_tiff,
    )

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id")
        .where("doc_id < 300")
    )
    rows = {
        r["asset_id"]: r
        for r in phash_tiff(
            synthesize_tiff_pixel_payload(docs, "doc_id")
        ).collect()
    }
    assert 0 not in rows and 37 not in rows and 259 not in rows
    assert rows[1]["hash_hex"] == rows[251]["hash_hex"]
    b0, b1, b2, b3 = phash64(_tiff_gray(_build_tiff_px(5)))
    assert rows[5]["hash_hex"] == f"{b0:04x}{b1:04x}{b2:04x}{b3:04x}"
    assert (rows[5]["width"], rows[5]["height"]) == (8 + 5 % 16, 8 + 5 % 8)


def test_lzw_roundtrip_and_width_thresholds():
    """TIFF §13 LZW: encode→decode round-trips across sizes that
    straddle every early-change width bump (9→10→11→12), including
    the end-of-stream edge where the decoder's append after the FINAL
    data code lands exactly on its threshold and EOI reads one bit
    wider (the bug class the encoder must mirror)."""
    import random

    from vacancy_gpt_etl_pipeline_spark.operators.exif import (
        _lzw_decode,
        _lzw_encode,
    )

    rng = random.Random(3)
    for _ in range(200):
        n = rng.randrange(0, 1200)
        d = bytes(
            rng.choice([rng.randrange(256), 7, 7, 7]) for _ in range(n)
        )
        assert _lzw_decode(_lzw_encode(d), n) == d
    # ~1 table add per byte: lengths 490..539 walk the 511 threshold
    for n in range(490, 540):
        r2 = random.Random(n)
        d = bytes(r2.randrange(256) for _ in range(n))
        assert _lzw_decode(_lzw_encode(d), n) == d, n
    big = bytes(random.Random(9).randrange(256) for _ in range(30000))
    assert _lzw_decode(_lzw_encode(big), len(big)) == big
    # malformed streams: truncated, wrong length, code past table
    enc = _lzw_encode(b"abcabcabc")
    assert _lzw_decode(enc[:-2], 9) is None
    assert _lzw_decode(enc, 8) is None
    assert _lzw_decode(enc, 10) is None
    assert _lzw_decode(b"", 1) is None


def test_tiff_cx_decode_all_classes():
    """LZW gray / LZW+predictor gray / LZW+predictor RGB / bilevel
    classes all decode to their closed-form gray; truncation
    quarantines; predictor on non-8-bit quarantines."""
    import struct as _s

    import numpy as np

    from vacancy_gpt_etl_pipeline_spark.operators.exif import (
        _build_tiff_cx,
        _tiff_gray,
    )

    for i in (4, 5, 6, 7, 8, 9, 10, 11, 255, 256):  # covers cls 0-3
        g = _tiff_gray(_build_tiff_cx(i))
        src = i % 250
        w, h = 8 + src % 16, 8 + src % 8
        assert g is not None and g.shape == (h, w), i
        if i % 4 == 3:
            exp = np.array(
                [
                    255 * ((src * 31 + (k // 4) * 7) % 2)
                    for k in range(w * h)
                ]
            ).reshape(h, w)
        else:
            exp = np.array(
                [
                    1 + (src * 31 + (k // 4) * 7) % 254
                    for k in range(w * h)
                ]
            ).reshape(h, w)
        assert (g == exp).all(), (i, i % 4)
    assert _tiff_gray(_build_tiff_cx(0)) is None  # truncation class
    assert _tiff_gray(_build_tiff_cx(37)) is None
    # predictor=2 on the BILEVEL class must quarantine, not mis-decode:
    # entry 10 (0x013D) value field sits at 8 + 2 + 12*9 + 8
    b = bytearray(_build_tiff_cx(7))  # cls 3 bilevel, II? 7%2=1 -> MM
    fmt = ">" if b[:2] == b"MM" else "<"
    off = 8 + 2 + 12 * 9 + 8
    b[off : off + 2] = _s.pack(fmt + "H", 2)
    # checksum-free format: IFD entries carry no checksum, so the tag
    # patch alone flips the decode verdict
    assert _tiff_gray(bytes(b)) is None


def test_long_fields_past_int32_census_as_null(spark):
    """A LONG ImageWidth or Orientation of 2^31 or more does not fit
    the Int32 census column: the row keeps its other fields and the
    field reads null, instead of the cast failing the task."""
    df = spark.createDataFrame(
        [(1, _long_tiff(2**31)), (2, _long_tiff(2**32 - 1)),
         (3, _long_tiff(64))],
        "asset_id long, content binary",
    )
    got = {
        r["asset_id"]: (r["fmt"], r["width"], r["height"])
        for r in census_tiff(df).collect()
    }
    assert got == {1: ("tiff", None, 48), 2: ("tiff", None, 48),
                   3: ("tiff", 64, 48)}
    df = spark.createDataFrame(
        [(1, _long_orientation_jpeg(2**31)), (2, _long_orientation_jpeg(6))],
        "asset_id long, content binary",
    )
    got = {
        r["asset_id"]: (r["fmt"], r["byte_order"], r["orientation"])
        for r in census_exif(df).collect()
    }
    assert got == {1: ("jpeg", "MM", None), 2: ("jpeg", "MM", 6)}
