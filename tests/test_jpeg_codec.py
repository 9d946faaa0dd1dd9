"""Baseline-JPEG codec + MJPEG-AVI conformance (operators/jpeg.py).

Pure-Python layers are tested directly (round trips through the real
entropy coder, container walk, malformed-input quarantine); the Spark
plumbing (decode_video_frames RIFF routing, sample_frames real MJPEG
sampling, mixed-container corpora) is tested through the same Arrow
mapInPandas operators the registry entry `mjpeg_video_decode` uses.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from vacancy_gpt_etl_pipeline_spark.operators import jpeg
from vacancy_gpt_etl_pipeline_spark.operators.multimodal import (
    _jpeg_channel_means,
    _parse_image_header,
    decode_images,
    decode_video_frames,
    sample_frames,
    synthesize_jpeg_payload,
    synthesize_mjpeg_avi_payload,
    synthesize_y4m_payload,
)

RNG = np.random.default_rng(20260815)


# --- pure codec layer ------------------------------------------------------


def test_solid_gray_roundtrips_exactly():
    # the exactness contract the registry oracle relies on: a solid 8x8
    # block's DCT is DC-only and DC quant step 8 divides 8*(g-128)
    for g in (0, 1, 127, 128, 200, 255):
        plane = np.full((16, 24), g, dtype=np.uint8)
        b = jpeg.encode_baseline_jpeg([plane], 24, 16)
        w, h, planes = jpeg.decode_baseline_jpeg(b)
        assert (w, h) == (24, 16)
        assert np.array_equal(planes[0], plane)


def test_block_mosaic_roundtrips_exactly_with_restarts():
    blocks = RNG.integers(0, 256, (6, 8), dtype=np.uint8)
    plane = np.repeat(np.repeat(blocks, 8, 0), 8, 1)
    b = jpeg.encode_baseline_jpeg([plane], 64, 48, restart_interval=3)
    # restart markers actually present in the stream
    assert any(bytes([0xFF, 0xD0 + i]) in b for i in range(8))
    _, _, planes = jpeg.decode_baseline_jpeg(b)
    assert np.array_equal(planes[0], plane)


def test_arbitrary_content_lossy_but_bounded():
    # non-block-constant content exercises AC coefficients, ZRL runs and
    # EOB placement; flat-16 quant bounds reconstruction error well under
    # one quant step per coefficient energy-spread worst case
    plane = RNG.integers(0, 256, (33, 47), dtype=np.uint8)
    b = jpeg.encode_baseline_jpeg([plane], 47, 33)
    w, h, planes = jpeg.decode_baseline_jpeg(b)
    assert (w, h) == (47, 33)
    err = np.abs(planes[0].astype(int) - plane.astype(int))
    assert err.max() < 128 and err.mean() < 16


def test_chroma_subsampling_420_shapes_and_dc_accuracy():
    y = np.full((32, 32), 90, dtype=np.uint8)
    cb = np.full((16, 16), 60, dtype=np.uint8)
    cr = np.full((16, 16), 201, dtype=np.uint8)
    b = jpeg.encode_baseline_jpeg(
        [y, cb, cr], 32, 32, sampling=[(2, 2), (1, 1), (1, 1)]
    )
    w, h, planes = jpeg.decode_baseline_jpeg(b)
    assert [p.shape for p in planes] == [(32, 32)] * 3
    # solid planes are exact even through subsampled MCU interleave
    assert int(planes[0][0, 0]) == 90
    assert int(planes[1][5, 7]) == 60
    assert int(planes[2][31, 31]) == 201


def test_non_mcu_aligned_dims_crop():
    # 10x13 grayscale: encoder pads to 16x16 MCU grid, decoder crops back
    plane = np.repeat(
        np.repeat(RNG.integers(0, 256, (2, 2), dtype=np.uint8), 8, 0), 8, 1
    )[:13, :10]
    b = jpeg.encode_baseline_jpeg(
        [np.ascontiguousarray(plane)], 10, 13
    )
    w, h, planes = jpeg.decode_baseline_jpeg(b)
    assert (w, h) == (10, 13) and planes[0].shape == (13, 10)
    assert np.array_equal(planes[0], plane)


def test_progressive_and_malformed_rejected():
    plane = np.full((8, 8), 50, dtype=np.uint8)
    b = bytearray(jpeg.encode_baseline_jpeg([plane], 8, 8))
    sof = b.find(b"\xff\xc0")
    b[sof + 1] = 0xC2  # rewrite SOF0 -> SOF2 (progressive)
    with pytest.raises(ValueError, match="SOF"):
        jpeg.decode_baseline_jpeg(bytes(b))
    with pytest.raises(ValueError):
        jpeg.decode_baseline_jpeg(b"\x00\x01not a jpeg")


def test_avi_container_roundtrip_and_quarantine():
    frames = [
        jpeg.encode_baseline_jpeg(
            [np.full((16, 16), 10 + 37 * i, dtype=np.uint8)], 16, 16
        )
        for i in range(4)
    ]
    avi = jpeg.build_mjpeg_avi(frames, 16, 16)
    assert jpeg.avi_video_fourcc(avi) == "MJPG"
    rows = list(jpeg.parse_mjpeg_avi_stats(avi))
    assert [r[0] for r in rows] == [0, 1, 2, 3]
    assert [r[3] for r in rows] == [10.0, 47.0, 84.0, 121.0]
    # grayscale frames report NaN chroma
    assert all(np.isnan(r[4]) and np.isnan(r[5]) for r in rows)
    # quarantine-not-fail: garbage, truncation, wrong fourcc all yield []
    assert list(jpeg.iter_avi_mjpeg_frames(b"garbage")) == []
    assert list(jpeg.iter_avi_mjpeg_frames(avi[:60])) == []
    wrong = avi.replace(b"MJPG", b"H264")
    assert list(jpeg.iter_avi_mjpeg_frames(wrong)) == []
    # one corrupt frame is skipped, the rest still decode: rewrite frame
    # 2's SOF0 to SOF2 in place so only ITS decode raises (frame headers
    # are byte-identical across frames, so prefix-based replace would
    # hit frame 0)
    broken = bytearray(avi)
    off = avi.find(frames[2]) + frames[2].find(b"\xff\xc0")
    broken[off + 1] = 0xC2
    got = [r[3] for r in jpeg.parse_mjpeg_avi_stats(bytes(broken))]
    assert 84.0 not in got and {10.0, 47.0, 121.0} <= set(got)


# --- golden-literal conformance ---------------------------------------------
# Round-tripping through our own encoder cannot catch SYMMETRIC bugs (a
# wrong zigzag or Huffman assignment used in both directions cancels
# out). These streams are hand-derived from the published ITU-T T.81
# Annex-K code tables — '011' is the spec's DC-luma category-2 code,
# '1010' its AC-luma EOB, '01' its (run 0, size 2) — never touching the
# encoder, so the decoder is checked against the spec itself.


def _golden_jpeg(entropy: bytes) -> bytes:
    """Minimal 8×8 grayscale baseline JPEG around a given entropy
    segment: FIXTURE_QTABLE quant, Annex-K DC/AC luma tables."""
    out = bytearray(b"\xff\xd8")
    zz_qt = jpeg.FIXTURE_QTABLE[jpeg.ZIGZAG]
    out += b"\xff\xdb" + (67).to_bytes(2, "big") + b"\x00"
    out += bytes(int(x) for x in zz_qt)
    out += b"\xff\xc0" + (11).to_bytes(2, "big")
    out += bytes([8]) + (8).to_bytes(2, "big") + (8).to_bytes(2, "big")
    out += bytes([1, 1, 0x11, 0])
    for tc_th, (bits, vals) in ((0x00, jpeg.DC_LUM_SPEC), (0x10, jpeg.AC_LUM_SPEC)):
        out += b"\xff\xc4" + (19 + len(vals)).to_bytes(2, "big")
        out += bytes([tc_th]) + bytes(bits) + bytes(vals)
    out += b"\xff\xda" + (8).to_bytes(2, "big") + bytes([1, 1, 0x00, 0, 63, 0])
    out += entropy
    out += b"\xff\xd9"
    return bytes(out)


def test_golden_dc_only_stream():
    # solid 130: DC coef 8*(130-128)=16, /8 -> 2; diff 2 = category 2.
    # Spec codes: DC-luma cat2 = '011', value bits '10', EOB = '1010'.
    # 011 10 1010 + 1111111 pad = 0x75 0x7F.
    w, h, planes = jpeg.decode_baseline_jpeg(_golden_jpeg(bytes([0x75, 0x7F])))
    assert (w, h) == (8, 8)
    assert np.array_equal(planes[0], np.full((8, 8), 130, dtype=np.uint8))


def test_golden_single_ac_coefficient():
    # DC diff 0 = DC-luma cat0 '00'; one AC at ZIGZAG k=1 (raster row 0,
    # col 1) value 3: (run 0, size 2) = '01', bits '11'; EOB '1010'.
    # 00 01 11 1010 + 111111 pad = 0x1E 0xBF. Dequant: 3*16 = 48.
    w, h, planes = jpeg.decode_baseline_jpeg(_golden_jpeg(bytes([0x1E, 0xBF])))
    # independent IDCT: pixel[m,n] = A[0,m]*48*A[1,n] + 128 with the
    # orthonormal DCT-II basis, written out with math.cos (no reuse of
    # the module's matrix)
    import math

    exp = np.empty((8, 8), dtype=np.uint8)
    for m in range(8):
        for n in range(8):
            v = (
                math.sqrt(1.0 / 8.0)
                * 48.0
                * 0.5
                * math.cos((2 * n + 1) * math.pi / 16.0)
            ) + 128.0
            exp[m, n] = int(min(max(round(v), 0), 255))
    assert np.array_equal(planes[0], exp)


# --- still-image path ------------------------------------------------------


def test_jpeg_header_parse_and_grayscale_means():
    plane = np.full((16, 8), 200, dtype=np.uint8)
    b = jpeg.encode_baseline_jpeg([plane], 8, 16)
    fmt, w, h, depth, off = _parse_image_header(b)
    assert (fmt, w, h, depth, off) == ("jpeg", 8, 16, 8, 2)
    # grayscale maps Y to all three channels, exactly
    assert _jpeg_channel_means(b) == (200.0, 200.0, 200.0)


def test_jpeg_channel_means_match_brute_force_bt601():
    y = np.full((8, 8), 120, dtype=np.uint8)
    cb = np.full((8, 8), 53, dtype=np.uint8)
    cr = np.full((8, 8), 201, dtype=np.uint8)
    b = jpeg.encode_baseline_jpeg([y, cb, cr], 8, 8)
    mb, mg, mr = _jpeg_channel_means(b)
    # floor(x+0.5) rounding, full-range BT.601 — the oracle's formula
    exp_r = min(max(np.floor(120 + 1.402 * (201 - 128) + 0.5), 0), 255)
    exp_g = min(
        max(
            np.floor(
                120 - 0.344136 * (53 - 128) - 0.714136 * (201 - 128) + 0.5
            ),
            0,
        ),
        255,
    )
    exp_b = min(max(np.floor(120 + 1.772 * (53 - 128) + 0.5), 0), 255)
    assert (mb, mg, mr) == (exp_b, exp_g, exp_r)


def test_jpeg_progressive_dims_parse_but_means_null():
    plane = np.full((8, 8), 50, dtype=np.uint8)
    b = bytearray(jpeg.encode_baseline_jpeg([plane], 8, 8))
    b[b.index(b"\xff\xc0") + 1] = 0xC2
    fmt, w, h, depth, _ = _parse_image_header(bytes(b))
    # header dims remain readable for frame types the decoder rejects
    assert (fmt, w, h, depth) == ("jpeg", 8, 8, 8)
    assert _jpeg_channel_means(bytes(b)) == (None, None, None)


def test_decode_images_jpeg_fixture(spark):
    ids = spark.range(0, 10).select(F.col("id").alias("doc_id"))
    out = decode_images(synthesize_jpeg_payload(ids)).toPandas()
    assert len(out) == 10
    assert set(out["fmt"]) == {"jpeg"}
    for _, r in out.iterrows():
        i = int(r.asset_id)
        assert (r.width, r.height) == ((i % 4 + 1) * 8, (i % 2 + 1) * 8)
        assert r.bit_depth == 8
        nb = (r.width // 8) * (r.height // 8)
        ks = np.arange(nb, dtype=np.int64)
        y = ((i * 37 + ks * 29) % 256).astype(np.float64)
        u = ((i * 37 + ks * 29) % 256 + 85) % 256 - 128.0
        v = ((i * 37 + ks * 29) % 256 + 170) % 256 - 128.0
        exp_b = np.clip(np.floor(y + 1.772 * u + 0.5), 0, 255).sum() / nb
        assert r.mean_b == exp_b


def test_truncation_quarantine_never_raises():
    # quarantine contract: no truncation point of a real stream may leak
    # an exception out of the stats/means entry points (they run inside
    # Python workers; an escape fails the whole task)
    plane = np.repeat(
        np.repeat(RNG.integers(0, 256, (2, 3), dtype=np.uint8), 8, 0), 8, 1
    )
    still = jpeg.encode_baseline_jpeg([plane], 24, 16, restart_interval=2)
    avi = jpeg.build_mjpeg_avi([still, still], 24, 16)
    for cut in range(0, len(still), 7):
        _jpeg_channel_means(still[:cut])
        fmt, _, _, _, _ = _parse_image_header(still[:cut])
        assert fmt in ("jpeg", "unknown")
    for cut in range(0, len(avi), 13):
        list(jpeg.parse_mjpeg_avi_stats(avi[:cut]))
    # flipped bytes inside the entropy segment must also quarantine
    for off in range(len(still) - 20, len(still) - 2):
        mutated = bytearray(still)
        mutated[off] ^= 0x5A
        _jpeg_channel_means(bytes(mutated))


def test_corrupt_sampling_factors_and_dc_tables_quarantine():
    """A zero sampling factor (ZeroDivisionError) and a DC predictor
    driven past int64 by a corrupt DC table (OverflowError) used to
    escape the decoder's ValueError contract and fail the decode task;
    both now quarantine."""
    import random

    from test_parser_robustness import _mutations

    from vacancy_gpt_etl_pipeline_spark.operators.multimodal import (
        _jpeg_fixture,
        _mjpeg_avi_fixture,
    )

    still = bytearray(_jpeg_fixture(5))
    sof = still.find(b"\xff\xc0")
    still[sof + 11] = 0x01  # first component: h=0, v=1
    with pytest.raises(ValueError, match="sampling factors"):
        jpeg.decode_baseline_jpeg(bytes(still))
    assert _jpeg_channel_means(bytes(still)) == (None, None, None)
    # seeded corpora that reach each error (found by mutation fuzzing)
    for base, seed, n in (
        (_jpeg_fixture(5), 31, 16),  # OverflowError in the DC predictor
        (_jpeg_fixture(5), 286, 23),  # ZeroDivisionError
    ):
        for payload in _mutations(random.Random(seed), base, n):
            _jpeg_channel_means(payload)
    for payload in _mutations(random.Random(19), _mjpeg_avi_fixture(4), 19):
        list(jpeg.parse_mjpeg_avi_stats(payload))


def test_avi_metadata_parse():
    from vacancy_gpt_etl_pipeline_spark.operators.multimodal import (
        _parse_avi_metadata,
    )

    frames = [
        jpeg.encode_baseline_jpeg(
            [np.full((16, 24), 99, dtype=np.uint8)], 24, 16
        )
        for _ in range(5)
    ]
    avi = jpeg.build_mjpeg_avi(frames, 24, 16, fps=25)
    w, h, nf, dur, ntr, hnd = _parse_avi_metadata(avi)
    assert (w, h, nf, ntr, hnd) == (24, 16, 5, 1, "vids:MJPG")
    assert dur == 5 * 40000 / 1_000_000
    assert _parse_avi_metadata(b"RIFFxxxxWAVE") is None  # RIFF, not AVI
    assert _parse_avi_metadata(b"not riff at all") is None


# --- Spark plumbing --------------------------------------------------------


def test_decode_video_frames_routes_mixed_containers(spark):
    # even ids -> MJPEG AVI, odd ids -> Y4M, one corpus, one operator
    ids = spark.range(0, 12).select(F.col("id").alias("doc_id"))
    avi = synthesize_mjpeg_avi_payload(ids.where("doc_id % 2 = 0"))
    y4m = synthesize_y4m_payload(ids.where("doc_id % 2 = 1"), "doc_id")
    decoded = decode_video_frames(avi.unionByName(y4m)).toPandas()
    assert set(decoded["asset_id"]) == set(range(12))
    for _, r in decoded[decoded.asset_id % 2 == 0].iterrows():
        i, f = int(r.asset_id), int(r.frame_idx)
        assert r.width == (i % 4 + 1) * 8 and r.height == (i % 2 + 1) * 8
        nb = (r.width // 8) * (r.height // 8)
        ks = np.arange(nb)
        exp = ((i * 37 + f * 11 + ks * 29) % 256).sum() / nb
        assert r.mean_y == exp
        assert r.mean_u == (((i * 37 + f * 11 + ks * 29) % 256 + 85) % 256).sum() / nb
    # frame counts: id%3+1 for AVI assets
    counts = decoded[decoded.asset_id % 2 == 0].groupby("asset_id").size()
    for i, n in counts.items():
        assert n == int(i) % 3 + 1


def test_sample_frames_real_mjpeg_stills(spark):
    ids = spark.range(3, 4).select(F.col("id").alias("doc_id"))
    assets = synthesize_mjpeg_avi_payload(ids)  # id 3: 1 frame? 3%3+1=1
    out = sample_frames(assets, id_col="asset_id").toPandas()
    assert len(out) == 3 % 3 + 1
    # every sampled frame is a decodable self-contained JPEG
    for _, r in out.iterrows():
        w, h, planes = jpeg.decode_baseline_jpeg(bytes(r.frame_bytes))
        assert (w, h) == ((3 % 4 + 1) * 8, (3 % 2 + 1) * 8)
    # every_nth_frame strides over AVI frames
    ids5 = spark.range(5, 6).select(F.col("id").alias("doc_id"))  # 3 frames
    assets5 = synthesize_mjpeg_avi_payload(ids5)
    strided = sample_frames(
        assets5, id_col="asset_id", every_nth_frame=2
    ).toPandas()
    assert sorted(strided["frame_idx"]) == [0, 2]
    # MJPEG never hits the stub even with decode_stub=False
    sample_frames(assets5, id_col="asset_id", decode_stub=False).collect()
