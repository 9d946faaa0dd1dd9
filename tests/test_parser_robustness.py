"""Quarantine-not-fail under arbitrary corruption: the container/
metadata walkers (ustar, WebP, EXIF, MP3/ID3) and every decoder's parse
function (WebP, TIFF/EXIF, MP3/ADTS, WAV/FLAC, fingerprints, pHash,
images, Y4M/AVI/MP4, PDF, EPUB, WARC, tar) must never raise on mutated
or random bytes — every outcome is either a valid parse or a clean
quarantine signal. Seeded mutation fuzz over real fixture payloads plus
pure-noise buffers; any uncaught exception here is exactly the crash a
100 TB crawl shard would hit mid-job."""

from __future__ import annotations

import random
import re

import pytest

from vacancy_gpt_etl_pipeline_spark.operators.exif import (
    _build_exif_jpeg,
    _parse_exif,
)
from vacancy_gpt_etl_pipeline_spark.operators.mp3 import _parse_id3v2
from vacancy_gpt_etl_pipeline_spark.operators.webp import _parse_webp
from vacancy_gpt_etl_pipeline_spark.operators.wds import _parse_ustar


def _mutations(rng: random.Random, base: bytes, n: int):
    for _ in range(n):
        b = bytearray(base)
        kind = rng.randrange(4)
        if kind == 0 and b:  # flip bytes
            for _ in range(rng.randrange(1, 6)):
                b[rng.randrange(len(b))] ^= rng.randrange(1, 256)
        elif kind == 1 and b:  # truncate
            del b[rng.randrange(len(b)) :]
        elif kind == 2:  # splice noise
            pos = rng.randrange(len(b) + 1)
            b[pos:pos] = bytes(
                rng.randrange(256) for _ in range(rng.randrange(1, 32))
            )
        else:  # overwrite a run
            if b:
                pos = rng.randrange(len(b))
                run = min(len(b) - pos, rng.randrange(1, 16))
                b[pos : pos + run] = bytes(
                    rng.randrange(256) for _ in range(run)
                )
        yield bytes(b)


def _noise(rng: random.Random, n: int):
    for _ in range(n):
        yield bytes(
            rng.randrange(256) for _ in range(rng.randrange(0, 700))
        )


def test_exif_walker_never_raises():
    rng = random.Random(131)
    for base_id in (1, 3, 6):
        base = _build_exif_jpeg(base_id)
        for payload in _mutations(rng, base, 250):
            r = _parse_exif(payload)
            # None (quarantine), NO_EXIF (clean walk, no APP1 — a
            # mutation can zero out the APP1 marker), or a census tuple
            from vacancy_gpt_etl_pipeline_spark.operators.exif import (
                NO_EXIF,
            )

            assert r is None or r == NO_EXIF or isinstance(r, tuple)
    for payload in _noise(rng, 150):
        assert _parse_exif(b"\xff\xd8" + payload) is None or True


def test_webp_walker_never_raises():
    from test_exif_census import _long_orientation_jpeg, _long_tiff
    from test_webp_census import _container, _vp8, _vp8l, _vp8x

    rng = random.Random(133)
    bases = (
        _container(_vp8(320, 240, fill=3)),
        _container(_vp8l(100, 80, True)),
        _container(_vp8x(64, 48, False), _vp8(64, 48)),
    )
    for base in bases:
        for payload in _mutations(rng, base, 200):
            r = _parse_webp(payload)
            assert r is None or isinstance(r, tuple)
    for payload in _noise(rng, 150):
        r = _parse_webp(b"RIFF" + payload)
        assert r is None or isinstance(r, tuple)


def test_ustar_walker_raises_only_valueerror():
    """The ustar walker's error contract is ValueError (the shard
    quarantine signal in tar_members) — never IndexError/struct.error
    or a hang."""
    import io
    import tarfile

    buf = io.BytesIO()
    with tarfile.open(
        fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT
    ) as tf:
        for name, data in (("a.txt", b"abc" * 50), ("b.cls", b"1")):
            info = tarfile.TarInfo(name)
            info.size = len(data)
            info.mtime = 0
            tf.addfile(info, io.BytesIO(data))
    base = buf.getvalue()
    rng = random.Random(137)
    for payload in _mutations(rng, base, 400):
        try:
            list(_parse_ustar(payload))
        except ValueError:
            pass
    for payload in _noise(rng, 150):
        try:
            list(_parse_ustar(payload))
        except ValueError:
            pass


def test_pax_gnu_walker_raises_only_valueerror():
    """Same error contract over the r14 long-name paths: mutated pax
    ``x`` records (length fields, '='-less bodies, truncated payloads)
    and GNU ``L`` members must yield ValueError or clean members —
    never IndexError/struct.error/UnicodeError or a hang."""
    import io
    import tarfile

    long_name = "deep/" * 25 + "member-0001.txt"
    for fmt in (tarfile.PAX_FORMAT, tarfile.GNU_FORMAT):
        buf = io.BytesIO()
        with tarfile.open(fileobj=buf, mode="w", format=fmt) as tf:
            for name, data in (
                ("a.txt", b"abc" * 50),
                (long_name, b"payload-under-long-name"),
                ("b.cls", b"1"),
            ):
                info = tarfile.TarInfo(name)
                info.size = len(data)
                info.mtime = 0
                tf.addfile(info, io.BytesIO(data))
        base = buf.getvalue()
        rng = random.Random(149 if fmt == tarfile.PAX_FORMAT else 151)
        for payload in _mutations(rng, base, 400):
            try:
                list(_parse_ustar(payload))
            except ValueError:
                pass


def test_tiff_walker_never_raises():
    """The standalone TIFF census shares the EXIF IFD machinery; its
    quarantine contract is a None return — mutations (including ones
    corrupting the next-IFD chain pointers) must never escape as
    IndexError/struct.error or loop forever."""
    from vacancy_gpt_etl_pipeline_spark.operators.exif import (
        _build_tiff,
        _parse_tiff,
    )

    rng = random.Random(157)
    for base_id in (2, 3, 5):
        base = _build_tiff(base_id)
        for payload in _mutations(rng, base, 300):
            r = _parse_tiff(payload)
            assert r is None or isinstance(r, tuple)
    for payload in _noise(rng, 150):
        r = _parse_tiff(payload)
        assert r is None or isinstance(r, tuple)


def test_id3_parser_never_raises():
    rng = random.Random(139)
    v23 = (
        b"ID3\x03\x00\x00\x00\x00\x00\x15"
        b"TIT2\x00\x00\x00\x0b\x00\x00\x00hello tests"
    )
    for payload in _mutations(rng, v23, 300):
        total, title = _parse_id3v2(payload + b"\x00" * 8)
        assert total >= 0
    for payload in _noise(rng, 150):
        total, title = _parse_id3v2(payload)
        assert total >= 0


def test_tiff_pixel_decoder_never_raises():
    """_tiff_gray's error contract is None (quarantine) — never an
    exception or unbounded allocation — under mutations that reach the
    STRIP PAYLOADS and offset arrays (r14 verdict item 2: the fuzz
    must cover pixel data, not just headers), over an uncompressed, a
    PackBits, and an RGB base, plus pure noise."""
    import numpy as np

    from vacancy_gpt_etl_pipeline_spark.operators.exif import (
        _build_tiff_px,
        _tiff_gray,
    )

    rng = random.Random(157)
    for base_id in (1, 4, 2):  # photo1/uncomp, packbits, RGB
        base = _build_tiff_px(base_id)
        for payload in _mutations(rng, base, 300):
            r = _tiff_gray(payload)
            assert r is None or isinstance(r, np.ndarray)
    for payload in _noise(rng, 200):
        r = _tiff_gray(b"II" + payload)
        assert r is None or isinstance(r, np.ndarray)


def test_tiff_cx_decoder_never_raises():
    """Mutation fuzz over the COMPRESSED classes: corrupted LZW
    streams, predictor rows, and bilevel bit rows must yield None or
    a clean matrix — never an exception (the decoder's whole-payload
    quarantine contract extends to codec payloads)."""
    import numpy as np

    from vacancy_gpt_etl_pipeline_spark.operators.exif import (
        _build_tiff_cx,
        _tiff_gray,
    )

    rng = random.Random(163)
    for base_id in (4, 5, 6, 7):  # lzw, lzw+pred, lzw+pred RGB, bilevel
        base = _build_tiff_cx(base_id)
        for payload in _mutations(rng, base, 250):
            r = _tiff_gray(payload)
            assert r is None or isinstance(r, np.ndarray)


# --- every payload parse function behind operators.payloads.map_payloads:
# seeded mutations of real fixtures must give rows (or []) that the
# harness turns into a frame of the decoder's schema — no exception from
# the parse. The wide-field mutations write 32-bit fields and decimal
# tokens past Int32 (an unsigned width, a 10-digit HTTP status, a
# negative Content-Length), which used to fail the whole task at the
# Arrow cast.

_WIDE_WORDS = (b"\xff\xff\xff\xff", b"\x00\x00\x00\x80", b"\x80\x00\x00\x00",
               b"\xff\xff\xff\x7f")
_WIDE_TOKENS = (b"3000000000", b"99999999999999999999", b"-87",
                b"-99999999999999999999")


def _wide_fields(rng: random.Random, base: bytes, n: int):
    digits = [m.span() for m in re.finditer(rb"\d+", base)]
    for _ in range(n):
        if digits and rng.randrange(2):
            lo, hi = rng.choice(digits)
            yield base[:lo] + rng.choice(_WIDE_TOKENS) + base[hi:]
        else:
            pos = rng.randrange(max(1, len(base) - 3))
            yield base[:pos] + rng.choice(_WIDE_WORDS) + base[pos + 4 :]


def _y4m_base() -> bytes:
    frame = b"FRAME\n" + bytes((7 * j) % 256 for j in range(3 * 4 * 2))
    return b"YUV4MPEG2 W4 H2 F25:1 Ip A1:1 C444\n" + frame * 3


def _warc_records() -> list[bytes]:
    from vacancy_gpt_etl_pipeline_spark.operators.warc import (
        _http_response,
        _warc_record,
    )

    body = b"<html><body><p>fuzz corpus</p></body></html>"
    return [
        _warc_record(
            "response",
            f"0000-{k}",
            "2026-01-01T00:00:00Z",
            _http_response(body * (k + 1)),
            [("WARC-Target-URI", f"https://example.org/{k}"),
             ("Content-Type", "application/http; msgtype=response")],
        )
        for k in range(3)
    ]


def _warc_member_rows(raw: bytes) -> list[dict]:
    """The WARC parse of one gzip member holding ``raw``: mutations of
    the inflated record reach its header digits."""
    from vacancy_gpt_etl_pipeline_spark.operators.warc import (
        _gzip_member,
        _record_rows,
    )

    return _record_rows(_gzip_member(raw))


def _bmp24(w: int, h: int) -> bytes:
    stride = (w * 3 + 3) & ~3
    header = (
        b"BM" + (54 + stride * h).to_bytes(4, "little") + bytes(4)
        + (54).to_bytes(4, "little") + (40).to_bytes(4, "little")
        + w.to_bytes(4, "little") + h.to_bytes(4, "little")
        + (1).to_bytes(2, "little") + (24).to_bytes(2, "little") + bytes(24)
    )
    return header + bytes((3 * k) % 256 for k in range(stride * h))


def _wav16(n: int) -> bytes:
    data = b"".join(
        ((k * 997) % 4001 - 2000).to_bytes(2, "little", signed=True)
        for k in range(n)
    )
    return (
        b"RIFF" + (36 + len(data)).to_bytes(4, "little") + b"WAVEfmt "
        + (16).to_bytes(4, "little") + (1).to_bytes(2, "little")
        + (1).to_bytes(2, "little") + (16000).to_bytes(4, "little")
        + (32000).to_bytes(4, "little") + (2).to_bytes(2, "little")
        + (16).to_bytes(2, "little") + b"data"
        + len(data).to_bytes(4, "little") + data
    )


def _tar(*members: tuple[str, bytes]) -> bytes:
    import io
    import tarfile

    buf = io.BytesIO()
    with tarfile.open(
        fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT
    ) as tf:
        for name, data in members:
            info = tarfile.TarInfo(name)
            info.size = len(data)
            info.mtime = 0
            tf.addfile(info, io.BytesIO(data))
    return buf.getvalue()


def _payload_cases():
    """(parse, schema, base payloads) per parse function."""
    from functools import partial

    from test_mp3_census import _adts_header, _frame
    from test_multimodal_decode import (
        GOLDEN_BMP_2x2,
        GOLDEN_PCM_WAV,
        _build_gif,
        _build_png,
        _golden_mp4,
    )
    from test_exif_census import _long_orientation_jpeg, _long_tiff
    from test_webp_census import _container, _vp8, _vp8l, _vp8x

    from vacancy_gpt_etl_pipeline_spark.operators import (
        audio_fp,
        epub,
        exif,
        mp3,
        multimodal as mm,
        pdf,
        phash,
        warc,
        wds,
        webp,
    )

    id3 = (
        b"ID3\x03\x00\x00\x00\x00\x00\x15"
        b"TIT2\x00\x00\x00\x0b\x00\x00\x00hello tests"
    )
    png = _build_png(
        3, 4, bytes((5 * k) % 256 for k in range(36)), [0, 1, 2, 4]
    )
    gif = _build_gif(4, 3, [k % 4 for k in range(12)], list(range(12)))
    y4m, avi = _y4m_base(), mm._mjpeg_avi_fixture(4)
    records = _warc_records()
    return {
        "webp": (webp._census_rows, webp.WEBP_CENSUS_SCHEMA,
                 [_container(_vp8(320, 240, fill=3)),
                  _container(_vp8l(100, 80, True)),
                  _container(_vp8x(64, 48, False), _vp8(64, 48))]),
        "tiff": (exif._tiff_census_rows, exif.TIFF_CENSUS_SCHEMA,
                 [exif._build_tiff(2), exif._build_tiff(3), _long_tiff(64)]),
        "exif": (exif._exif_census_rows, exif.EXIF_CENSUS_SCHEMA,
                 [exif._build_exif_jpeg(3), exif._build_exif_jpeg(6),
                  _long_orientation_jpeg(6)]),
        "mp3": (mp3._mp3_census_rows, mp3.MP3_CENSUS_SCHEMA,
                [id3 + _frame(br_idx=9) * 3, _frame(layer=1, br_idx=8) * 2]),
        "adts": (mp3._adts_census_rows, mp3.ADTS_CENSUS_SCHEMA,
                 [(_adts_header(flen=40) + bytes(33)) * 3]),
        "fingerprint": (audio_fp._fingerprint_rows, audio_fp.AUDIO_FP_SCHEMA,
                        [_wav16(64), GOLDEN_PCM_WAV]),
        "phash_bmp": (phash._bmp_phash_rows, phash.PHASH_SCHEMA,
                      [_bmp24(16, 12), GOLDEN_BMP_2x2]),
        "phash_tiff": (phash._tiff_phash_rows, phash.TIFF_PHASH_SCHEMA,
                       [exif._build_tiff_px(1), exif._build_tiff_cx(4),
                        _long_tiff(64)]),
        "phash_y4m": (phash._y4m_phash_rows, phash.VIDEO_PHASH_SCHEMA, [y4m]),
        "audio": (mm._audio_rows, mm.DECODED_AUDIO_SCHEMA,
                  [GOLDEN_PCM_WAV, mm._flac_fixture(7)]),
        "image": (mm._image_rows, mm.DECODED_IMAGE_SCHEMA,
                  [GOLDEN_BMP_2x2, png, gif, mm._jpeg_fixture(5)]),
        "video_meta": (mm._video_meta_rows, mm.VIDEO_META_SCHEMA,
                       [y4m, _golden_mp4(), avi]),
        "video_frames": (mm._video_frame_rows, mm.DECODED_FRAME_SCHEMA,
                         [y4m, avi]),
        "frame_samples": (
            partial(mm._frame_sample_rows, every_n_bytes=64,
                    decode_stub=True, every_nth_frame=2),
            mm.FRAME_SAMPLE_SCHEMA, [y4m, avi],
        ),
        "pdf": (pdf._pdf_text_rows, pdf.PDF_TEXT_SCHEMA,
                [pdf.build_pdf(3, "lorem ipsum dolor " * 30)]),
        "epub": (epub._chapter_rows, epub.EPUB_CHAPTER_SCHEMA,
                 [epub.build_epub(4, "sit amet " * 50)]),
        "warc": (warc._record_rows, warc.WARC_RECORD_SCHEMA,
                 [b"".join(warc._gzip_member(r) for r in records)]),
        "warc_member": (_warc_member_rows, warc.WARC_RECORD_SCHEMA, records),
        "tar": (wds._member_rows, wds.MEMBER_SCHEMA,
                [_tar(("s/0001.txt", b"abc" * 50), ("s/0001.cls", b"7"))]),
    }


_PAYLOAD_CASES = (
    "webp", "tiff", "exif", "mp3", "adts", "fingerprint", "phash_bmp",
    "phash_tiff", "phash_y4m", "audio", "image", "video_meta",
    "video_frames", "frame_samples", "pdf", "epub", "warc", "warc_member",
    "tar",
)


@pytest.mark.parametrize("name", _PAYLOAD_CASES)
def test_payload_parse_never_raises(name):
    from vacancy_gpt_etl_pipeline_spark.operators.payloads import (
        payload_frame,
    )

    parse, schema, bases = _payload_cases()[name]
    rng = random.Random(sum(map(ord, name)))
    payloads = [b"", *bases, *_noise(rng, 20)]
    for base in bases:
        payloads += list(_mutations(rng, base, 120))
        payloads += list(_wide_fields(rng, base, 60))
    n_rows = 0
    for b in payloads:
        n_rows += len(payload_frame([1], [b], parse, schema))
    assert n_rows > 0
