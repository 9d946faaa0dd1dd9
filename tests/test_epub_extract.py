"""EPUB chapter extraction: container-chain conformance, spine order,
quarantine paths, zip-entry bomb guard, and the Spark round trip."""

from __future__ import annotations

import io
import random
import zipfile

from test_parser_robustness import _mutations

from vacancy_gpt_etl_pipeline_spark.operators.epub import (
    WORDS_PER_CHAPTER,
    build_epub,
    extract_epub_chapters,
    parse_epub,
    synthesize_epub_payload,
)


def test_container_conformance():
    """mimetype must be the FIRST entry and stored uncompressed (OCF
    3.3), and the discovery chain must resolve."""
    b = build_epub(5, "a b c")
    zf = zipfile.ZipFile(io.BytesIO(b))
    infos = zf.infolist()
    assert infos[0].filename == "mimetype"
    assert infos[0].compress_type == zipfile.ZIP_STORED
    assert zf.read("mimetype") == b"application/epub+zip"
    assert b"OEBPS/content.opf" in zf.read("META-INF/container.xml")


def test_spine_order_and_slicing():
    words = [f"w{i}" for i in range(WORDS_PER_CHAPTER * 2 + 5)]
    ch = parse_epub(build_epub(9, " ".join(words)))
    assert [c[0] for c in ch] == [0, 1, 2]
    assert [c[1] for c in ch] == ["ch0.xhtml", "ch1.xhtml", "ch2.xhtml"]
    assert ch[0][2] == "Chapter 0 " + " ".join(words[:WORDS_PER_CHAPTER])
    assert ch[2][2] == "Chapter 2 " + " ".join(
        words[2 * WORDS_PER_CHAPTER :]
    )


def test_empty_doc_yields_one_title_only_chapter():
    assert parse_epub(build_epub(1, "")) == [(0, "ch0.xhtml", "Chapter 0")]


def test_determinism():
    assert build_epub(3, "x y z") == build_epub(3, "x y z")


def test_quarantine_paths():
    assert parse_epub(b"not a zip") is None

    def mini(entries):
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as zf:
            for n, d in entries:
                zf.writestr(n, d)
        return buf.getvalue()

    # wrong mimetype
    assert parse_epub(mini([("mimetype", "text/plain")])) is None
    # missing container.xml
    assert parse_epub(mini([("mimetype", "application/epub+zip")])) is None
    # container points at a missing OPF
    assert (
        parse_epub(
            mini(
                [
                    ("mimetype", "application/epub+zip"),
                    (
                        "META-INF/container.xml",
                        '<rootfile full-path="missing.opf"/>',
                    ),
                ]
            )
        )
        is None
    )
    # spine idref to a missing chapter: skipped, others survive
    b = bytearray(build_epub(2, "a " * 90))  # 3 chapters
    buf = io.BytesIO(bytes(b))
    src = zipfile.ZipFile(buf)
    out = io.BytesIO()
    with zipfile.ZipFile(out, "w") as dst:
        for info in src.infolist():
            if info.filename != "OEBPS/ch1.xhtml":
                dst.writestr(info, src.read(info))
    ch = parse_epub(out.getvalue())
    assert [c[1] for c in ch] == ["ch0.xhtml", "ch2.xhtml"]
    assert [c[0] for c in ch] == [0, 1]  # re-densified spine index


def test_entry_bomb_guard():
    from vacancy_gpt_etl_pipeline_spark.operators import epub as E

    old = E._MAX_ENTRY_BYTES
    E._MAX_ENTRY_BYTES = 2000
    try:
        # chain files (mimetype/container/opf) stay under the cap; the
        # full 40-word chapter 0 (~2.2 KB) exceeds it and is skipped,
        # the 5-word tail chapter survives
        ch = parse_epub(build_epub(1, ("y" * 50 + " ") * 45))
        assert [c[1] for c in ch] == ["ch1.xhtml"]
    finally:
        E._MAX_ENTRY_BYTES = old


def test_spark_operator_roundtrip(spark):
    docs = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(45))), (2, "")],
        "doc_id bigint, text string",
    )
    rows = extract_epub_chapters(synthesize_epub_payload(docs)).collect()
    got = {(r["asset_id"], r["chapter_idx"]): r["text"] for r in rows}
    assert len(got) == 3  # 2 chapters for doc 1, 1 for doc 2
    assert got[(1, 1)] == "Chapter 1 " + " ".join(
        f"t{i}" for i in range(WORDS_PER_CHAPTER, 45)
    )
    assert got[(2, 0)] == "Chapter 0"


def test_corrupt_deflate_data_quarantines_not_raises():
    """A valid central directory with corrupt deflate bytes must
    quarantine (chain file) or skip (chapter), never raise."""
    b = bytearray(build_epub(4, "a b c d"))
    # corrupt container.xml's compressed payload: find its local header
    off = b.find(b"container.xml")
    # flip bytes shortly after the name (inside the deflate stream)
    b[off + 20] ^= 0xFF
    b[off + 21] ^= 0xFF
    assert parse_epub(bytes(b)) is None  # chain file unreadable
    # corrupt a CHAPTER's deflate bytes: only that chapter drops
    b2 = bytearray(build_epub(5, "w " * 90))  # 3 chapters
    off2 = b2.find(b"ch1.xhtml")
    b2[off2 + 15] ^= 0xFF
    b2[off2 + 16] ^= 0xFF
    ch = parse_epub(bytes(b2))
    assert ch is not None
    assert "ch1.xhtml" not in [c[1] for c in ch]
    assert "ch0.xhtml" in [c[1] for c in ch]


def _central_record(b: bytes, name: bytes) -> int:
    """Offset of ``name``'s central-directory record."""
    pos = b.find(b"PK\x01\x02")
    while b[pos + 46 : pos + 46 + len(name)] != name:
        pos = b.find(b"PK\x01\x02", pos + 4)
    return pos


def test_zipfile_errors_quarantine_not_raise():
    """zipfile raises more than BadZipFile on a corrupt archive:
    NotImplementedError (zip version, compression method, strong
    encryption), RuntimeError (an encrypted entry) and ValueError
    (negative seek, non-UTF-8 OPF path). An entry that cannot be read
    skips its chapter; an archive that cannot be read quarantines as
    None; neither raises out of the worker."""
    base = build_epub(5, "w " * 90)  # 3 chapters
    # central-directory flag bits (encrypted) / compression method (99)
    for field, value in ((8, 0x1), (10, 99)):
        b = bytearray(base)
        rec = _central_record(b, b"OEBPS/ch1.xhtml")
        b[rec + field : rec + field + 2] = value.to_bytes(2, "little")
        assert [c[1] for c in parse_epub(bytes(b))] == [
            "ch0.xhtml",
            "ch2.xhtml",
        ]
    rng = random.Random(191)
    for doc_id, text in ((3, "alpha beta " * 45), (8, "one " * 140), (12, "")):
        for payload in _mutations(rng, build_epub(doc_id, text), 300):
            r = parse_epub(payload)
            assert r is None or isinstance(r, list)


def test_manifest_attribute_order_is_free():
    """OPFs commonly write href before id — resolution must not depend
    on attribute order."""
    import io
    import zipfile

    from vacancy_gpt_etl_pipeline_spark.operators.epub import (
        _CONTAINER_XML,
        _chapter_xhtml,
    )

    opf = (
        '<package><manifest>'
        '<item href="ch0.xhtml" media-type="application/xhtml+xml" '
        'id="c0"/></manifest>'
        '<spine><itemref idref="c0"/></spine></package>'
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("mimetype", "application/epub+zip")
        zf.writestr("META-INF/container.xml", _CONTAINER_XML)
        zf.writestr("OEBPS/content.opf", opf)
        zf.writestr("OEBPS/ch0.xhtml", _chapter_xhtml(0, ["hi"]))
    assert parse_epub(buf.getvalue()) == [(0, "ch0.xhtml", "Chapter 0 hi")]


def test_itemref_attribute_order_and_xml_id():
    """<itemref linear="yes" idref=.../> and xml:id before id must both
    resolve correctly."""
    import io
    import zipfile

    from vacancy_gpt_etl_pipeline_spark.operators.epub import (
        _CONTAINER_XML,
        _chapter_xhtml,
    )

    opf = (
        '<package><manifest>'
        '<item xml:id="n1" id="c0" href="ch0.xhtml" '
        'media-type="application/xhtml+xml"/></manifest>'
        '<spine><itemref linear="yes" idref="c0"/></spine></package>'
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("mimetype", "application/epub+zip")
        zf.writestr("META-INF/container.xml", _CONTAINER_XML)
        zf.writestr("OEBPS/content.opf", opf)
        zf.writestr("OEBPS/ch0.xhtml", _chapter_xhtml(0, ["ok"]))
    assert parse_epub(buf.getvalue()) == [(0, "ch0.xhtml", "Chapter 0 ok")]
