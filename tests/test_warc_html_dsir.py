"""Web-ingestion operator trio: WARC shard parse (round-trip, framing,
quarantine), codegen HTML->text extraction (semantics + RE2/Java regex
parity), and DSIR importance weighting (direction + plan shape)."""

from __future__ import annotations

import re
import zlib

import pytest
from pyspark.sql import functions as F

from vacancy_gpt_etl_pipeline_spark.functions.html import (
    _HTML_ENTITIES,
    _HTML_STRIP_PATTERNS,
    strip_html_sql,
    strip_html_text,
)
from vacancy_gpt_etl_pipeline_spark.operators.warc import (
    _gzip_member,
    _http_response,
    _html_body,
    _iter_gzip_members,
    _parse_warc_member,
    _warc_record,
    read_warc_records,
    synthesize_warc_payload,
)


# ---------------------------------------------------------------- WARC


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id bigint, text string, source string, lang string"
    )


def test_warc_roundtrip_small(spark):
    docs = _docs(
        spark,
        [
            (1, "alpha beta", "srcA", "en"),
            (2, "gamma", "srcB", "fr"),
            (33, "delta epsilon zeta", "srcA", "de"),
        ],
    )
    shards = synthesize_warc_payload(docs, n_shards=2)
    recs = read_warc_records(shards).collect()
    by_type: dict[str, list] = {}
    for r in recs:
        by_type.setdefault(r["warc_type"], []).append(r)
    # one warcinfo per shard; one request+response per doc
    assert len(by_type["warcinfo"]) == 2
    assert len(by_type["request"]) == 3
    assert len(by_type["response"]) == 3
    resp = {r["target_uri"]: r for r in by_type["response"]}
    uri = "https://srcA.example.org/en/1"
    assert uri in resp
    r = resp[uri]
    assert r["http_status"] == 200
    assert r["http_content_type"] == "text/html; charset=utf-8"
    body = _html_body(1, "alpha beta").encode()
    assert bytes(r["payload"]) == body
    assert r["content_length"] == len(_http_response(body))
    # request records carry no HTTP status (they are not responses)
    assert all(q["http_status"] is None for q in by_type["request"])


def test_warc_member_split_handles_corruption_and_truncation():
    recs = [
        _gzip_member(
            _warc_record("metadata", f"id-{i}", "2026-01-01T00:00:00Z",
                         b"k: v\r\n")
        )
        for i in range(4)
    ]
    blob = b"".join(recs)
    assert len(list(_iter_gzip_members(blob))) == 4
    # flip a byte inside member 2: members 0-1 still parse, rest stop
    bad = bytearray(blob)
    off = len(recs[0]) + len(recs[1]) + 12
    bad[off] ^= 0xFF
    got = list(_iter_gzip_members(bytes(bad)))
    assert len(got) in (1, 2)  # member 2 never yields
    # truncation mid-member: earlier members survive
    assert len(list(_iter_gzip_members(blob[: len(recs[0]) + 10]))) == 1
    # non-gzip prefix: zero members, no exception
    assert list(_iter_gzip_members(b"not gzip at all")) == []


def test_warc_parse_quarantines_bad_framing():
    assert _parse_warc_member(b"HTTP/1.1 200 OK\r\n\r\n") is None
    assert _parse_warc_member(b"WARC/1.0\r\nno-terminator") is None
    # declared Content-Length longer than the block -> quarantine
    rec = _warc_record("response", "x", "2026-01-01T00:00:00Z", b"abc")
    cut = rec[: rec.find(b"abc") + 1]
    assert _parse_warc_member(cut) is None
    # non-integer Content-Length
    assert (
        _parse_warc_member(
            b"WARC/1.0\r\nWARC-Type: response\r\n"
            b"Content-Length: soon\r\n\r\n"
        )
        is None
    )


def test_warc_decompression_bomb_guard_skips_not_stops():
    from vacancy_gpt_etl_pipeline_spark.operators import warc as W

    old = W._MAX_MEMBER_BYTES
    W._MAX_MEMBER_BYTES = 1024
    try:
        bomb = _gzip_member(b"\x00" * 10_000)
        assert list(_iter_gzip_members(bomb)) == []
        ok = _gzip_member(b"\x00" * 100)
        assert len(list(_iter_gzip_members(ok))) == 1
        # an oversized member mid-shard loses ONLY itself: its gzip
        # framing is intact, so later records still parse
        both = ok + bomb + _gzip_member(b"\x01" * 50) + ok
        got = list(_iter_gzip_members(both))
        assert got == [b"\x00" * 100, b"\x01" * 50, b"\x00" * 100]
    finally:
        W._MAX_MEMBER_BYTES = old


def test_warc_http_parse_tolerance():
    """Unicode-digit status must quarantine (None), not raise; RFC 7230
    allows no space after the header colon."""
    rec = _warc_record(
        "response",
        "x",
        "2026-01-01T00:00:00Z",
        "HTTP/1.1 ² OK\r\nContent-Type:text/html\r\n\r\nbody".encode(
            "utf-8"
        ),
        [("Content-Type", "application/http; msgtype=response")],
    )
    parsed = _parse_warc_member(rec)
    assert parsed is not None
    assert parsed["http_status"] is None
    assert parsed["http_content_type"] == "text/html"
    assert parsed["payload"] == b"body"


def test_warc_shard_determinism(spark):
    docs = _docs(spark, [(7, "same text", "s", "en")])
    a = synthesize_warc_payload(docs, n_shards=1).collect()[0]
    b = synthesize_warc_payload(docs, n_shards=1).collect()[0]
    assert bytes(a["content"]) == bytes(b["content"])
    assert a["n_members"] == 3  # warcinfo + request + response


# ---------------------------------------------------------------- HTML


def _py_strip(html: str) -> str:
    out = html
    for pat, rep in _HTML_STRIP_PATTERNS:
        out = re.sub(pat, rep, out)
    for ent, ch in _HTML_ENTITIES:
        out = out.replace(ent, ch)
    return re.sub(r"\s+", " ", out).strip()


CASES = [
    ("<p>plain</p>", "plain"),
    ("a<script>if (1 < 2) { x; }</script>b", "a b"),
    ("a<SCRIPT src='x'>\nvar y\n</script>b", "a b"),
    ("a<style>p { color: red; }</style>b", "a b"),
    ("a<!-- hidden <b>bold</b> -->b", "a b"),
    ("x &amp;lt; y", "x &lt; y"),  # single-pass entity decode
    ("&lt;tag&gt; &quot;q&quot; &#39;s&#39;&nbsp;end", "<tag> \"q\" 's' end"),
    ("<div>multi\n\n  space</div>", "multi space"),
    ("<a href=\"/x\">link</a> tail", "link tail"),
    ("", ""),
]


def test_html_strip_python_reference():
    for html, want in CASES:
        assert _py_strip(html) == want, html


def test_html_strip_spark_matches_reference(spark):
    df = spark.createDataFrame(
        [(i, h) for i, (h, _) in enumerate(CASES)], "i int, html string"
    )
    got = {
        r["i"]: r["out"]
        for r in df.select(
            "i", strip_html_text("html").alias("out")
        ).collect()
    }
    for i, (_, want) in enumerate(CASES):
        assert got[i] == want, CASES[i]


def test_html_strip_duckdb_matches_reference():
    import duckdb

    con = duckdb.connect()
    expr = strip_html_sql("html")
    for html, want in CASES:
        got = con.execute(
            f"SELECT {expr} FROM (SELECT ? AS html)", [html]
        ).fetchone()[0]
        assert got == want, html


def test_html_strip_is_codegen_only(spark):
    """The whole extraction must stay JVM-side: no BatchEvalPython /
    ArrowEvalPython nodes in the plan."""
    df = spark.range(5).select(
        F.concat(F.lit("<p>x"), F.col("id").cast("string")).alias("html")
    )
    plan = (
        df.select(strip_html_text("html").alias("t"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "EvalPython" not in plan


# ---------------------------------------------------------------- DSIR


def test_dsir_prefers_target_like_docs(spark, sf001_dir):
    """Construct a corpus where 'en' docs use a disjoint vocabulary:
    en-vocabulary docs must score strictly higher than raw-only docs."""
    from vacancy_gpt_etl_pipeline_spark.queries import (
        dsir_importance_weights,
    )
    import os
    import tempfile

    rows = []
    for i in range(40):
        rows.append((i, "wiki facts " + f"term{i % 5}", "s", "en"))
    for i in range(40, 80):
        rows.append((i, "spam casino " + f"junk{i % 5}", "s", "de"))
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            rows, "doc_id bigint, text string, source string, lang string"
        ).withColumn("n_chars", F.length("text").cast("bigint")).write.parquet(
            os.path.join(td, "documents.parquet")
        )
        out = {
            r["doc_id"]: r
            for r in dsir_importance_weights(spark, td).collect()
        }
    en_scores = [out[i]["avg_log_weight"] for i in range(40)]
    de_scores = [out[i]["avg_log_weight"] for i in range(40, 80)]
    assert min(en_scores) > max(de_scores)
    assert all(out[i]["target_like"] for i in range(40))
    assert not any(out[i]["target_like"] for i in range(40, 80))


def test_dsir_plan_shape(spark, sf001_dir):
    """Bucket table rides broadcast joins; no data-sized cartesian."""
    from vacancy_gpt_etl_pipeline_spark.queries import (
        dsir_importance_weights,
    )

    plan = (
        dsir_importance_weights(spark, sf001_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("BroadcastHashJoin") >= 1
    assert "CartesianProduct" not in plan


# ------------------------------------------------------------- WEB E2E


def test_web_pipeline_e2e_gates_and_totals(spark):
    """Short/garbage pages drop at the rule gate; kept rows carry exact
    token totals of the extracted (not raw-HTML) text."""
    import os
    import tempfile

    from vacancy_gpt_etl_pipeline_spark.queries import web_pipeline_e2e

    rows = [
        # 12 en-stopword-bearing words -> passes n_tokens >= 10
        (1, "the and is of to in this that was for it on", "sA", "en"),
        (2, "tiny", "sA", "en"),  # 3 tokens after title -> gated out
    ]
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            rows, "doc_id bigint, text string, source string, lang string"
        ).withColumn(
            "n_chars", F.length("text").cast("bigint")
        ).write.parquet(os.path.join(td, "documents.parquet"))
        out = web_pipeline_e2e(spark, td).collect()
    assert len(out) == 1
    r = out[0]
    assert r["source"] == "sA" and r["lang_pred"] == "en"
    # extracted text is "doc 1 <12 words>" -> 14 whitespace tokens
    assert r["n_docs"] == 1 and r["total_tokens"] == 14


def test_multiformat_routing_token_accounting(spark):
    """Each format branch contributes its closed-form token overhead:
    pdf +3 (marker line), epub +2/chapter, warc-html +2 (title)."""
    import os
    import tempfile

    from vacancy_gpt_etl_pipeline_spark.queries import (
        multiformat_ingest_e2e,
    )

    text41 = " ".join(f"w{i}" for i in range(41))  # 2 epub chapters
    rows = [
        (0, text41, "s", "en"),  # pdf
        (1, text41, "s", "en"),  # epub
        (2, text41, "s", "en"),  # warc-html
    ]
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            rows, "doc_id bigint, text string, source string, lang string"
        ).withColumn(
            "n_chars", F.length("text").cast("bigint")
        ).write.parquet(os.path.join(td, "documents.parquet"))
        out = {
            (r["doc_id"]): (r["fmt"], r["n_tokens"])
            for r in multiformat_ingest_e2e(spark, td).collect()
        }
    assert out[0] == ("pdf", 41 + 3)
    assert out[1] == ("epub", 41 + 2 * 2)
    assert out[2] == ("warc-html", 41 + 2)


def test_warc_status_rejects_int_coercible_nondigits():
    """'+200' / '2_00' parse via int() but are not valid status tokens
    — they must quarantine to None, not coerce to 200."""
    for bad in ("+200", "2_00", "٢٠٠"):
        rec = _warc_record(
            "response",
            "x",
            "2026-01-01T00:00:00Z",
            f"HTTP/1.1 {bad} OK\r\n\r\nb".encode("utf-8"),
            [("Content-Type", "application/http; msgtype=response")],
        )
        assert _parse_warc_member(rec)["http_status"] is None, bad


def test_warc_oversized_status_and_negative_length_quarantine(spark):
    """A 10-digit HTTP status passes the ASCII-decimal gate but does not
    fit the Int32 column: it reads null instead of failing the shard. A
    negative Content-Length is a framing violation (the slice would run
    from the end of the member): the record quarantines."""
    ok = _warc_record(
        "response", "ok", "2026-01-01T00:00:00Z",
        b"HTTP/1.1 200 OK\r\n\r\nfine",
        [("Content-Type", "application/http; msgtype=response")],
    )
    wide = _warc_record(
        "response", "wide", "2026-01-01T00:00:00Z",
        b"HTTP/1.1 3000000000 OK\r\n\r\nbody",
        [("Content-Type", "application/http; msgtype=response")],
    )
    neg = _warc_record("resource", "neg", "2026-01-01T00:00:00Z", b"abc")
    neg = neg.replace(b"Content-Length: 3", b"Content-Length: -87")
    assert _parse_warc_member(neg) is None
    shard = b"".join(_gzip_member(r) for r in (wide, neg, ok))
    df = spark.createDataFrame([(1, shard)], "shard_id long, content binary")
    got = sorted(
        (r["record_id"], r["member_idx"], r["http_status"])
        for r in read_warc_records(df).collect()
    )
    assert got == [("urn:uuid:ok", 2, 200), ("urn:uuid:wide", 0, None)]


def test_warc_shard_inflated_ceiling_bounds_discard_cpu():
    from vacancy_gpt_etl_pipeline_spark.operators import warc as W

    old_m, old_s = W._MAX_MEMBER_BYTES, W._MAX_SHARD_INFLATED_BYTES
    W._MAX_MEMBER_BYTES = 1024
    W._MAX_SHARD_INFLATED_BYTES = 4096
    try:
        ok = _gzip_member(b"\x00" * 100)
        bomb = _gzip_member(b"\x00" * 100_000)
        # ceiling trips mid-discard of the bomb: iteration stops, the
        # good members BEFORE it already yielded
        got = list(_iter_gzip_members(ok + bomb + ok))
        assert got == [b"\x00" * 100]
    finally:
        W._MAX_MEMBER_BYTES, W._MAX_SHARD_INFLATED_BYTES = old_m, old_s
