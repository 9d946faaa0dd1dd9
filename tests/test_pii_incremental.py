"""PII redaction edge semantics (functions/text.py) and incremental
batch-vs-corpus dedup (operators/dedup.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from vacancy_gpt_etl_pipeline_spark.functions.text import (
    pii_hit_counts,
    pii_marker_counts,
    redact_pii,
)
from vacancy_gpt_etl_pipeline_spark.operators.dedup import incremental_dedup


def _redact(spark, text):
    df = spark.createDataFrame([(text,)], "text string")
    return df.select(redact_pii("text").alias("r")).first()["r"]


def test_redacts_email_before_phone_can_eat_it(spark):
    out = _redact(spark, "write to john.doe99@corp.example.org today")
    assert out == "write to <EMAIL> today"


def test_redacts_ip_before_phone_pattern(spark):
    # a dotted quad matches the phone charset; IP must win
    out = _redact(spark, "server at 192.168.100.200 responded")
    assert "<IP>" in out and "<PHONE>" not in out


def test_redacts_phone_variants(spark):
    for t in ("+1 (555) 123-4567", "8 800 555 35 35"):
        assert "<PHONE>" in _redact(spark, f"call {t} now"), t


def test_plain_text_untouched(spark):
    s = "no contact info here just words and the number 42"
    assert _redact(spark, s) == s


def test_hit_counts_per_pattern(spark):
    df = spark.createDataFrame(
        [("a@b.co and c@d.io from 10.0.0.1",)], "text string"
    )
    row = df.select(*pii_hit_counts("text")).first()
    assert row["emails"] == 2 and row["ips"] == 1 and row["phones"] == 0


def test_marker_counts_equal_replacements_made(spark):
    """Single-pass counts = replacements actually made: the dotted quad is
    consumed by the IP pattern, so unlike independent raw-text counts the
    phone count does NOT also see it."""
    df = spark.createDataFrame(
        [("a@b.co and c@d.io from 10.0.0.1 call +1 555 123 4567",)],
        "text string",
    )
    row = df.select(
        *pii_marker_counts(redact_pii("text"))
    ).first()
    assert row["emails"] == 2 and row["ips"] == 1 and row["phones"] == 1


def test_marker_counts_zero_on_clean_text(spark):
    df = spark.createDataFrame([("nothing sensitive here",)], "text string")
    row = df.select(*pii_marker_counts(redact_pii("text"))).first()
    assert (row["emails"], row["ips"], row["phones"]) == (0, 0, 0)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_incremental_dedup_drops_seen_and_batch_dups(spark):
    history = _docs(spark, [(1, "alpha beta"), (2, "gamma")])
    batch = _docs(
        spark,
        [
            (10, "alpha beta"),   # seen in history → dropped
            (11, "delta"),        # fresh
            (12, "delta"),        # in-batch dup → keep-first only
            (13, "ALPHA   beta"), # normalization catches case/whitespace
        ],
    )
    out = sorted(r["doc_id"] for r in incremental_dedup(batch, history).collect())
    assert out == [11]


def test_incremental_dedup_keeps_min_id_within_batch(spark):
    history = _docs(spark, [])
    batch = _docs(spark, [(20, "same"), (7, "same")])
    rows = incremental_dedup(batch, history).collect()
    assert [r["doc_id"] for r in rows] == [7]
