"""Edge-semantics tests for the round-2 advisory fixes: stateful timeout
re-arming, deterministic salting and the single-file sink mode contract
(cache-region hygiene lives in test_caching.py)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from vacancy_gpt_etl_pipeline_spark.operators.skew import salted_agg, with_salt
from vacancy_gpt_etl_pipeline_spark.sources.sinks import write_normalized_csv
from vacancy_gpt_etl_pipeline_spark.streaming.stateful import (
    _make_update_fn,
    running_totals,
)


# ---------------------------------------------------------------- stateful


class _FakeState:
    """Minimal GroupState stand-in recording the timeout-arming call."""

    def __init__(self):
        self.exists = False
        self.hasTimedOut = False
        self.updated = None
        self.timeout_set_with = None
        self.removed = False

    @property
    def get(self):
        raise AssertionError("get should not be read when exists is False")

    def update(self, value):
        self.updated = value

    def setTimeoutDuration(self, duration):
        self.timeout_set_with = duration

    def remove(self):
        self.removed = True


def test_update_fn_arms_timeout_on_every_update():
    """The duration must be re-armed after state.update — without it no key
    ever times out and keyed state grows unboundedly."""
    state = _FakeState()
    fn = _make_update_fn("30 minutes")
    out = list(fn(("k",), iter([pd.DataFrame({"value": [1.0, 2.0]})]), state))
    assert state.updated == (2, 3.0)
    assert state.timeout_set_with == "30 minutes"
    assert len(out) == 1


def test_update_fn_no_timeout_never_arms():
    state = _FakeState()
    fn = _make_update_fn(None)
    list(fn(("k",), iter([pd.DataFrame({"value": [1.0]})]), state))
    assert state.timeout_set_with is None


def test_update_fn_timed_out_key_is_removed():
    state = _FakeState()
    state.hasTimedOut = True
    fn = _make_update_fn("10 seconds")
    out = list(fn(("k",), iter([]), state))
    assert out == [] and state.removed


def test_running_totals_rejects_malformed_duration(spark):
    df = spark.range(1).select(
        F.col("id").alias("user_id"), F.lit(1.0).alias("value")
    )
    with pytest.raises(ValueError, match="invalid timeout duration"):
        running_totals(df, "user_id", "value", timeout="soonish")


# -------------------------------------------------------------------- skew


def test_salt_is_deterministic_across_evaluations(spark):
    """Content-hash salt must reproduce identically on re-execution — a
    positional salt (monotonically_increasing_id) does not, which
    double-counts/drops rows when a map task is recomputed after a
    shuffle-fetch failure."""
    df = spark.range(0, 1000).select(
        (F.col("id") % 7).alias("k"), F.col("id").alias("v")
    )
    a = {(r["k"], r["v"]): r["_salt"] for r in with_salt(df, 16).collect()}
    b = {(r["k"], r["v"]): r["_salt"] for r in with_salt(df, 16).collect()}
    assert a == b
    assert 0 <= min(a.values()) and max(a.values()) < 16
    # salts actually spread rows (not all in one bucket)
    assert len(set(a.values())) > 8


def test_salted_agg_with_explicit_salt_cols(spark):
    df = spark.range(0, 500).select(
        (F.col("id") % 3).alias("k"), F.col("id").alias("v")
    )
    out = {
        r["k"]: r["cnt"]
        for r in salted_agg(
            df,
            ["k"],
            {"cnt": (F.count("*"), F.sum("cnt").cast("long"))},
            buckets=8,
            salt_cols=["v"],
        ).collect()
    }
    exact = {r["k"]: r["cnt"] for r in df.groupBy("k").count().withColumnRenamed("count", "cnt").collect()}
    assert out == exact


# ------------------------------------------------------------------- sinks


def test_single_file_mode_error_refuses_overwrite(spark, tmp_path):
    df = spark.range(3).select(F.col("id").alias("x"))
    dst = str(tmp_path / "out.csv")
    write_normalized_csv(df, dst, single_file=True, mode="overwrite")
    with open(dst) as f:
        first = f.read()
    with pytest.raises(FileExistsError):
        write_normalized_csv(df, dst, single_file=True, mode="error")
    with open(dst) as f:
        assert f.read() == first  # untouched


def test_single_file_rejects_append(spark, tmp_path):
    df = spark.range(3).select(F.col("id").alias("x"))
    with pytest.raises(ValueError, match="single_file"):
        write_normalized_csv(
            df, str(tmp_path / "o.csv"), single_file=True, mode="append"
        )


# ----------------------------------------------------- round-8 ADVICE fixes


def _chunk(typ, data):
    import struct
    import zlib as _z

    return (
        struct.pack(">I", len(data))
        + typ
        + data
        + struct.pack(">I", _z.crc32(typ + data))
    )


def test_png_decompression_bomb_quarantines_without_inflating():
    """A few-KB PNG whose IDAT inflates far past the IHDR-declared size
    must return None (quarantine) — and must never materialize the full
    bomb in memory (the decompress is bounded at expected+1 bytes)."""
    import struct
    import zlib as _z

    from vacancy_gpt_etl_pipeline_spark.operators.multimodal import (
        _png_pixels,
    )

    # declares 2x2 truecolor (expected = 2*(6+1) = 14 bytes) but the
    # stream inflates to 32 MB of zeros from ~32 KB compressed
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)
    bomb = (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", _z.compress(bytes(32 * 1024 * 1024)))
        + _chunk(b"IEND", b"")
    )
    assert len(bomb) < 64 * 1024  # the payload itself is small
    assert _png_pixels(bomb) is None


def test_png_absurd_declared_dimensions_quarantine_before_inflate():
    import struct
    import zlib as _z

    from vacancy_gpt_etl_pipeline_spark.operators.multimodal import (
        _png_pixels,
    )

    # 50000x50000 truecolor declares a 7.5 GB sample stream: refused on
    # the IHDR arithmetic alone, before any inflate happens
    ihdr = struct.pack(">IIBBBBB", 50000, 50000, 8, 2, 0, 0, 0)
    b = (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", _z.compress(b"\x00" * 64))
        + _chunk(b"IEND", b"")
    )
    assert _png_pixels(b) is None


def test_scan_splits_zero_open_cost_many_tiny_files(spark, tmp_path):
    """openCostInBytes=0 + tiny files drove the divisor to 0 and raised
    ZeroDivisionError in the read path; the clamp widens instead."""
    from vacancy_gpt_etl_pipeline_spark.sources.parquet_source import (
        _estimate_scan_splits,
    )

    paths = []
    for i in range(3):
        p = tmp_path / f"t{i}.bin"
        p.write_bytes(b"x")  # 1-byte files: total // parallelism == 0
        paths.append(str(p))
    old = spark.conf.get("spark.sql.files.openCostInBytes", "4MB")
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    try:
        assert _estimate_scan_splits(spark, paths) >= len(paths)
    finally:
        spark.conf.set("spark.sql.files.openCostInBytes", old)


def test_sample_frames_invalid_stride_raises_on_driver(spark):
    from vacancy_gpt_etl_pipeline_spark.operators.multimodal import (
        sample_frames,
    )

    df = spark.createDataFrame(
        [(1, bytearray(b"xyz"))], "asset_id: long, content: binary"
    )
    with pytest.raises(ValueError, match="every_nth_frame"):
        sample_frames(df, every_nth_frame=0)
    with pytest.raises(ValueError, match="every_n_bytes"):
        sample_frames(df, every_n_bytes=0)
