"""Streaming twin of the incremental pHash gate
(operators/phash.phash_incremental) — the multimodal member of the
streaming-twin family (streaming/anomaly.py sets the pattern,
streaming/enrich.py is the §2.10 twin).

``foreachBatch`` is again the right bridge: the batch gate's contract
(hash → keep-first within batch → exact anti-join vs history → band-LSH
near gate) is already the per-micro-batch shape, so the streaming path
runs the IDENTICAL operator code and parity is by construction, proven
bit-exact in tests/test_streaming_phash.py.

The streaming-specific part is the STATE: the history fingerprint
index is a persisted parquet table that every micro-batch reads,
gates against, and appends its survivors' fingerprints to — the
O(distinct-content) structure an ingest keeps hot.

Index layout (r12 verdict item 5 — pruned history reads): one row per
(surviving fingerprint, band), partitioned on disk by ``band_idx``
(0-3) and ``pb`` (the band value's high byte, 256 values — 1024
directories total). The gate reads only the (band_idx, pb)
partitions covered by the batch's own band values — at
billions-of-fingerprints index scale that prunes the history scan to
the batch's working set instead of the whole table.

Delivery class: the family's commit protocol (streaming/gate.py);
:func:`compact_phash_index` is the log-compaction of a long-lived
index.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vacancy_gpt_etl_pipeline_spark.operators import caching
from vacancy_gpt_etl_pipeline_spark.operators.phash import (
    phash_bmp,
    phash_incremental,
)
from vacancy_gpt_etl_pipeline_spark.streaming.gate import (
    BATCH_COL,
    commit,
    compact_index,
    drain,
    read_history,
)

#: On-disk index row schema (band-exploded; ``band_idx``/``pb`` are the
#: partition columns and come back as int columns on read).
INDEX_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("b0", T.IntegerType()),
        T.StructField("b1", T.IntegerType()),
        T.StructField("b2", T.IntegerType()),
        T.StructField("b3", T.IntegerType()),
        T.StructField("band_val", T.IntegerType()),
        T.StructField(BATCH_COL, T.LongType()),
        T.StructField("band_idx", T.IntegerType()),
        T.StructField("pb", T.IntegerType()),
    ]
)


def index_rows(hashes: DataFrame, batch_id: int) -> DataFrame:
    """Band-explode one batch's surviving fingerprints into index rows:
    4 rows per fingerprint, each carrying the FULL hash (the near gate
    computes Hamming from any band's row) plus the partition columns
    ``band_idx`` and ``pb`` (band value's high byte)."""
    return (
        hashes.select(
            "asset_id",
            "b0",
            "b1",
            "b2",
            "b3",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(k).alias("band_idx"),
                            F.col(f"b{k}").alias("band_val"),
                        )
                        for k in range(4)
                    ]
                )
            ).alias("_band"),
        )
        .select(
            "asset_id",
            "b0",
            "b1",
            "b2",
            "b3",
            F.col("_band.band_val").alias("band_val"),
            F.lit(batch_id).cast("long").alias(BATCH_COL),
            F.col("_band.band_idx").alias("band_idx"),
            F.shiftright(F.col("_band.band_val"), 8).alias("pb"),
        )
    )


def apply_phash_gate_batch(
    batch_df: DataFrame,
    batch_id: int,
    out_path: str,
    index_path: str,
    max_hamming: int = 2,
    max_bucket: int = 10_000,
) -> None:
    """One micro-batch of the gate — exposed as a plain function so the
    retry-idempotence contract is testable without a streaming harness
    (tests/test_streaming_phash.py replays the same batch id twice and
    simulates the index-written/output-lost crash order)."""
    spark = batch_df.sparkSession
    # localCheckpoint severs lineage: both sinks reuse the materialized
    # survivors, and the index append must not re-read the index being
    # written. hashes feeds two consumers (the pair collect and the
    # gate) — the checkpoint keeps the Arrow BMP decode single-pass.
    with caching.CacheScope(spark):
        hashes = caching.checkpoint(phash_bmp(batch_df))
        # lossless: a history fingerprint that matches the batch exactly
        # or within Hamming < 4 shares an exact band value with it
        # (pigeonhole), and all index rows of one (band_idx, pb) live in
        # one partition. The gate re-dedups the band-exploded rows to
        # min-asset fingerprints and re-explodes its own band index.
        hist = read_history(
            spark,
            index_path,
            INDEX_SCHEMA,
            index_rows(hashes, 0).select("band_idx", "pb"),
            batch_id,
        ).select("asset_id", "b0", "b1", "b2", "b3")
        survivors = caching.checkpoint(phash_incremental(
            hashes, hist, max_hamming=max_hamming, max_bucket=max_bucket
        ))
        commit(
            survivors,
            batch_id,
            out_path,
            (index_rows(survivors, batch_id), index_path, ("band_idx", "pb")),
        )


def write_stream_phash_gate(
    stream: DataFrame,
    out_path: str,
    index_path: str,
    checkpoint: str,
    max_hamming: int = 2,
    max_bucket: int = 10_000,
) -> None:
    """Drain a binary-asset ``stream`` (AvailableNow; rows of
    ``(asset_id, content)``), gating every micro-batch with the BATCH
    operator verbatim against the persisted fingerprint index:
    survivors land in their micro-batch's partition of ``out_path``,
    and their fingerprints append to ``index_path`` so later
    micro-batches gate against them."""

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        apply_phash_gate_batch(
            batch_df,
            batch_id,
            out_path,
            index_path,
            max_hamming=max_hamming,
            max_bucket=max_bucket,
        )

    drain(stream, checkpoint, _batch)


def compact_phash_index(
    spark: SparkSession, index_path: str, dest_path: str
) -> None:
    """Log-compaction (streaming/gate.compact_index): one row per
    (band_idx, pb, band_val, full hash), MIN asset_id."""
    compact_index(
        spark,
        index_path,
        dest_path,
        INDEX_SCHEMA,
        ("band_idx", "pb"),
        "asset_id",
    )
