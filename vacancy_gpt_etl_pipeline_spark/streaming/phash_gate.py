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
directories total). A micro-batch can only collide with history
fingerprints that share at least one exact 16-bit band (the pigeonhole
guarantee the near gate is built on), and the EXACT gate's matches
share band 0 in particular, so the gate reads only the (band_idx, pb)
partitions covered by the batch's own band values — at
billions-of-fingerprints index scale that prunes the history scan to
the batch's working set instead of the whole table. The candidate
pair list is collected driver-side but is metadata-sized by
construction: at most 4 bands x 256 prefixes = 1024 values.

Delivery class: the family's commit protocol (streaming/gate.py);
:func:`compact_phash_index` is the log-compaction of a long-lived
index (the streaming/upsert.py pattern).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vacancy_gpt_etl_pipeline_spark.operators.caching import BlockRelease
from vacancy_gpt_etl_pipeline_spark.operators.phash import (
    phash_bmp,
    phash_incremental,
)
from vacancy_gpt_etl_pipeline_spark.streaming.gate import (
    BATCH_COL,
    commit,
    drain,
    read_index,
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


def batch_band_pairs(hashes: DataFrame) -> list[tuple[int, int]]:
    """Distinct ``(band_idx, pb)`` pairs a batch can touch. The collect
    is metadata-sized by construction: ≤ 4 bands × 256 prefixes = 1024
    rows regardless of batch size."""
    rows = (
        index_rows(hashes, 0)
        .select("band_idx", "pb")
        .distinct()
        .collect()
    )
    return [(r["band_idx"], r["pb"]) for r in rows]


def read_index_fingerprints(
    spark: SparkSession,
    index_path: str,
    pairs: list[tuple[int, int]] | None = None,
    exclude_batch_id: int | None = None,
) -> DataFrame:
    """History fingerprints for the gate, as a ``phash_incremental``-
    compatible ``(asset_id, b0..b3)`` frame.

    With ``pairs`` (the current batch's band/prefix working set) the
    scan keeps only matching ``(band_idx, pb)`` partitions — partition
    pruning, visible as PartitionFilters in the scan node. Pruning is
    lossless for the gate: any history fingerprint that could match the
    batch (exactly, or within Hamming < 4) shares at least one exact
    band value with it, and ALL index rows for that (band_idx, prefix)
    live in one partition, so the fingerprint survives reconstruction.
    ``exclude_batch_id`` removes the current batch's own (possibly
    partial) appends from a previous failed attempt — the retry
    idempotence contract."""
    idx = read_index(spark, index_path, INDEX_SCHEMA)
    if pairs is not None:
        by_band: dict[int, list[int]] = {}
        for band_idx, pb in pairs:
            by_band.setdefault(band_idx, []).append(pb)
        if not by_band:
            idx = idx.where(F.lit(False))
        else:
            pred = None
            for band_idx, pbs in by_band.items():
                leg = (F.col("band_idx") == band_idx) & F.col("pb").isin(pbs)
                pred = leg if pred is None else (pred | leg)
            idx = idx.where(pred)
    if exclude_batch_id is not None:
        idx = idx.where(F.col(BATCH_COL) != F.lit(exclude_batch_id))
    # fingerprint-level reconstruction: band-exploded rows collapse on
    # the full hash (phash_incremental re-dedups to min-asset reps and
    # re-explodes its own band index, so the operator stays the single
    # implementation of the gate semantics)
    return idx.select("asset_id", "b0", "b1", "b2", "b3")


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
    with BlockRelease(spark):
        hashes = phash_bmp(batch_df).localCheckpoint()
        hist = read_index_fingerprints(
            spark,
            index_path,
            pairs=batch_band_pairs(hashes),
            exclude_batch_id=batch_id,
        )
        survivors = phash_incremental(
            hashes, hist, max_hamming=max_hamming, max_bucket=max_bucket
        ).localCheckpoint()
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
    """Log-compaction for a long-lived gate index (the
    streaming/upsert.py snapshot pattern): retried micro-batches
    double-append rows within their own batch id, and a years-long
    drain accumulates them. Compaction rewrites ONE row per logical key
    — (band_idx, pb, band_val, full hash), keeping the MIN asset_id so
    the gate's keep-first representative (and therefore every future
    survivor id) is unchanged — into a NEW immutable directory with the
    same (band_idx, pb) partitioning. Never in-place: concurrent
    readers of the old index stay consistent; the caller switches paths
    between drains (no concurrent writer, like every compactor here).
    ``_batch_id`` is kept as the MAX contributing batch — by switch
    time those batches are checkpoint-committed, so own-batch exclusion
    can never re-fire for them."""
    (
        read_index(spark, index_path, INDEX_SCHEMA)
        .groupBy("band_idx", "pb", "band_val", "b0", "b1", "b2", "b3")
        .agg(
            F.min("asset_id").alias("asset_id"),
            F.max(BATCH_COL).alias(BATCH_COL),
        )
        .select(
            "asset_id",
            "b0",
            "b1",
            "b2",
            "b3",
            "band_val",
            BATCH_COL,
            "band_idx",
            "pb",
        )
        .write.mode("error")
        .partitionBy("band_idx", "pb")
        .parquet(dest_path)
    )
