"""Streaming twin of the sequence NEAR gate
(operators/dedup.seq_near_veto) — completes the streaming near-tier
symmetry: images have the band-partitioned pHash gate
(streaming/phash_gate.py), audio/video exact fingerprints share
streaming/fp_gate.py, and this module gives the SEQUENCE modalities
(audio peak-bin sequences, video frame-hash sequences) their streaming
near tier, so a codec re-encode arriving in a later micro-batch is
vetoed just as it is in batch.

``foreachBatch`` bridges to the BATCH operator verbatim (parity by
construction, the family rule). The streaming-specific part is the
STATE: a persisted parquet index holding one row per (surviving
sequence, non-empty band), partitioned on disk by ``band_idx`` and
``pb`` = xxhash64(length ':' band value) mod 256.

Why bands must be indexed for EVERY sequence (not only the
near-eligible ones): the exact gate needs short sequences
(``n <= max_diff``, exempt from the near veto) retrievable too, and
every sequence of length ≥ 1 has a non-empty band 0 whose (band_idx,
pb) the batch's own band 0 reproduces — so exact-match pruning stays
lossless for all lengths while near-candidate pruning is lossless by
the pigeonhole band-sharing guarantee. A micro-batch therefore reads
only the ≤ ``n_bands × 256`` (band_idx, pb) partitions its own band
values hash into — the working set, not the corpus.

Delivery class: the family's commit protocol (streaming/gate.py).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vacancy_gpt_etl_pipeline_spark.operators import caching
from vacancy_gpt_etl_pipeline_spark.operators.dedup import seq_near_veto
from vacancy_gpt_etl_pipeline_spark.streaming.gate import (
    BATCH_COL,
    commit,
    compact_index,
    drain,
    read_history,
)

SEQ_COL = "seq"

INDEX_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField(SEQ_COL, T.StringType()),
        T.StructField("band_val", T.StringType()),
        T.StructField(BATCH_COL, T.LongType()),
        T.StructField("band_idx", T.IntegerType()),
        T.StructField("pb", T.IntegerType()),
    ]
)


def index_rows(
    seqs: DataFrame,
    batch_id: int,
    n_bands: int = 3,
    sep: str = "-",
) -> DataFrame:
    """Band-explode one batch's surviving sequences into index rows:
    one row per NON-EMPTY contiguous band (same band boundaries as
    :func:`dedup.seq_near_pairs`), each carrying the FULL sequence
    (the gate recomputes Hamming from any band's row). ``pb`` hashes
    (length ':' band value) so equal-length equal-band rows land in
    one partition — the pruning key."""
    k = F.col("band_idx")
    n = F.col("_n")
    start = F.floor(k * n / F.lit(n_bands)).cast("int")
    length = F.floor((k + 1) * n / F.lit(n_bands)).cast("int") - start
    return (
        seqs.select("asset_id", SEQ_COL)
        .withColumn("_n", F.size(F.split(SEQ_COL, sep)))
        .select(
            "*",
            F.explode(F.sequence(F.lit(0), F.lit(n_bands - 1))).alias(
                "band_idx"
            ),
        )
        .withColumn(
            "band_val",
            F.array_join(
                F.slice(F.split(SEQ_COL, sep), start + 1, length), sep
            ),
        )
        .where(length >= 1)
        .select(
            "asset_id",
            SEQ_COL,
            "band_val",
            F.lit(batch_id).cast("long").alias(BATCH_COL),
            "band_idx",
            F.pmod(
                F.xxhash64(
                    F.concat_ws(":", F.col("_n").cast("string"), "band_val")
                ),
                F.lit(256),
            )
            .cast("int")
            .alias("pb"),
        )
    )


def apply_seq_near_gate_batch(
    batch_df: DataFrame,
    batch_id: int,
    fingerprinter: Callable[[DataFrame], DataFrame],
    out_path: str,
    index_path: str,
    max_diff: int = 2,
    n_bands: int = 3,
    max_bucket: int = 10_000,
) -> None:
    """One micro-batch: ``fingerprinter`` maps the raw batch to
    (asset_id, seq) rows (empty/invalid payloads already dropped),
    the BATCH gate (:func:`dedup.seq_near_veto`) vetoes against the
    pruned history read, survivors land in this batch's partition of
    ``out_path`` and their bands append to the index. Exposed as a
    plain function so retry idempotence is testable without a
    streaming harness."""
    spark = batch_df.sparkSession
    with caching.CacheScope(spark):
        seqs = caching.checkpoint(fingerprinter(batch_df))
        # lossless: a history sequence that matches the batch exactly or
        # within the near threshold has its length and shares a
        # non-empty band value with it, so it has an index row in a
        # (band_idx, pb) the batch's own bands hash into. The gate
        # re-derives its own bands from the full sequences.
        hist = read_history(
            spark,
            index_path,
            INDEX_SCHEMA,
            index_rows(seqs, 0, n_bands=n_bands).select("band_idx", "pb"),
            batch_id,
        ).select("asset_id", SEQ_COL)
        survivors = caching.checkpoint(seq_near_veto(
            seqs,
            hist,
            SEQ_COL,
            "asset_id",
            max_diff=max_diff,
            n_bands=n_bands,
            max_bucket=max_bucket,
        ))
        index = index_rows(survivors, batch_id, n_bands=n_bands)
        commit(
            survivors,
            batch_id,
            out_path,
            (index, index_path, ("band_idx", "pb")),
        )


def write_stream_seq_near_gate(
    stream: DataFrame,
    fingerprinter: Callable[[DataFrame], DataFrame],
    out_path: str,
    index_path: str,
    checkpoint: str,
    max_diff: int = 2,
    n_bands: int = 3,
    max_bucket: int = 10_000,
) -> None:
    """Drain an asset ``stream`` (AvailableNow), gating every
    micro-batch with the batch operator verbatim against the persisted
    band index."""

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        apply_seq_near_gate_batch(
            batch_df,
            batch_id,
            fingerprinter,
            out_path,
            index_path,
            max_diff=max_diff,
            n_bands=n_bands,
            max_bucket=max_bucket,
        )

    drain(stream, checkpoint, _batch)


def audio_fingerprinter(batch_df: DataFrame) -> DataFrame:
    """(asset_id, content WAV) → (asset_id, seq) via the acoustic
    fingerprint (operators/audio_fp.fingerprint_wav); zero-window
    clips drop to the census tier."""
    from vacancy_gpt_etl_pipeline_spark.operators.audio_fp import (
        fingerprint_wav,
    )

    return (
        fingerprint_wav(batch_df)
        .where(F.col("n_windows") >= 1)
        .select("asset_id", F.col("fingerprint").alias(SEQ_COL))
    )


def video_fingerprinter(batch_df: DataFrame) -> DataFrame:
    """(asset_id, content Y4M) → (asset_id, seq) via per-frame pHash
    sequences (operators/phash.phash_y4m)."""
    from vacancy_gpt_etl_pipeline_spark.operators.phash import phash_y4m

    return (
        phash_y4m(batch_df)
        .where(F.col("n_frames") >= 1)
        .select("asset_id", F.col("video_fp").alias(SEQ_COL))
    )


def compact_seq_near_index(
    spark: SparkSession, index_path: str, dest_path: str
) -> None:
    """Log-compaction (streaming/gate.compact_index): one row per
    (asset_id, band_idx, band_val) — the gate only reads the sequence
    set, so decisions are preserved."""
    compact_index(
        spark, index_path, dest_path, INDEX_SCHEMA, ("band_idx", "pb")
    )
