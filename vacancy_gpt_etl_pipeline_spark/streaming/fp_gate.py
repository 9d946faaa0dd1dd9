"""Streaming twins of the AUDIO and VIDEO incremental dedup gates
(operators/audio_fp.audio_fp_incremental /
operators/phash.video_phash_incremental) — the last two members of the
streaming-gate family (text: streaming/neardup_gate.py; image:
streaming/phash_gate.py; embedding: streaming/semdedup_gate.py). With
these, every modality has the batch + incremental + streaming triple
(r13 verdict item 5).

``foreachBatch`` bridges identically: each micro-batch decodes its
payloads with the REAL fingerprinter (WAV spectral fingerprint / Y4M
frame-pHash sequence), replays the batch gate verbatim against the
persisted fingerprint index, and parity with the batch operator is by
construction. Because both fingerprints are invariance-collapsed
strings, the gate is EXACT-only — one anti-join, no near tier, no band
index — so the state is the simplest of the family:

- **fingerprint index**: one row per surviving asset,
  ``(fp, asset_id, _batch_id)``, partitioned by ``pb`` =
  ``xxhash64(fp) mod 256``. A batch reads only the partitions its own
  fingerprints hash into.

Delivery class: the family's commit protocol (streaming/gate.py).
Retry duplicates within a committed batch id are harmless to the exact
gate (anti-join semantics ignore multiplicity) and are collapsed by
:func:`compact_fp_index`.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vacancy_gpt_etl_pipeline_spark.operators import caching
from vacancy_gpt_etl_pipeline_spark.streaming.gate import (
    BATCH_COL,
    commit,
    compact_index,
    drain,
    read_history,
)


def _index_schema(key_col: str) -> T.StructType:
    return T.StructType(
        [
            T.StructField(key_col, T.StringType()),
            T.StructField("asset_id", T.LongType()),
            T.StructField(BATCH_COL, T.LongType()),
            T.StructField("pb", T.IntegerType()),
        ]
    )


def apply_fp_gate_batch(
    batch_df: DataFrame,
    batch_id: int,
    out_path: str,
    index_path: str,
    fingerprinter: Callable[[DataFrame], DataFrame],
    gate: Callable[[DataFrame, DataFrame], DataFrame],
    key_col: str,
) -> None:
    """One micro-batch of an exact-fingerprint gate — a plain function
    so retry idempotence is testable without a streaming harness.
    ``batch_df`` is ``(asset_id, content)``; ``fingerprinter`` maps it
    to fingerprint rows (carrying ``asset_id`` and ``key_col``);
    ``gate`` is the BATCH incremental operator (parity by
    construction). Survivors land in this batch's partition of
    ``out_path`` (content column dropped — the sink is the decision
    record; payloads stay in the source) and their fingerprints append
    to the index."""
    spark = batch_df.sparkSession
    pb_expr = F.pmod(F.xxhash64(F.col(key_col)), F.lit(256)).cast("int")
    with caching.CacheScope(spark):
        # the fingerprint frame feeds the prune collect AND the gate —
        # the checkpoint keeps the Arrow decode single-pass
        fps = caching.checkpoint(fingerprinter(batch_df))
        # lossless: an exact match has the batch fingerprint's own pb,
        # and a fingerprint's whole posting set lives in that partition
        hist = read_history(
            spark,
            index_path,
            _index_schema(key_col),
            fps.where(F.col(key_col).isNotNull()).select(pb_expr.alias("pb")),
            batch_id,
        )
        survivors = caching.checkpoint(gate(fps, hist))
        index = survivors.select(
            key_col,
            "asset_id",
            F.lit(batch_id).cast("long").alias(BATCH_COL),
            pb_expr.alias("pb"),
        )
        commit(survivors, batch_id, out_path, (index, index_path, ("pb",)))


def write_stream_audio_fp_gate(
    stream: DataFrame,
    out_path: str,
    index_path: str,
    checkpoint: str,
) -> None:
    """Drain a WAV-asset ``stream`` (AvailableNow; rows of
    ``(asset_id, content)``) through the incremental audio gate:
    each micro-batch is fingerprinted (operators/audio_fp) and
    exact-gated against the persisted fingerprint index."""
    from vacancy_gpt_etl_pipeline_spark.operators.audio_fp import (
        audio_fp_incremental,
        fingerprint_wav,
    )

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        apply_fp_gate_batch(
            batch_df,
            batch_id,
            out_path,
            index_path,
            fingerprint_wav,
            audio_fp_incremental,
            "fingerprint",
        )

    drain(stream, checkpoint, _batch)


def write_stream_video_fp_gate(
    stream: DataFrame,
    out_path: str,
    index_path: str,
    checkpoint: str,
) -> None:
    """Drain a Y4M-asset ``stream`` through the incremental video gate
    (operators/phash.phash_y4m frame-hash sequences, exact anti-join
    vs the persisted index)."""
    from vacancy_gpt_etl_pipeline_spark.operators.phash import (
        phash_y4m,
        video_phash_incremental,
    )

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        apply_fp_gate_batch(
            batch_df,
            batch_id,
            out_path,
            index_path,
            phash_y4m,
            video_phash_incremental,
            "video_fp",
        )

    drain(stream, checkpoint, _batch)


def compact_fp_index(
    spark: SparkSession,
    index_path: str,
    dest_path: str,
    key_col: str,
) -> None:
    """Log-compaction (streaming/gate.compact_index): one row per
    fingerprint, MIN asset_id."""
    schema = _index_schema(key_col)
    compact_index(spark, index_path, dest_path, schema, ("pb",), "asset_id")
