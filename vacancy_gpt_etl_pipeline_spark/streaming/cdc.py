"""Streaming change-data-capture sink: every micro-batch upserts into a
versioned keyed state and APPENDS the per-batch diff (added / changed
rows) to a change log — the stream that downstream consumers (cache
invalidation, search indexing, incremental aggregates) actually want,
instead of re-diffing full snapshots themselves.

Composition of two verified pieces: ``operators/diff.snapshot_diff``
(one full-outer shuffle, codegen null-safe compare) against the
immutable ``snap=N`` directories of ``streaming/upsert`` (readers of an
older snapshot are never corrupted). Per batch the work is one
merge window over (previous state ∪ batch) plus one diff join — both
keyed shuffles on the upsert key, the partitioning a bucketed state
table would make zero-copy at 100 TB.

Replay semantics: the streaming checkpoint prevents re-processing
committed batches; if a crash lands between the changelog append and
the snapshot write, the replayed batch may re-append the same changes —
``read_changelog`` therefore deduplicates on (batch, key), making the
log idempotent to consume (the same at-least-once + idempotent-read
contract as the upsert delta log). A crash between the snapshot write
and the checkpoint commit makes the replayed batch write a SECOND,
byte-identical snapshot under the next ``snap=N`` number — benign
(``latest_snapshot`` picks it up and the state content is unchanged)
but the duplicate directory is not reclaimed automatically.

Snapshot discovery goes through the session's Hadoop FileSystem
(``upsert._snapshot_ids``), so ``state_root`` may live on HDFS/S3/any
configured scheme — not only the driver-local disk.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vacancy_gpt_etl_pipeline_spark.operators.diff import snapshot_diff
from vacancy_gpt_etl_pipeline_spark.operators.relational import top_k_per_group
from vacancy_gpt_etl_pipeline_spark.streaming.gate import BATCH_COL, drain
from vacancy_gpt_etl_pipeline_spark.streaming.upsert import (
    _snapshot_ids,
    latest_snapshot,
)


def _upsert(prev: DataFrame, batch: DataFrame, key_cols: list[str]) -> DataFrame:
    """Latest-wins merge: batch rows override previous state per key."""
    tagged = prev.withColumn("_src", F.lit(0)).unionByName(
        batch.withColumn("_src", F.lit(1))
    )
    return top_k_per_group(tagged, key_cols, [F.desc("_src")]).drop("_src")


def write_stream_changelog(
    stream: DataFrame,
    state_root: str,
    changelog_path: str,
    checkpoint: str,
    key_cols: list[str],
    compare_cols: list[str],
    order_col: str | None = None,
) -> None:
    """Drain the stream (AvailableNow); per micro-batch: diff the
    upserted state against the previous snapshot, append the changes
    tagged with the batch id, then write the new immutable snapshot.

    When one micro-batch carries several rows for the same key, the
    winner is chosen by ``order_col`` DESC (latest-wins on a version/
    event-time column); without one, the lexicographically-largest
    compare tuple wins. Both rules are DETERMINISTIC — a naive
    dropDuplicates keeps whichever row a partition scan yields first,
    so a crash-replayed batch could write different state than the
    original run."""
    cols = list(key_cols) + list(compare_cols)

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        order = (
            F.desc(order_col)
            if order_col is not None
            else F.desc(F.struct(*compare_cols))
        )
        batch_flat = top_k_per_group(batch_df, key_cols, [order]).select(*cols)
        prev_path = latest_snapshot(state_root)
        if prev_path is None:
            prev = spark.createDataFrame([], batch_flat.schema)
        else:
            prev = spark.read.parquet(prev_path).select(*cols)
        new_state = _upsert(prev, batch_flat, key_cols)
        changes = snapshot_diff(prev, new_state, key_cols, compare_cols)
        (
            changes.withColumn(BATCH_COL, F.lit(batch_id))
            .write.mode("append")
            .parquet(changelog_path)
        )
        existing = _snapshot_ids(state_root, spark)
        nxt = os.path.join(
            state_root, f"snap={max(existing, default=-1) + 1}"
        )
        new_state.write.mode("error").parquet(nxt)

    drain(stream, checkpoint, _batch)


def read_changelog(spark: SparkSession, changelog_path: str, key_cols: list[str]) -> DataFrame:
    """The change stream, idempotent under batch replay: one row per
    (batch, key)."""
    return spark.read.parquet(changelog_path).dropDuplicates(
        [BATCH_COL, *key_cols]
    )
