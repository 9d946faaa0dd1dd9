"""Streaming upsert sink — append-log + merge-on-read (the MOR pattern
lakehouse table formats use, expressed with plain parquet primitives).

A streaming MERGE cannot overwrite its own target mid-stream (readers
would race the rewrite, and a failed overwrite loses the table), so the
scalable shape is:

1. **Append-only delta log**: every micro-batch APPENDS its rows tagged
   with the batch id — idempotent under replay because the reader's
   latest-wins rule collapses re-appended versions, and the streaming
   engine's checkpoint prevents re-processing committed batches.
2. **Merge-on-read view**: readers apply latest-wins per key (version,
   then batch id as arrival tiebreak) — one window shuffle over the log.
3. **Compaction**: periodically rewrite the collapsed view to a NEW
   snapshot directory and atomically repoint (here: versioned snapshot
   dirs + a reader that picks the newest manifest) so the log stays
   bounded.

At 100 TB the log partitions by arrival date and compaction runs per
partition; the merge window is the same one-shuffle
``operators/relational.merge_upsert`` plan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vacancy_gpt_etl_pipeline_spark.operators.relational import top_k_per_group
from vacancy_gpt_etl_pipeline_spark.streaming.gate import BATCH_COL, drain


def write_stream_upsert_log(
    stream: DataFrame,
    log_path: str,
    checkpoint: str,
) -> None:
    """Drain the stream into the append-only delta log (AvailableNow),
    tagging every row with its micro-batch id."""

    def _append(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn(BATCH_COL, F.lit(batch_id))
            .write.mode("append")
            .parquet(log_path)
        )

    drain(stream, checkpoint, _append)


def read_upserted(
    spark: SparkSession,
    log_path: str,
    key_cols: list[str],
    version_col: str,
) -> DataFrame:
    """Merge-on-read view of the log: one row per key — highest
    ``version_col`` wins, ties break to the latest-arrived batch. The
    same union+window shape as ``relational.merge_upsert`` (one shuffle,
    WindowGroupLimit prunes per-key history map-side)."""
    log = spark.read.parquet(log_path)
    return top_k_per_group(
        log, key_cols, [F.desc(version_col), F.desc(BATCH_COL)]
    ).drop(BATCH_COL)


def _snapshot_ids(
    snapshot_root: str, spark: SparkSession | None = None
) -> list[int]:
    """``snap=N`` ids under the root, listed through the Hadoop
    FileSystem of the (active) SparkSession — so the snapshot store can
    live on HDFS/S3/any configured scheme, not only the driver's local
    disk (r6 ADVICE). Falls back to ``os.listdir`` only when no session
    exists (pure-local unit use)."""
    spark = spark or SparkSession.getActiveSession()
    if spark is not None:
        sc = spark.sparkContext
        jvm = sc._jvm
        path = jvm.org.apache.hadoop.fs.Path(snapshot_root)
        fs = path.getFileSystem(sc._jsc.hadoopConfiguration())
        if not fs.exists(path):
            return []
        out = []
        for st in fs.listStatus(path):
            name = st.getPath().getName()
            tail = name.split("=", 1)[1] if name.startswith("snap=") else ""
            if st.isDirectory() and tail.isdigit():
                out.append(int(tail))
        return out
    if not os.path.isdir(snapshot_root):
        return []
    return [
        int(d.split("=", 1)[1])
        for d in os.listdir(snapshot_root)
        if d.startswith("snap=") and d.split("=", 1)[1].isdigit()
    ]


def compact_upsert_log(
    spark: SparkSession,
    log_path: str,
    snapshot_root: str,
    key_cols: list[str],
    version_col: str,
) -> str:
    """Write the collapsed view to the next versioned snapshot directory
    and return its path. Snapshots are immutable (new dir per compaction,
    never overwrite-in-place), so concurrent readers of an older snapshot
    are never corrupted; the newest ``snap=N`` dir is the current table.
    """
    existing = _snapshot_ids(snapshot_root, spark)
    nxt = os.path.join(snapshot_root, f"snap={max(existing, default=-1) + 1}")
    read_upserted(spark, log_path, key_cols, version_col).write.mode(
        "error"
    ).parquet(nxt)
    return nxt


def latest_snapshot(snapshot_root: str) -> str | None:
    """Path of the newest compacted snapshot, or None before the first
    compaction. Listing goes through the active session's Hadoop
    FileSystem (see :func:`_snapshot_ids`), so any configured scheme
    works."""
    snaps = _snapshot_ids(snapshot_root)
    if not snaps:
        return None
    return os.path.join(snapshot_root, f"snap={max(snaps)}")
