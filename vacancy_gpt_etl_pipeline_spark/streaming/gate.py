"""The micro-batch protocol shared by the streaming dedup gates
(streaming/{fp,phash,semdedup,seq_near,neardup}_gate.py) and the
``foreachBatch`` drain every streaming sink here runs through.

Each gate reads the history it can collide with through
:func:`read_history` (its persisted index, pruned to the partitions the
batch can touch, minus the batch's own rows), runs the BATCH operator
verbatim against that history, and hands the survivors to
:func:`commit`. :func:`compact_index` is the one log-compaction body:
one row per distinct index row (the MIN id where the index carries a
keep-first representative, the MAX ``_batch_id``), written to a NEW
directory with the same partitioning — never in place, so readers of
the old index stay consistent and the caller switches paths between
drains (no concurrent writer).

Delivery class (exactly-once EFFECTIVE output): a committed
micro-batch is never replayed (checkpoint), so re-running over an
unchanged source writes nothing. Within a failed-and-retried batch
both sinks are idempotent BY KEY rather than append-only:

- survivors overwrite their own ``_batch_id=N`` partition of
  ``out_path`` (dynamic partition overwrite), so a retry replaces its
  earlier partial output instead of duplicating it;
- index rows carry ``_batch_id`` and :func:`read_history` EXCLUDES the
  current batch id, so a retry that crashed after a partial (or
  complete) index append re-derives the identical survivor set — its
  own half-written rows can never veto it — and its re-append only
  duplicates rows within the same batch id, which the gates'
  distinct/groupBy collapse and :func:`compact_index` removes.

Either failure order (output-then-index or index-then-output)
therefore converges to the same final state on retry.
"""

from __future__ import annotations

from functools import reduce
from operator import and_, or_
from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

BATCH_COL = "_batch_id"

_OVERWRITE_MODE = "spark.sql.sources.partitionOverwriteMode"
_LISTING_TASKS = "spark.sql.sources.parallelPartitionDiscovery.parallelism"

#: read errors that mean "no history yet": the path is missing, or a
#: crash left a directory with no data files (UNABLE_TO_INFER_SCHEMA)
_NO_HISTORY = (
    "PATH_NOT_FOUND",
    "Path does not exist",
    "UNABLE_TO_INFER_SCHEMA",
)


def read_index(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame | None:
    """The persisted table at ``path``, read with ``schema`` when one
    is given; with no history yet, an empty frame of ``schema`` (or
    None when no schema is given). Only the no-history cases are
    caught — a corrupt or unreadable index must FAIL the batch (gating
    against a silently-empty history would re-admit every duplicate
    ever ingested).

    The declared schema also types the partition columns: without it,
    Spark infers them from the directory names, so a hex-prefix ``pb``
    whose directories all happen to be digits ("06") reads as an int,
    and the next batch's "7a" prefix fails the pruning predicate.

    An index partitioned 256 ways (``pb``) has more directories than
    Spark lists on the driver, so the read lists them in a Spark job of
    one task per directory by default; the read caps that job at one
    task per slot (a 3-batch index on local[8], 4 cores: 1.4 s → 0.35 s
    per read) and restores the session's setting afterwards."""
    from pyspark.errors import AnalysisException

    prev_tasks = spark.conf.get(_LISTING_TASKS)
    spark.conf.set(
        _LISTING_TASKS, str(max(1, spark.sparkContext.defaultParallelism))
    )
    try:
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(path)
    except AnalysisException as e:
        if not any(tag in str(e) for tag in _NO_HISTORY):
            raise
    finally:
        spark.conf.set(_LISTING_TASKS, prev_tasks)
    if schema is None:
        return None
    # Filter(false) makes the optimizer see an empty relation (a bare
    # createDataFrame([]) is an opaque RDD) and drop the joins over it
    return spark.createDataFrame([], schema).where(F.lit(False))


def read_history(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    touched: DataFrame,
    batch_id: int,
) -> DataFrame:
    """The index rows at ``path`` a micro-batch can collide with: only
    the partitions named in ``touched`` (a frame of the partition-column
    values the batch reaches, the many-valued column last), without the
    rows of ``batch_id`` itself (the retry contract).

    The distinct ``touched`` values are collected to the driver — one
    per directory at most, so metadata-sized whatever the batch size —
    and become the scan's PartitionFilters: the values are grouped by
    the leading columns, with one ``isin`` on the last column per
    group. No values means no history."""
    *lead, last = touched.columns
    groups: dict[tuple, list] = {}
    for r in touched.distinct().collect():
        groups.setdefault(tuple(r[c] for c in lead), []).append(r[last])
    legs = [
        reduce(
            and_,
            [F.col(c) == v for c, v in zip(lead, key)]
            + [F.col(last).isin(vals)],
        )
        for key, vals in groups.items()
    ]
    return (
        read_index(spark, path, schema)
        .where(reduce(or_, legs) if legs else F.lit(False))
        .where(F.col(BATCH_COL) != F.lit(batch_id))
    )


def compact_index(
    spark: SparkSession,
    index_path: str,
    dest_path: str,
    schema: T.StructType,
    partition_cols: Sequence[str],
    id_col: str | None = None,
) -> None:
    """Log-compact the index at ``index_path`` into the NEW directory
    ``dest_path`` (an existing one is an error): one row per distinct
    index row, ``_batch_id`` aside. With ``id_col`` the row keeps the
    MIN id, so the gate's keep-first representative (and every future
    survivor id) is unchanged. Each row keeps the MAX ``_batch_id``: by
    the time the caller switches paths those batches are committed, so
    the own-batch exclusion can never fire for them."""
    aggs = [F.max(BATCH_COL).alias(BATCH_COL)]
    if id_col is not None:
        aggs.append(F.min(id_col).alias(id_col))
    keys = [n for n in schema.names if n not in (BATCH_COL, id_col)]
    (
        read_index(spark, index_path, schema)
        .groupBy(*keys)
        .agg(*aggs)
        .select(*schema.names)
        .write.mode("error")
        .partitionBy(*partition_cols)
        .parquet(dest_path)
    )


def commit(
    survivors: DataFrame,
    batch_id: int,
    out_path: str,
    *index: tuple[DataFrame, str, Sequence[str]],
) -> None:
    """Write ``survivors`` to this batch's ``_batch_id`` partition of
    ``out_path`` (dynamic partition overwrite, so a retry replaces its
    own partial output), then append each ``(rows, path,
    partition_cols)`` index write, in order. The session's overwrite
    mode is restored afterwards."""
    spark = survivors.sparkSession
    prev_mode = spark.conf.get(_OVERWRITE_MODE, "static")
    spark.conf.set(_OVERWRITE_MODE, "dynamic")
    try:
        (
            survivors.withColumn(BATCH_COL, F.lit(batch_id).cast("long"))
            .write.mode("overwrite")
            .partitionBy(BATCH_COL)
            .parquet(out_path)
        )
        for rows, path, partition_cols in index:
            rows.write.mode("append").partitionBy(*partition_cols).parquet(
                path
            )
    finally:
        spark.conf.set(_OVERWRITE_MODE, prev_mode)


def drain(
    stream: DataFrame,
    checkpoint: str,
    batch_fn: Callable[[DataFrame, int], None],
) -> None:
    """Run ``batch_fn(batch_df, batch_id)`` over every micro-batch of
    ``stream`` not yet committed to ``checkpoint`` (AvailableNow), and
    return when the stream is drained."""
    (
        stream.writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
