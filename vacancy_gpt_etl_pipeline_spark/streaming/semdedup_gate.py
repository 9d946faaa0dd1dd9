"""Streaming twin of the incremental SEMANTIC dedup gate
(operators/similarity.semdedup_incremental) — the embedding member of
the streaming-twin family, completing the text
(streaming/neardup_gate.py) / image (streaming/phash_gate.py) /
embedding symmetry.

State is TWO persisted tables:

- **centroid table** — the fixed quantizer. Bootstrapped once from
  the FIRST micro-batch (stride-sampled, deterministic, so a retried
  bootstrap rewrites the identical table) and read-only afterwards: a
  growing corpus must keep its quantizer stable or every past cell
  assignment becomes unreadable.
- **vector index** — ``(vec_id, embedding, _batch_id, cell)``
  PARTITIONED BY cell: the gate reads just the cells the batch routes
  to. Same pruned-read layout as the band/prefix indexes of the other
  gates.

Delivery class: the family's commit protocol (streaming/gate.py). A
crash mid-bootstrap leaves a file-less centroid directory, which
:func:`gate.read_index` reads as missing, so the retry re-bootstraps.
Within-batch near-duplicates both survive (history is the only veto —
the incremental-family contract that makes retries order-independent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vacancy_gpt_etl_pipeline_spark.operators import caching
from vacancy_gpt_etl_pipeline_spark.operators.similarity import (
    ivf_assign,
    sampled_centroids,
    semdedup_incremental,
)
from vacancy_gpt_etl_pipeline_spark.streaming.gate import (
    BATCH_COL,
    commit,
    drain,
    read_history,
    read_index,
)

INDEX_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
        T.StructField(BATCH_COL, T.LongType()),
        # a cell is its centroid's vec_id (sampled_centroids), so long
        T.StructField("cell", T.LongType()),
    ]
)


def apply_semdedup_gate_batch(
    batch_df: DataFrame,
    batch_id: int,
    out_path: str,
    index_path: str,
    centroids_path: str,
    n_centroids: int = 8,
    stride: int = 37,
    threshold: float = 0.9,
    dim: int | None = None,
    max_cell: int = 10_000,
) -> None:
    """One micro-batch of the embedding gate — exposed as a plain
    function for retry-idempotence tests. ``batch_df`` is
    ``(vec_id, embedding array<double>)``."""
    spark = batch_df.sparkSession
    with caching.CacheScope(spark):
        batch = caching.checkpoint(batch_df)
        cents = read_index(spark, centroids_path)
        if cents is None:
            # deterministic bootstrap: a retried first batch rewrites the
            # identical table (stride sample of the same rows)
            sampled_centroids(batch, n_centroids, stride).write.mode(
                "overwrite"
            ).parquet(centroids_path)
            cents = spark.read.parquet(centroids_path)
        assigned = caching.checkpoint(ivf_assign(batch, cents, dim=dim))
        # lossless: the gate compares a batch vector only with history
        # in its own cell
        hist_assigned = read_history(
            spark, index_path, INDEX_SCHEMA, assigned.select("cell"), batch_id
        )
        survivors = caching.checkpoint(semdedup_incremental(
            batch,
            history=None,
            centroids=cents,
            threshold=threshold,
            dim=dim,
            max_cell=max_cell,
            history_assigned=hist_assigned.select(
                "cell", "vec_id", "embedding"
            ),
            batch_assigned=assigned,
        ))
        index = survivors.join(
            assigned.select("vec_id", "embedding"), "vec_id"
        ).select(
            "vec_id",
            "embedding",
            F.lit(batch_id).cast("long").alias(BATCH_COL),
            "cell",
        )
        commit(survivors, batch_id, out_path, (index, index_path, ("cell",)))


def write_stream_semdedup_gate(
    stream: DataFrame,
    out_path: str,
    index_path: str,
    centroids_path: str,
    checkpoint: str,
    n_centroids: int = 8,
    stride: int = 37,
    threshold: float = 0.9,
    dim: int | None = None,
    max_cell: int = 10_000,
) -> None:
    """Drain an embedding ``stream`` (AvailableNow; rows of
    ``(vec_id, embedding)``) through the incremental semantic gate:
    survivors land in their batch partition of ``out_path`` and join
    the cell-partitioned vector index."""

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        apply_semdedup_gate_batch(
            batch_df,
            batch_id,
            out_path,
            index_path,
            centroids_path,
            n_centroids=n_centroids,
            stride=stride,
            threshold=threshold,
            dim=dim,
            max_cell=max_cell,
        )

    drain(stream, checkpoint, _batch)
