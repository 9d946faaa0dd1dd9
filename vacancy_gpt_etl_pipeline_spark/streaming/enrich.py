"""Streaming twin of the LLM enrichment operator
(operators/enrichment.enrich_column) — the last §2.10 surface without
a Structured-Streaming parity proof (every other stateful family has
one, streaming/anomaly.py sets the pattern).

``foreachBatch`` is the right bridge, not a stateful rewrite: the
batch operator's whole contract (distinct keys → bounded repartition →
``mapInPandas`` batch-call with retry-residue → adaptive join-back →
default coalescing) is already the per-micro-batch shape, and
``foreachBatch`` hands each micro-batch over as a plain DataFrame, so
the STREAMING path runs the IDENTICAL operator code — parity is by
construction, then proven bit-exact in tests/test_streaming_enrich.py
rather than assumed.

Exactly-once across runs comes from the streaming checkpoint: a
committed micro-batch is never handed to ``foreachBatch`` again, so a
re-run over an unchanged source appends nothing and a re-run after new
files arrive enriches ONLY the new files (asserted across three runs
in the test). Within a failed-and-retried batch the parquet append is
at-least-once — the delivery class every foreachBatch parquet sink has
(streaming/upsert.py documents the same boundary); the log-compaction
pattern there is the dedup layer when a sink needs it.

Scale/cost note: the enricher is consulted once per DISTINCT key per
micro-batch (the batch operator's cache makes it once-per-key within
the batch). Keys recurring across micro-batches are re-enriched —
correct for deterministic enrichers, and the honest semantics for a
streaming service (a cross-batch key→value cache is a separate
persisted table the caller merges, not something to hide inside the
operator).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vacancy_gpt_etl_pipeline_spark.operators.enrichment import (
    Enricher,
    enrich_column,
)
from vacancy_gpt_etl_pipeline_spark.streaming.gate import BATCH_COL, drain


def write_stream_enriched(
    stream: DataFrame,
    key_col: str,
    enricher: Enricher,
    out_path: str,
    checkpoint: str,
    **enrich_kwargs,
) -> None:
    """Drain ``stream`` (AvailableNow), enriching every micro-batch
    with the BATCH operator verbatim and appending the result (tagged
    with its micro-batch id) to a parquet sink.

    ``enrich_kwargs`` pass through to :func:`enrich_column`
    (``batch_size``, ``max_retries``, ``defaults``, …) so the
    streaming path exposes the full batch contract."""

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            enrich_column(batch_df, key_col, enricher, **enrich_kwargs)
            .withColumn(BATCH_COL, F.lit(batch_id))
            .write.mode("append")
            .parquet(out_path)
        )

    drain(stream, checkpoint, _batch)
