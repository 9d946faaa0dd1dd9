"""Sequence packing — group documents into ~fixed-token-budget training
examples.

Scale extension (north star): LLM pretraining consumes fixed-length
context windows; feeding one short document per example wastes most of
the window. Packing assigns documents to bins of ~``target_tokens`` so
downstream concatenation fills contexts. The assignment used here is the
deterministic offset-bin rule: order documents within a stratum, take the
running token cumsum, and bin by the document's STARTING offset —
``pack_id = floor((cumsum - n_tokens) / target)``. Every document lands in
exactly one pack, packs average ``target`` tokens, and the result is a
pure window computation — no stateful greedy loop, so it is distributed,
restart-stable, and SQL-oracle-verifiable.

Scale shape: ONE window shuffle, partitioned by the stratum column —
parallelism is the number of strata, so the stratum should be a
real partition key (source, language, date bucket), never a constant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from vacancy_gpt_etl_pipeline_spark.functions.text import token_count


def pack_sequences(
    docs: DataFrame,
    target_tokens: int,
    by: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-``by``-stratum packing: returns one row per document with its
    whitespace token count and assigned ``pack_id`` (0-based within the
    stratum, ordered by ``id_col``)."""
    n_tok = token_count(text_col)
    w = (
        Window.partitionBy(by)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    toks = docs.select(by, id_col, n_tok.alias("n_tokens"))
    return toks.withColumn(
        "pack_id",
        F.floor(
            (F.sum("n_tokens").over(w) - F.col("n_tokens"))
            / F.lit(target_tokens)
        ).cast("bigint"),
    )


def pack_summary(packed: DataFrame, by: str) -> DataFrame:
    """Aggregate packed docs to one row per (stratum, pack): doc count and
    total tokens — the frame a loader would iterate."""
    return packed.groupBy(by, "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("pack_tokens"),
    )
