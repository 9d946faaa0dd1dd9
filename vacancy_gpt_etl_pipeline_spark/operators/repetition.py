"""Repetition quality signals — Gopher-style n-gram repetition metrics.

Per-document signals used by large-scale pretraining-data curation (Rae et
al., "Scaling Language Models: Methods, Analysis & Insights from Training
Gopher", arXiv:2112.11446, §A1.1 "repetition filters"):

- ``top_ngram_char_fraction``: characters covered by the single most
  repeated word n-gram, as a fraction of the document's n-gram character
  mass. High values flag boilerplate/template spam ("click here click
  here …").
- ``dup_ngram_char_fraction``: characters inside n-grams that occur more
  than once, as a fraction of the n-gram character mass. Catches diffuse
  repetition a single top gram misses.

Both metrics are defined here over the n-gram character mass
(Σ count·len(gram)) rather than raw document length: overlapping
occurrences make per-character attribution ambiguous, and the mass
normalization keeps the value a true 0..1 fraction with NO tie-break
ambiguity — "covered" for the top metric is max(count·len), not
"the chars of an argmax gram", so equal-count grams cannot flip the
result between engines.

Scale shape (100 TB): tokenize → explode n-grams → groupBy(doc, gram)
count → groupBy(doc) fold. Two shuffles, both map-side combined, both
keyed by (doc, gram) then doc — no skew beyond document length itself,
and a pathological document costs O(its own grams), never a join blowup.
All expressions are built-in (split/concat_ws/length) → whole-stage
codegen; no Python anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vacancy_gpt_etl_pipeline_spark.functions.text import (
    gram_at,
    gram_starts,
    tokens,
)


def _gram_counts(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """(_id, _g, _cnt) — occurrence counts per word n-gram (NOT distinct:
    counts are the point). Same expression-economy layout as
    dedup._shingled: tokens as a real column, grams referencing it."""
    toks = df.select(
        F.col(id_col).alias("_id"), tokens(text_col).alias("_toks")
    ).where(F.size("_toks") >= n)
    grams = F.transform(gram_starts("_toks", n), lambda i: gram_at("_toks", i, n))
    ex = toks.select("_id", F.explode(grams).alias("_g"))
    return ex.groupBy("_id", "_g").agg(F.count(F.lit(1)).alias("_cnt"))


def repetition_signals(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_n: int = 2,
    dup_n: int = 3,
    ndigits: int = 6,
) -> DataFrame:
    """Per-document repetition metrics: (id, top{top_n}gram_char_frac,
    dup{dup_n}gram_char_frac). Documents shorter than the n-gram width
    get 0.0 (nothing can repeat)."""
    mass = F.col("_cnt") * F.length("_g")

    top = (
        _gram_counts(df, text_col, id_col, top_n)
        .groupBy("_id")
        .agg(
            F.round(
                F.max(mass) / F.sum(mass), ndigits
            ).alias("top_frac")
        )
    )
    dup = (
        _gram_counts(df, text_col, id_col, dup_n)
        .groupBy("_id")
        .agg(
            F.round(
                F.sum(F.when(F.col("_cnt") > 1, mass).otherwise(F.lit(0)))
                / F.sum(mass),
                ndigits,
            ).alias("dup_frac")
        )
    )
    ids = df.select(F.col(id_col).alias("_id"))
    return (
        ids.join(top, "_id", "left")
        .join(dup, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce("top_frac", F.lit(0.0)).alias(
                f"top{top_n}gram_char_frac"
            ),
            F.coalesce("dup_frac", F.lit(0.0)).alias(
                f"dup{dup_n}gram_char_frac"
            ),
        )
    )
