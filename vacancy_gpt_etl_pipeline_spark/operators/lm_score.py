"""Corpus-trained bigram language-model scoring — perplexity-style quality
filtering (the CCNet recipe: score every document under a language model
and filter/bucket by perplexity; Wenzek et al., "CCNet: Extracting High
Quality Monolingual Datasets from Web Crawl Data", LREC 2020).

The model here is a word-level bigram LM with add-k smoothing trained on
the scored corpus itself (or any reference corpus the caller passes):

    P(w2 | w1) = (c(w1 w2) + k) / (c(w1 ·) + k·V)

and a document's score is its mean bigram log-probability — low scores
flag gibberish / boilerplate / wrong-language text, exactly the signal
perplexity filters threshold on (avg_logprob = -ln(perplexity)).

Scale shape (100 TB): the model IS two aggregates — the bigram count
table (one shuffle on (w1, w2), map-side combined) and its w1 marginal —
plus a 1-row vocabulary count. Scoring joins each document bigram against
the count table by key: O(corpus bigrams) shuffle, no Python, no
iteration. The count tables are corpus-vocabulary-bounded, far smaller
than the corpus, and reusable across scoring runs.

Determinism: each bigram's log-probability quantizes to decimal(28,12)
BEFORE the per-document mean, so the aggregate is order-independent and
engine-exact (the BM25 decimal-accumulator rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vacancy_gpt_etl_pipeline_spark.functions.text import gram_starts, tokens


def _doc_bigrams(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(_id, _w1, _w2) — every consecutive token pair (NOT distinct:
    the LM scores each occurrence). Tokens materialize as a real column
    first (expression-economy rule 1)."""
    toks = df.select(
        F.col(id_col).alias("_id"), tokens(text_col).alias("_toks")
    ).where(F.size("_toks") >= 2)
    pair = lambda i: F.struct(  # noqa: E731
        F.element_at("_toks", i).alias("_w1"),
        F.element_at("_toks", i + 1).alias("_w2"),
    )
    return toks.select(
        "_id", F.explode(F.transform(gram_starts("_toks", 2), pair)).alias("_p")
    ).select("_id", "_p._w1", "_p._w2")


def bigram_lm_scores(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    add_k: float = 0.5,
    ndigits: int = 6,
) -> DataFrame:
    """Per-document mean bigram log-probability under the corpus bigram LM:
    ``(id, n_bigrams, avg_logprob)``. Documents with fewer than 2 tokens
    are omitted (no bigrams to score)."""
    bg = _doc_bigrams(docs, text_col, id_col)
    # model: bigram counts, w1 marginals (re-aggregated FROM the bigram
    # table — no second corpus pass), vocabulary size
    c2 = bg.groupBy("_w1", "_w2").agg(F.count(F.lit(1)).alias("_c2"))
    c1 = c2.groupBy("_w1").agg(F.sum("_c2").alias("_c1"))
    vocab = bg.select(F.col("_w2").alias("_w")).union(
        bg.select(F.col("_w1").alias("_w"))
    )
    v = vocab.agg(F.countDistinct("_w").alias("_v"))
    logp = F.log(
        (F.col("_c2") + F.lit(add_k))
        / (F.col("_c1") + F.lit(add_k) * F.col("_v"))
    )
    scored = (
        bg.join(c2, ["_w1", "_w2"])
        .join(c1, "_w1")
        .crossJoin(F.broadcast(v))
        # quantize each term before the mean: order-independent aggregate
        .select("_id", logp.cast("decimal(28,12)").alias("_lp"))
    )
    # the EXACT decimal sum casts to double before the one division —
    # decimal-division scale rules differ across engines, a double
    # quotient of identical operands does not
    return scored.groupBy("_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(
            F.sum("_lp").cast("double") / F.count(F.lit(1)), ndigits
        ).alias("avg_logprob"),
    ).select(F.col("_id").alias(id_col), "n_bigrams", "avg_logprob")
