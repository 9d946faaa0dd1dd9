"""BM25 keyword search over the documents table.

Scale extension (north star): the retrieval half of a training-data
pipeline — dedup tells you what to drop, keyword search tells you what you
have (corpus audits, targeted subset extraction, contamination probes by
query). Complements the embedding ANN tier in operators/similarity.py with
lexical ranking.

Scale shape — everything is proportional to MATCHED postings, never the
corpus token stream:
- the exploded token stream is semi-joined against the (broadcast, tiny)
  query-term set BEFORE any aggregation, so the per-term tf groupBy
  shuffles only tokens that can score;
- document length rides along through the explode and survives the tf
  aggregate as first(dl) — no O(corpus) doclen join-back;
- corpus stats (N, avgdl) are a 1-row aggregate broadcast into the scorer;
- the final top-k is a per-query row_number window over (query, doc,
  score) triples.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vacancy_gpt_etl_pipeline_spark.functions.text import tokens
from vacancy_gpt_etl_pipeline_spark.operators.relational import top_k_per_group


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    query_text_col: str = "query",
) -> DataFrame:
    """Okapi BM25 top-k: for each query row, the ``k`` highest-scoring
    documents as ``(query_id, doc_id, score, rank)``.

    Lucene-style scoring: ``idf = ln(1 + (N - df + .5)/(df + .5))``,
    ``tf_norm = tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))``, score =
    Σ_terms idf·tf_norm, rounded to 6 digits BEFORE ranking so rank
    tie-breaking (doc_id asc) is oracle-stable.
    """
    # distinct (query, term) pairs — duplicated words in a query count once,
    # the standard bag-of-terms simplification that keeps the oracle simple
    qterms = (
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.explode(tokens(query_text_col)).alias("term"),
        )
        .where(F.col("term") != "")
        .distinct()
    )
    toks = docs.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("_t"))
    doclen = toks.select("doc_id", F.size("_t").alias("dl"))
    stats = doclen.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    # early semi-join: only tokens that appear in some query reach the tf
    # agg. dl rides along through the explode (first() per group) instead
    # of joining the O(corpus) doclen frame back later — that join would
    # shuffle every document's length row to score a handful of matches
    matched = (
        toks.select("doc_id", F.size("_t").alias("dl"), F.explode("_t").alias("term"))
        .join(F.broadcast(qterms.select("term").distinct()), "term")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl"))
    )
    df_t = matched.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tf_norm = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf")
        + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        matched.join(F.broadcast(qterms), "term")
        .join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("query_id", "doc_id")
        # decimal accumulator: per-term contributions are doubles (JVM log
        # vs libm log can differ in the last ulp), so quantize each term to
        # 12 decimals and sum EXACTLY — the aggregate is then independent
        # of partition/merge order and matches the oracle that quantizes
        # the same way
        .agg(
            F.round(
                F.sum((idf * tf_norm).cast("decimal(28,12)")).cast("double"), 6
            ).alias("score")
        )
    )
    return top_k_per_group(
        scored, ["query_id"], [F.desc("score"), F.asc("doc_id")], k, rank_col="rank"
    ).select("query_id", "doc_id", "score", "rank")


def tfidf_keywords(
    docs: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_token_len: int = 3,
) -> DataFrame:
    """Corpus-wide TF-IDF keyword extraction: the ``k`` most
    characteristic terms per document as ``(doc_id, term, score, rank)``.

    The audit-side complement of :func:`bm25_topk` — no query set; every
    document is profiled against the whole corpus. Smoothed
    scikit-style idf ``ln((N+1)/(df+1)) + 1`` (never negative, defined
    for df=N terms the synthetic small-vocab corpus is full of).

    Scale shape: explode tokens → (doc, term) tf groupBy (map-side
    combined, the one big shuffle) → per-term df re-aggregated FROM the
    tf frame (one row per (doc, term) already — no second corpus pass)
    → df broadcast back. The window ranks |docs|·|vocab-per-doc| scored
    rows partitioned by doc — no skew beyond document length. Scores
    quantize to decimal before ranking so tie-breaks (term asc) are
    engine-stable.
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(text_col)).alias("term")
    ).where(F.length("term") >= min_token_len)
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.select(
        F.countDistinct(id_col).alias("n_docs")
    )
    idf = F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))) + F.lit(
        1.0
    )
    scored = (
        tf.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(n_docs))
        # quantize BEFORE ranking: JVM vs libm log differ in the last ulp,
        # and a rank flip on an un-quantized score would hash-mismatch
        .select(
            "doc_id",
            "term",
            F.round((F.col("tf") * idf).cast("decimal(28,12)").cast("double"), 6).alias(
                "score"
            ),
        )
    )
    return top_k_per_group(
        scored, ["doc_id"], [F.desc("score"), F.asc("term")], k, rank_col="rank"
    ).select("doc_id", "term", "score", "rank")


def pmi_collocations(
    docs: DataFrame,
    k: int = 100,
    min_count: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """Corpus-level collocation mining: the ``k`` adjacent word pairs
    most over-represented vs an independence baseline, ranked by
    pointwise mutual information ``ln(c(xy)·N / (c(x)·c(y)))`` where the
    unigram counts are taken over the same token stream.

    The vocabulary-audit complement of :func:`tfidf_keywords` — TF-IDF
    finds per-document keywords, PMI finds corpus-wide multiword terms
    (named entities, idioms, templated boilerplate phrases) that a
    tokenizer or a dedup shingle size should treat as units.

    Scale shape: bigrams are built MAP-SIDE as an array transform over
    the split token stream (no positional self-join — adjacency never
    shuffles); one groupBy per stream (bigram, unigram — both map-side
    combined); the unigram vocabulary is broadcast twice into the bigram
    frame (vocab ≪ corpus by Heaps' law, and ``min_count`` prunes the
    bigram side before the joins). Scores quantize to decimal before
    ranking so tie-breaks (pair asc) are engine-stable.
    """
    toks = docs.select(tokens(text_col).alias("_t"))
    uni = toks.select(F.explode("_t").alias("w")).groupBy("w").agg(
        F.count(F.lit(1)).alias("c_w")
    )
    # adjacent pairs over the raw stream: element i paired with i+1
    pairs = toks.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.size("_t") - 1, F.lit(0))),
                lambda i: F.concat_ws(
                    " ", F.element_at("_t", i), F.element_at("_t", i + 1)
                ),
            )
        ).alias("pair")
    )
    big = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("c_xy")).where(
        F.col("c_xy") >= min_count
    )
    n_pairs = pairs.select(F.count(F.lit(1)).alias("n_pairs"))
    split = F.split(F.col("pair"), " ", 2)
    scored = (
        big.withColumn("x", split.getItem(0))
        .withColumn("y", split.getItem(1))
        .join(
            F.broadcast(uni.select(F.col("w").alias("x"), F.col("c_w").alias("c_x"))),
            "x",
        )
        .join(
            F.broadcast(uni.select(F.col("w").alias("y"), F.col("c_w").alias("c_y"))),
            "y",
        )
        .crossJoin(F.broadcast(n_pairs))
        .select(
            "pair",
            F.col("c_xy").cast("bigint").alias("c_xy"),
            F.round(
                F.log(
                    F.col("c_xy")
                    * F.col("n_pairs")
                    / (F.col("c_x") * F.col("c_y"))
                )
                .cast("decimal(28,12)")
                .cast("double"),
                6,
            ).alias("pmi"),
        )
    )
    return (
        scored.orderBy(F.desc("pmi"), F.asc("pair"))
        .limit(k)
        .select("pair", "c_xy", "pmi")
    )
