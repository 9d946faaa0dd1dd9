"""Training-corpus curation: the composed quality-filter + exact-dedup pass
an LLM data pipeline runs before anything expensive (north-star extension;
composes functions/text.py stats with operators/dedup.py survivors).

Plan shape, chosen for 100 TB:

    profile (narrow, codegen) → quality/token FILTERS → fingerprint
    keep-first dedup (one hash shuffle)

Filters run BEFORE the dedup shuffle on purpose: quality and token stats
are pure functions of the content, so every copy of a duplicate passes or
fails together — filtering first shrinks the only shuffle without changing
the surviving set. The filters themselves are whole-stage-codegen column
expressions; nothing here leaves the JVM.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vacancy_gpt_etl_pipeline_spark.functions.text import (
    fingerprint,
    gram_at,
    gram_starts,
    quality_score,
    token_count,
    tokens,
)
from vacancy_gpt_etl_pipeline_spark.operators import caching
from vacancy_gpt_etl_pipeline_spark.operators.relational import top_k_per_group


def profile_for_curation(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    return df.select(
        F.col(id_col),
        token_count(text_col).alias("n_tokens"),
        quality_score(text_col).alias("quality"),
        fingerprint(text_col).alias("fingerprint"),
    )


def quality_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float = 0.5,
    min_tokens: int = 20,
    max_tokens: int = 200,
) -> DataFrame:
    """C4/Gopher-style rule filter: quality score + token-count band."""
    prof = profile_for_curation(df, text_col, id_col)
    return prof.where(
        (F.col("quality") >= min_quality)
        & F.col("n_tokens").between(min_tokens, max_tokens)
    )


def curate_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float = 0.5,
    min_tokens: int = 20,
    max_tokens: int = 200,
) -> DataFrame:
    """Filter → exact-dedup (keep lowest id per fingerprint). Returns the
    surviving (id, n_tokens, quality, fingerprint) rows — the manifest a
    downstream tokenization job joins back against the raw corpus."""
    filtered = quality_filter(df, text_col, id_col, min_quality, min_tokens, max_tokens)
    return top_k_per_group(filtered, ["fingerprint"], [F.asc(id_col)])


def adaptive_quality_floor(
    df: DataFrame,
    stratum_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
    drop_fraction: float = 0.25,
) -> DataFrame:
    """Adaptive per-stratum quality filtering: instead of one global
    quality cutoff, each stratum (language, source, crawl snapshot)
    drops its own worst ``drop_fraction`` — the standard guard against a
    fixed threshold gutting low-resource languages whose score
    distribution sits lower.

    The floor is the DISCRETE percentile: the smallest quality value q
    such that at least ``ceil(drop_fraction * n)`` of the stratum's docs
    score ≤ q (pure integer rank math — engine-exact, no interpolation).

    Scale shape: a naive window over partitionBy(stratum) would funnel
    the whole corpus through one reducer per language — 5 reducers at
    100 TB. Instead the corpus pays ONE map-side-combined aggregate to a
    (stratum, quality) histogram (bounded by distinct rounded scores),
    the rank window runs over that tiny histogram, and the per-stratum
    floors broadcast back as a filter — the full data is never window-
    sorted or re-shuffled.
    """
    from pyspark.sql import Window
    from pyspark.sql.functions import broadcast

    prof = df.select(
        F.col(id_col),
        F.col(stratum_col),
        quality_score(text_col).alias("quality"),
    )
    hist = prof.groupBy(stratum_col, "quality").agg(
        F.count(F.lit(1)).alias("_c")
    )
    w_cum = (
        Window.partitionBy(stratum_col)
        .orderBy("quality")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(stratum_col)
    floors = (
        hist.withColumn("_cum", F.sum("_c").over(w_cum))
        .withColumn("_n", F.sum("_c").over(w_all))
        .where(
            F.col("_cum") >= F.ceil(F.lit(drop_fraction) * F.col("_n"))
        )
        .groupBy(stratum_col)
        .agg(F.min("quality").alias("lang_floor"))
    )
    return prof.join(broadcast(floors), stratum_col).where(
        F.col("quality") >= F.col("lang_floor")
    )


def remove_boilerplate_ngrams(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_doc_frequency: int = 30,
) -> DataFrame:
    """Corpus-level boilerplate removal (the CCNet/RefinedWeb-style
    dedup-within-documents step): token ``n``-grams that occur in at
    least ``min_doc_frequency`` DISTINCT documents are boilerplate
    (cookie banners, navigation chrome, license headers); every token
    position covered by any boilerplate n-gram occurrence is dropped and
    the document is reassembled from the surviving tokens.

    Returns ``(id, n_tokens, n_kept, boilerplate_frac, cleaned_text)``.

    Scale shape — linear in corpus tokens, no self-join:

    1. explode to (doc, start-pos, gram) — one generator pass; the gram
       string is immediately md5'd to a 16-byte join/agg key.
    2. document frequency per gram = one map-side-combined aggregate
       over (gram, doc) pairs; the boilerplate set (df ≥ threshold) is
       TINY by construction and broadcast back to the occurrence frame.
    3. covered positions = explode of the n positions under each
       boilerplate occurrence, distinct per (doc, pos).
    4. surviving tokens = posexploded tokens LEFT ANTI covered; the
       document reassembles with sort_array(collect_list(struct(pos,
       tok))) — order restored without a window sort.

    The per-doc shuffles (steps 3-4) key on (doc, pos) — no skew beyond
    document length, and the explode frames are persisted per the
    expression-economy rules (an unpersisted explode re-evaluates its
    array per element).
    """
    from pyspark.sql.functions import broadcast

    toks_arr = caching.persist(
        df.select(
            F.col(id_col).alias("_id"),
            tokens(text_col).alias("_toks"),
        ),
    )
    # (doc, pos, token) — pos is 1-based
    positions = toks_arr.select(
        "_id", F.posexplode("_toks").alias("_p0", "_tok")
    ).select("_id", (F.col("_p0") + 1).alias("_p"), "_tok")
    # explode the start positions, not a gram array: an unpersisted
    # explode of an array expression re-evaluates it per emitted element
    occurrences = caching.persist(
        toks_arr.where(F.size("_toks") >= n)
        .select("_id", F.explode(gram_starts("_toks", n)).alias("_i"), "_toks")
        .select("_id", "_i", F.md5(gram_at("_toks", F.col("_i"), n)).alias("_gh")),
    )
    boiler = (
        occurrences.groupBy("_gh")
        .agg(F.count_distinct("_id").alias("_df"))
        .where(F.col("_df") >= min_doc_frequency)
        .select("_gh")
    )
    covered = (
        occurrences.join(broadcast(boiler), "_gh")
        .select(
            "_id",
            F.explode(
                F.sequence(F.col("_i"), F.col("_i") + (n - 1))
            ).alias("_p"),
        )
        .distinct()
    )
    kept = positions.join(covered, ["_id", "_p"], "left_anti")
    rebuilt = kept.groupBy("_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("_p", "_tok"))),
                lambda s: s["_tok"],
            ),
            " ",
        ).alias("cleaned_text"),
    )
    totals = toks_arr.select("_id", F.size("_toks").alias("n_tokens"))
    return (
        totals.join(rebuilt, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.round(
                (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0)))
                / F.col("n_tokens"),
                6,
            ).alias("boilerplate_frac"),
            F.coalesce("cleaned_text", F.lit("")).alias("cleaned_text"),
        )
    )


def ngram_contamination(
    train: DataFrame,
    test: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 13,
) -> DataFrame:
    """Per-test-document n-gram contamination audit — the standard
    eval-decontamination check (GPT-3 appendix C / PaLM-style 13-gram
    overlap): for every test document, the fraction of its distinct word
    ``n``-grams that appear anywhere in the training corpus.

    Complements the exact content-hash audit (split_contamination): hash
    overlap only catches verbatim documents; n-gram overlap catches test
    PASSAGES embedded in training documents.

    Scale shape: both sides explode to distinct n-grams keyed by md5 (a
    16-byte shuffle key instead of a ~100-char string; md5 keeps the key
    portable for the oracle). The train side deduplicates map-side-combined
    to one row per distinct gram, the test side left-joins against it, and
    the verdict aggregates per test doc — everything is O(corpus grams)
    with no self-join. Docs shorter than ``n`` tokens report 0 grams /
    0.0 fraction (nothing to leak).
    """
    from vacancy_gpt_etl_pipeline_spark.operators.dedup import _shingled

    # persisted by operators/dedup._shingled: an UNPERSISTED
    # explode re-evaluates the inline shingle-array expression per
    # emitted element — measured 70 s vs 2 s at sf0.1 for the 13-gram
    # audit. Each side is read once but EXPLODED many-to-one, which is
    # exactly the case the materialization boundary exists for.
    tr = (
        _shingled(train, text_col, id_col, n)
        .select(F.explode("_sh").alias("_g"))
        .select(F.md5("_g").alias("_gh"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    te = _shingled(test, text_col, id_col, n).select(
        "_id", F.explode("_sh").alias("_g")
    ).select("_id", F.md5("_g").alias("_gh"))
    per_doc = (
        te.join(tr, "_gh", "left")
        .groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.coalesce(F.sum("_hit"), F.lit(0)).alias("n_contaminated"),
        )
    )
    ids = test.select(F.col(id_col).alias("_id"))
    return (
        ids.join(per_doc, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("n_contaminated", F.lit(0))
            .cast("long")
            .alias("n_contaminated"),
            F.round(
                F.coalesce(
                    F.col("n_contaminated") / F.col("n_grams"), F.lit(0.0)
                ),
                6,
            ).alias("contaminated_frac"),
        )
    )


def vocab_oov_rate(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_size: int = 256,
) -> DataFrame:
    """Vocabulary coverage: build the corpus top-``vocab_size`` token
    vocabulary and score every document's out-of-vocabulary rate — the
    tokenizer-fit signal that decides whether a corpus slice needs its
    own vocab (high OOV ⇒ the tokenizer will shred it into bytes and
    waste sequence length).

    Uses the repo-wide whitespace tokenization contract
    (functions/text.tokens ⇔ ``string_split_regex(trim(lower(text)),
    '\\s+')``). Scale shape: ONE corpus tokenization pass — the global
    counts re-aggregate the per-doc frame instead of re-scanning text;
    the vocabulary is a TakeOrdered top-k with a total (count, token)
    tie-break and broadcasts back as a left-join membership marker; the
    per-doc rollup is a single aggregate. OOV rate is one IEEE division.
    """
    toks = df.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("_tok")
    ).where(F.col("_tok") != "")
    doc_tok = toks.groupBy(id_col, "_tok").agg(F.count(F.lit(1)).alias("_tf"))
    global_cnt = doc_tok.groupBy("_tok").agg(F.sum("_tf").alias("_cf"))
    vocab = (
        global_cnt.orderBy(F.desc("_cf"), "_tok")
        .limit(vocab_size)
        .select("_tok", F.lit(1).alias("_in"))
    )
    marked = doc_tok.join(F.broadcast(vocab), "_tok", "left")
    per = marked.groupBy(id_col).agg(
        F.sum("_tf").alias("n_tokens"),
        F.sum(F.when(F.col("_in") == 1, F.col("_tf")).otherwise(F.lit(0))).alias(
            "n_in_vocab"
        ),
    )
    return per.select(
        id_col,
        "n_tokens",
        "n_in_vocab",
        (
            F.lit(1.0)
            - F.col("n_in_vocab").cast("double") / F.col("n_tokens").cast("double")
        ).alias("oov_rate"),
    )
