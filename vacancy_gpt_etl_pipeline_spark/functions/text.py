"""Text-analysis surface for training-data pipelines (north-star extension).

All pure JVM-side column expressions (split / regexp / higher-order array
functions) — these run inside whole-stage codegen over 100 TB of documents
with zero Python in the hot path.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tiny per-language stopword lists for the n-gram/stopword language heuristic
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein"),
    "fr": ("le", "la", "les", "et", "est", "une", "des"),
    "es": ("el", "la", "los", "y", "es", "una", "que"),
    "ru": ("и", "в", "не", "на", "что", "это", "как"),
}

PUNCT_CLASS = r"[.,;:!?'\"()\[\]{}<>/\\|@#$%^&*_+=~-]"


def tokens(c: Column | str) -> Column:
    """Word tokens: the trimmed, lowercased text split on whitespace runs.
    The one tokenizer of every word-level operator (dedup shingles,
    n-gram repetition, chunking, packing, BM25, the bigram LM)."""
    col = F.col(c) if isinstance(c, str) else c
    return F.split(F.lower(F.trim(col)), r"\s+")


def gram_starts(toks: Column | str, n: int) -> Column:
    """1-based start positions of the word ``n``-grams of the token array
    ``toks``; empty when it holds fewer than ``n`` tokens. The guard keeps
    the range total: Spark's ``sequence(1, stop)`` counts DOWN for
    stop < 1, and the optimizer may evaluate a projection before the
    size filter that was meant to protect it."""
    col = F.col(toks) if isinstance(toks, str) else toks
    return F.when(
        F.size(col) >= n, F.sequence(F.lit(1), F.size(col) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))


def gram_at(toks: Column | str, i: Column, n: int) -> Column:
    """The word ``n``-gram of ``toks`` starting at position ``i``: its
    words joined by one space. Reference the token array as a real
    column, not an inline ``tokens(...)`` expression, or codegen
    re-evaluates the regex split per ``element_at``."""
    return F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(n)])


def token_count(c: Column | str) -> Column:
    """Whitespace token count (the cheap pre-BPE estimator)."""
    return F.size(tokens(c))


def bpe_ish_token_count(c: Column | str) -> Column:
    """BPE-ish token estimate: count word pieces + digits + punctuation via a
    GPT-2-style pre-tokenizer regex. Upper-bounds subword count without a
    vocab; good enough for budget accounting at scale."""
    col = F.col(c) if isinstance(c, str) else c
    pieces = F.regexp_extract_all(
        col, F.lit(r"[A-Za-zА-Яа-яЁё]+|[0-9]|[^\sA-Za-zА-Яа-яЁё0-9]"), 0
    )
    return F.size(pieces)


def punct_ratio(c: Column | str, ndigits: int = 6) -> Column:
    col = F.col(c) if isinstance(c, str) else c
    n_punct = F.length(col) - F.length(F.regexp_replace(col, PUNCT_CLASS, ""))
    return F.round(n_punct / F.greatest(F.length(col), F.lit(1)), ndigits)


def _in_set(col: Column, values: tuple[str, ...]) -> Column:
    """Membership test usable inside higher-order-function lambdas (where
    Column.isin is not supported)."""
    expr = F.lit(False)
    for v in values:
        expr = expr | (col == F.lit(v))
    return expr


def stopword_ratio(c: Column | str, lang: str = "en", ndigits: int = 6) -> Column:
    stop = LANG_STOPWORDS[lang]
    toks = tokens(c)
    n_stop = F.size(F.filter(toks, lambda t: _in_set(t, stop)))
    return F.round(n_stop / F.greatest(F.size(toks), F.lit(1)), ndigits)


def language_id(c: Column | str) -> Column:
    """Stopword-vote language heuristic: the language whose stopwords hit the
    most tokens wins; 'und' (undetermined) when nothing hits."""
    toks = tokens(c)

    def hit_counter(stop: tuple[str, ...]):
        # closure, NOT a default arg: PySpark maps every lambda parameter to
        # a lambda variable, so `lambda t, s=stop` would become a 2-arg HOF
        return lambda t: _in_set(t, stop)

    scores = [
        (lang, F.size(F.filter(toks, hit_counter(stop))))
        for lang, stop in LANG_STOPWORDS.items()
    ]
    best = F.greatest(*[s for _, s in scores])
    expr = F.lit("und")
    # reversed so earlier languages win ties (first-match in declared order)
    for lang, score in reversed(scores):
        expr = F.when((score == best) & (best > 0), F.lit(lang)).otherwise(expr)
    return expr


def quality_score(c: Column | str, ndigits: int = 6) -> Column:
    """Heuristic document quality in [0,1]: length sweet-spot, low punctuation
    noise, healthy mean word length. Mirrors the C4/Gopher-style rule filters
    used for LLM corpus curation."""
    col = F.col(c) if isinstance(c, str) else c
    n_chars = F.length(col).cast("double")
    n_toks = token_count(col).cast("double")
    mean_word = n_chars / F.greatest(n_toks, F.lit(1.0))
    len_score = F.least(n_chars / F.lit(500.0), F.lit(1.0))
    word_score = F.when((mean_word >= 3) & (mean_word <= 10), F.lit(1.0)).otherwise(
        F.lit(0.5)
    )
    punct_score = F.lit(1.0) - F.least(punct_ratio(col, None) * 5, F.lit(1.0))
    return F.round(
        (len_score * 0.4 + word_score * 0.3 + punct_score * 0.3), ndigits
    )


def fingerprint(c: Column | str) -> Column:
    """Content key: md5 over the trimmed, whitespace-collapsed, lowercased
    text. The one exact-dedup key of the engine (``dedup_exact_text``,
    ``incremental_dedup``, the streaming text gate's hash index, content
    splits); DuckDB computes the same value, so oracles can mirror it."""
    col = F.col(c) if isinstance(c, str) else c
    return F.md5(F.lower(F.regexp_replace(F.trim(col), r"\s+", " ")))


def text_profile(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One-pass profile: every text stat as a column. Single narrow stage."""
    return df.select(
        "*",
        token_count(text_col).alias("n_tokens"),
        bpe_ish_token_count(text_col).alias("n_bpe_tokens"),
        F.length(text_col).alias("n_chars_measured"),
        punct_ratio(text_col).alias("punct_ratio"),
        stopword_ratio(text_col).alias("stopword_ratio"),
        language_id(text_col).alias("lang_pred"),
        quality_score(text_col).alias("quality"),
        fingerprint(text_col).alias("fingerprint"),
    )


# --- PII scrubbing (training-data hygiene) ---------------------------------
# Pattern set kept deliberately conservative (emails, IPv4,
# international-ish phone numbers) — JVM regexp_replace, whole-stage
# codegen, no Python. Order matters: emails before phones (the phone
# pattern would eat an address's digit-heavy local part) and IPs before
# phones (dotted quads match the phone charset).

PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    (r"\+?\d[\d\s().-]{7,}\d", "<PHONE>"),
)


def redact_pii(c: Column | str) -> Column:
    """Replace emails / phone numbers / IPv4 addresses with typed
    placeholder tokens. Pure column expression — composes into any scan
    projection, so at 100 TB the scrub is free riding on the first read."""
    col = F.col(c) if isinstance(c, str) else c
    for pat, repl in PII_PATTERNS:
        col = F.regexp_replace(col, pat, repl)
    return col


def pii_hit_counts(c: Column | str) -> list[Column]:
    """Per-pattern hit counts computed INDEPENDENTLY on the raw text (three
    extra regexp passes; patterns can overlap — a dotted quad also matches
    the phone charset, so independent counts can exceed redactions made).
    Prefer :func:`pii_marker_counts` over the redacted output when the
    redaction is being computed anyway — same dashboards, no extra regexp
    scans, and the counts equal the replacements actually performed."""
    col = F.col(c) if isinstance(c, str) else c
    names = ("emails", "ips", "phones")
    return [
        F.coalesce(F.size(F.regexp_extract_all(col, F.lit(pat), F.lit(0))), F.lit(0)).alias(n)
        for (pat, _), n in zip(PII_PATTERNS, names)
    ]


def pii_marker_counts(redacted: Column | str) -> list[Column]:
    """Per-pattern redaction counts derived from the placeholder markers in
    the ALREADY-REDACTED text: count('<EMAIL>') etc. via length deltas —
    plain string ops, ~2× cheaper than re-scanning the raw text with three
    more regexes (measured on the sf0.1 pii_redaction bench).

    Semantics: the number of replacements actually made, under the
    sequential pattern order of :func:`redact_pii` (an IP consumed by the
    IP pattern is no longer visible to the phone pattern). Assumes the raw
    corpus does not itself contain literal placeholder tokens; if it can,
    use :func:`pii_hit_counts` on the raw column instead."""
    col = F.col(redacted) if isinstance(redacted, str) else redacted
    names = ("emails", "ips", "phones")
    return [
        (
            (F.length(col) - F.length(F.replace(col, F.lit(marker), F.lit(""))))
            / F.lit(len(marker))
        )
        .cast("int")
        .alias(n)
        for (_, marker), n in zip(PII_PATTERNS, names)
    ]


def unicode_normalize_udf(form: str = "NFC"):
    """Arrow-vectorized Unicode normalization (NFC/NFKC/NFD/NFKD) — the
    canonicalization pass multilingual corpora need before hashing,
    dedup, or tokenization (a decomposed "é" (e + U+0301) and the
    composed U+00E9 are different bytes, so every downstream
    content-hash operator treats them as different documents).

    Spark ships no normalization built-in, so this is a legitimate
    Python boundary: a scalar ``pandas_udf`` (Arrow batches, not
    row-at-a-time) over ``unicodedata.normalize`` — the same NFC the
    DuckDB oracle's ``nfc_normalize`` implements, so results are
    engine-exact. Null-safe: None passes through."""
    import unicodedata

    import pandas as pd  # noqa: F401  (type anchor for the udf)
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _norm(s):
        return s.map(
            lambda x: unicodedata.normalize(form, x) if x is not None else None
        )

    return _norm


def char_diversity_profile(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Character-level diversity signals per document: the curation
    filter that catches keyboard-mash, base64 blobs, and single-char
    padding that token-level heuristics miss.

    Emits per doc: ``n_chars``, ``distinct_chars``, ``top_char_ratio``
    (frequency share of the most common char) and ``simpson_index``
    (collision probability Σp², 1 ⇒ one repeated char) — all EXACT
    integer arithmetic until one final IEEE division, so they
    hash-match any engine — plus ``renyi2_bits`` (= −log₂ Σp², the
    collision entropy), the only transcendental, rounded to 6 dp under
    the repo's cosine-rounding policy. Shannon entropy is deliberately
    NOT emitted: it needs a float SUM whose partition order Spark does
    not fix, so it cannot hash-match a second engine.

    Scale shape: positions explode to one row per character — ~300× the
    corpus row count but only (id, 1-char) wide — then collapse through
    TWO map-side-combining aggregates (char counts, then doc profile).
    Everything is codegen column expressions; no UDF, no driver state.
    """
    # empty docs emit NO profile row (matches SQL generate_series(1,0)
    # semantics); without the guard Spark's sequence(1, 0) yields a
    # DESCENDING [1, 0] and an empty doc would score like keyboard-mash
    chars = (
        df.where(F.length(text_col) > 0)
        .select(
            F.col(id_col),
            F.explode(F.sequence(F.lit(1), F.length(text_col))).alias("_i"),
            F.col(text_col).alias("_t"),
        )
        .select(id_col, F.col("_t").substr(F.col("_i"), F.lit(1)).alias("_ch"))
    )
    counts = chars.groupBy(id_col, "_ch").agg(F.count(F.lit(1)).alias("_cnt"))
    prof = counts.groupBy(id_col).agg(
        F.sum("_cnt").alias("n_chars"),
        F.count(F.lit(1)).alias("distinct_chars"),
        F.max("_cnt").alias("_maxc"),
        F.sum(F.col("_cnt") * F.col("_cnt")).alias("_sumsq"),
    )
    simpson = F.col("_sumsq").cast("double") / (
        F.col("n_chars") * F.col("n_chars")
    ).cast("double")
    return prof.select(
        id_col,
        "n_chars",
        "distinct_chars",
        (F.col("_maxc").cast("double") / F.col("n_chars").cast("double")).alias(
            "top_char_ratio"
        ),
        simpson.alias("simpson_index"),
        F.round(-F.log(simpson) / F.lit(math.log(2.0)), 6).alias("renyi2_bits"),
    )


# tiny polarity lexicon over the synthetic corpus vocabulary — the
# lexicon-based scorer of the EDBT'16 Spark sentiment pipeline
# (PAPERS.md); swap the word lists for AFINN/VADER terms on real text
SENTIMENT_LEXICON: dict[str, tuple[str, ...]] = {
    "pos": ("fast", "big", "value"),
    "neg": ("slow", "small", "dup"),
}


def sentiment_score(c: Column | str, ndigits: int = 6) -> Column:
    """Lexicon polarity in [-1, 1]: (pos − neg) / (pos + neg), 0.0 when
    no lexicon token hits. Pure codegen token-filter counts (same HOF
    machinery as stopword_ratio) plus one IEEE division — no UDF, no
    shuffle, deterministic in any engine."""
    pos, neg = sentiment_counts(c)
    hits = pos + neg
    return F.when(
        hits > 0,
        F.round((pos - neg).cast("double") / hits.cast("double"), ndigits),
    ).otherwise(F.lit(0.0))


def sentiment_counts(c: Column | str) -> tuple[Column, Column]:
    """The raw (pos_hits, neg_hits) pair behind :func:`sentiment_score`."""
    toks = tokens(c)
    pos = F.size(F.filter(toks, lambda t: _in_set(t, SENTIMENT_LEXICON["pos"])))
    neg = F.size(F.filter(toks, lambda t: _in_set(t, SENTIMENT_LEXICON["neg"])))
    return pos, neg


# --- Mojibake (encoding-damage) repair -------------------------------------
#
# The dominant real-corpus text defect class: UTF-8 bytes decoded as
# Latin-1/cp1252 once ("é" -> "Ã©", "и" -> "Ð¸") by some upstream
# system, then re-encoded as UTF-8 — so the damage is VISIBLE in the
# string value and repairable string-side. The general repair is
# s.encode('latin-1').decode('utf-8'), which SQL cannot express; over a
# CLOSED alphabet of damaged codepoints, though, the repair is a chain
# of literal replace() calls both Spark codegen and DuckDB evaluate
# identically — so the operator stays JVM-side with zero Python in the
# hot path AND stays oracle-verifiable.
#
# The table is generated, not hand-typed: for each codepoint c in the
# repair alphabet, the damaged form IS c.encode('utf-8')
# .decode('latin-1') — two Latin-1 chars for U+0080..U+07FF. Every
# damaged form is length 2 and starts with a lead byte char
# (Ã, Ð, Ñ, Â, ...) no entry's tail can begin with (tails are in
# U+0080..U+00BF; leads in U+00C2..U+00D1), so no damaged form
# overlaps another INSIDE one pass. A repair OUTPUT can still equal a
# lead, though: 'Ñ' (U+00D1) is both a repaired Latin letter and the
# lead of the Cyrillic U+0440..U+044F damaged forms — so the chain is
# NOT order-independent. Cyrillic entries therefore run FIRST: every
# rule whose lead a later rule's output could forge precedes that
# rule, asserted below against future extensions.

#: Closed repair alphabet: the Cyrillic letters of the fixture's
#: Russian taxonomy labels FIRST (their 'Ñ'-lead damaged forms must be
#: consumed before the Latin 'Ñ' repair can mint new 'Ñ' chars), then
#: Latin-1 supplement accents. Extend by adding codepoints — the
#: damaged forms derive; the order assertion below rejects any
#: extension that would cascade.
MOJIBAKE_ALPHABET = (
    "абвгдежзиклмнопрстуфхцчшщыьэюя"
    "áàâäãéèêëíìîïóòôöõúùûüñçÁÉÍÓÚÑÄÖÜß"
)

MOJIBAKE_REPAIRS: tuple[tuple[str, str], ...] = tuple(
    (c.encode("utf-8").decode("latin-1"), c) for c in MOJIBAKE_ALPHABET
)
# cascade-freedom, asserted against future extensions:
# (1) every damaged form is exactly 2 chars and unique;
# (2) leads and tails are disjoint ranges, so no damaged form overlaps
#     another within a single replace pass;
# (3) no repair output is the LEAD of any LATER rule (a 2->1 repair
#     can only forge a later pattern by becoming its lead — outputs
#     are never tails, checked too), so later passes never match text
#     an earlier pass produced.
assert all(len(bad) == 2 for bad, _ in MOJIBAKE_REPAIRS)
assert len({bad for bad, _ in MOJIBAKE_REPAIRS}) == len(MOJIBAKE_REPAIRS)
_LEADS = {bad[0] for bad, _ in MOJIBAKE_REPAIRS}
_TAILS = {bad[1] for bad, _ in MOJIBAKE_REPAIRS}
assert _LEADS.isdisjoint(_TAILS), "damaged forms would overlap"
assert _TAILS.isdisjoint(
    {good for _, good in MOJIBAKE_REPAIRS}
), "a repair output could forge a later pattern's tail"
assert all(
    good not in {bad2[0] for bad2, _ in MOJIBAKE_REPAIRS[k + 1 :]}
    for k, (_, good) in enumerate(MOJIBAKE_REPAIRS)
), "a repair output would cascade into a later rule's lead"


def fix_mojibake(c: Column | str) -> Column:
    """Repair UTF-8-decoded-as-Latin-1 damage over the closed alphabet:
    one chained ``replace`` per table entry, all inside whole-stage
    codegen. Each repair maps 2 chars -> 1 char, so callers can count
    repairs as ``length(original) - length(repaired)`` with no second
    pass."""
    col = F.col(c) if isinstance(c, str) else c
    for bad, good in MOJIBAKE_REPAIRS:
        col = F.replace(col, F.lit(bad), F.lit(good))
    return col


def mojibake_repair_sql(expr: str) -> str:
    """The same closed repair chain as DuckDB SQL over ``expr`` —
    generated from the SAME table, so operator and oracle cannot
    drift."""
    out = expr
    for bad, good in MOJIBAKE_REPAIRS:
        b = bad.replace("'", "''")
        g = good.replace("'", "''")
        out = f"replace({out}, '{b}', '{g}')"
    return out
