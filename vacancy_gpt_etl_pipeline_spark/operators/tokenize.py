"""Tokenizer-exact BPE encoding — budget training data in real tokens.

Scale extension (north star): the packing/chunking operators budget in
whitespace or BPE-ish regex token counts, but a training pipeline
allocates context-window budget in TOKENIZER tokens. This module
implements exact byte-pair-encoding segmentation (Sennrich ACL'16
apply step) against a ranked merge list, with the classic corpus-scale
trick: encode each DISTINCT word once, then join counts back — cost is
O(vocabulary), never O(corpus tokens).

Exactness argument (why the loop below IS Sennrich's algorithm):
Sennrich's apply_bpe repeatedly merges all occurrences of the
lowest-rank pair present in the word. Merging one leftmost occurrence
at a time of the lowest-rank applicable rule reaches the same final
segmentation, because a merge of pair (x, y) only creates adjacencies
involving the NEW symbol xy — and every rule involving xy was learned
after (x, y), i.e. has a strictly higher rank. No lower-rank rule can
become applicable, so rank-order one-at-a-time == rank-order batch.
This one-merge-per-step formulation is what makes the operator
SQL-oracle-verifiable: a recursive CTE can replay it step for step.

Scale shape: explode → distinct (shuffle bounded by vocabulary size) →
Arrow ``mapInPandas`` encode over the distinct-word frame with the
merge table captured in the closure (a broadcast-sized constant) →
join back on the word string (AQE broadcasts the vocabulary-sized
token table) → one map-side-combinable per-doc aggregate. At 100 TB
the vocabulary is millions of rows while the corpus is billions — the
encode never touches the corpus-sized frame.
"""

from __future__ import annotations

from typing import Iterable, Iterator, Sequence, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vacancy_gpt_etl_pipeline_spark.operators import caching

Merge = Tuple[str, str]

# Ranked merge list (rank = position). Chosen to exercise the shapes a
# learned vocabulary produces over the test corpus: cascaded merges
# ("t a"->"ta", "ta b"->"tab", "tab le"->"table"), merges whose parts
# are themselves merged symbols, a doubled-letter merge ("g g"), and
# rules that only fire mid-word.
DEFAULT_BPE_MERGES: Sequence[Merge] = (
    ("t", "a"),
    ("l", "e"),
    ("ta", "b"),
    ("tab", "le"),
    ("g", "g"),
    ("r", "o"),
    ("s", "c"),
    ("sc", "a"),
    ("e", "r"),
    ("v", "a"),
    ("er", "y"),
)


def _merge_loop(seq: list[str], merges: Sequence[Merge]) -> list[str]:
    """The exact BPE apply step over an arbitrary symbol alphabet:
    repeatedly merge the leftmost occurrence of the lowest-rank
    applicable rule. Shared by the char-level (word-internal) and
    byte-level (hex-symbol) tiers."""
    while True:
        for x, y in merges:
            for i in range(len(seq) - 1):
                if seq[i] == x and seq[i + 1] == y:
                    seq[i : i + 2] = [x + y]
                    break
            else:
                continue
            break
        else:
            return seq


def bpe_segment(word: str, merges: Sequence[Merge]) -> list[str]:
    """Pure-Python exact BPE apply: repeatedly merge the leftmost
    occurrence of the lowest-rank applicable rule. Shared by the Spark
    operator (inside mapInPandas) and the tests' reference replay."""
    return _merge_loop(list(word), merges)


def bpe_token_counts(
    docs: DataFrame,
    merges: Sequence[Merge] = DEFAULT_BPE_MERGES,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document tokenizer-exact counts: one row per input document
    with ``n_words`` (whitespace words) and ``n_tokens`` (exact BPE
    tokens under ``merges``). Documents with no words keep a row with
    zero counts — budget accounting must not silently drop them."""
    merge_list = list(merges)

    # Keep empty-split rows: split() never yields an empty array (empty
    # text -> ['']), so every document retains >= 1 exploded row and the
    # final aggregate covers all docs WITHOUT a second doc-sized join —
    # zero-word docs get their zero row from conditional counting.
    words = docs.select(
        id_col,
        F.explode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), " ")
        ).alias("word"),
    )
    vocab = words.where(F.col("word") != "").select("word").distinct()

    def encode(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "word": pdf["word"],
                    "word_tokens": pdf["word"].map(
                        lambda w: len(bpe_segment(w, merge_list))
                    ),
                }
            )

    tok = vocab.mapInPandas(encode, schema="word string, word_tokens long")
    return (
        words.join(tok, "word", "left")
        .groupBy(id_col)
        .agg(
            F.sum((F.col("word") != "").cast("long"))
            .cast("bigint")
            .alias("n_words"),
            F.sum(F.coalesce("word_tokens", F.lit(0)))
            .cast("bigint")
            .alias("n_tokens"),
        )
    )


#: U+001F unit separator delimits symbol sequences in the SQL replay —
#: chosen over '|' so a corpus word containing a literal pipe cannot
#: corrupt the delimiting (r9 ADVICE). A corpus word containing U+001F
#: itself would still diverge — acceptable, it is a control character
#: no tokenizer vocabulary emits.
_SQL_SEP = "\x1f"


def _merge_cte_sql(
    merges: Sequence[Merge], key_col: str, init_expr: str, tokens_col: str
) -> str:
    """Shared generator for the recursive-CTE encode replay: each
    recursion step performs one merge — the leftmost occurrence of the
    lowest-rank applicable rule, picked by a rank-ordered CASE chain —
    and a row stops recursing when no rule applies. Symbol sequences
    are U+001F-delimited strings, so a rule (x, y) is the literal
    substring SEP+x+SEP+y+SEP and token count is separator-count − 1.
    Emits CTEs ``enc`` and ``tok({key_col}, {tokens_col})`` over the
    caller-provided ``vocab({key_col})``."""
    SEP = _SQL_SEP
    assert all(
        SEP not in x and SEP not in y for x, y in merges
    ), "merge symbols must not contain the U+001F delimiter"

    def pat(x: str, y: str) -> str:
        return f"{SEP}{x}{SEP}{y}{SEP}"

    def rep(x: str, y: str) -> str:
        return f"{SEP}{x}{y}{SEP}"

    cases = "\n      ".join(
        f"WHEN strpos(seq, '{pat(x, y)}') > 0 THEN "
        f"substr(seq, 1, strpos(seq, '{pat(x, y)}') - 1) || '{rep(x, y)}' || "
        f"substr(seq, strpos(seq, '{pat(x, y)}') + {len(pat(x, y))})"
        for x, y in merges
    )
    applicable = " OR ".join(
        f"strpos(seq, '{pat(x, y)}') > 0" for x, y in merges
    )
    return f"""enc AS (
  SELECT {key_col},
    {init_expr} AS seq,
    0 AS step
  FROM vocab
  UNION ALL
  SELECT {key_col},
    CASE
      {cases}
    END AS seq,
    step + 1
  FROM enc
  WHERE {applicable}
),
tok AS (
  SELECT {key_col},
    CAST(length(arg_max(seq, step))
      - length(replace(arg_max(seq, step), '{SEP}', '')) - 1 AS BIGINT)
      AS {tokens_col}
  FROM enc GROUP BY {key_col}
)"""


def bpe_merge_sql(merges: Sequence[Merge] = DEFAULT_BPE_MERGES) -> str:
    """DuckDB CTE fragment replaying the word-internal (char-alphabet)
    encode loop over the distinct-word table ``vocab(word)``; see
    :func:`_merge_cte_sql` for the replay mechanics and the U+001F
    delimiter rationale. Emits CTEs ``enc`` and
    ``tok(word, word_tokens)`` for the caller to join."""
    SEP = _SQL_SEP
    return _merge_cte_sql(
        merges,
        key_col="word",
        init_expr=(
            f"'{SEP}' || regexp_replace(word, '(?s)(.)', '\\1{SEP}', 'g')"
        ),
        tokens_col="word_tokens",
    )


# --- Byte-level BPE tier (GPT-2 family shape) ------------------------------
#
# Production LLM budgets are BYTE-level BPE with regex pre-tokenization
# (Radford et al. 2019 "Language Models are Unsupervised Multitask
# Learners", the GPT-2/cl100k family), not word-internal merges: the
# text is regex-split into pre-tokens (a word optionally CARRIES its
# single preceding space — GPT-2's Ġ), each pre-token is UTF-8 encoded,
# and merges operate over the byte alphabet, so any Unicode input
# tokenizes without an <unk>. This tier implements that algorithm
# exactly, parameterized by a ranked merge list.
#
# Pre-tokenization spec — GPT-2's pattern with the English-specific
# contraction alternatives ('s|'t|...) omitted (documented divergence;
# they are vocabulary-specific, not algorithmic):
#
#     ?\p{L}+ |  ?\p{N}+ |  ?[^\s\p{L}\p{N}]+ | \s+(?!\S) | \s+
#
# Spark evaluates this directly (Java regex supports \p{L} and the
# lookahead) inside codegen via regexp_extract_all — the O(corpus) part
# of the pipeline never leaves the JVM. DuckDB's RE2 has no lookahead,
# so the oracle replays the IDENTICAL semantics in two lookahead-free
# steps (proof in byte_pretokenize's docstring): extract with maximal
# runs, then re-attach trailing spaces with one window pass.
#
# Symbol naming: a byte b is the symbol f"{b:02x}"; a merged symbol is
# the concatenation of its parts' hex. Hex naming (instead of GPT-2's
# bytes_to_unicode printable remap) is an invertible cosmetic choice
# that token COUNTS are invariant to, and it makes the SQL replay's
# initial sequence one expression: hex(encode(pre)) split into pairs.

#: Java-regex form (Spark regexp_extract_all — lookahead + \p{L}).
PRETOKEN_PATTERN_JAVA = (
    r" ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+(?!\S)|\s+"
)

#: RE2 form for the oracle's step 1: same classes, NO space attachment
#: (whitespace stays in maximal runs; attachment is replayed in SQL).
PRETOKEN_PATTERN_RE2 = r"\pL+|\pN+|[^\s\pL\pN]+|\s+"


def _hx(s: str) -> str:
    return s.encode("utf-8").hex()


#: Ranked byte-level merges (rank = position), hex-symbol pairs.
#: Shapes exercised: cascades ("t","h" -> "th","e" -> "the"), merges of
#: merged symbols, the GPT-2 leading-space merge (" "+"the" -> " the",
#: hex 20+746865), a multi-byte UTF-8 merge (d0+b8 = Cyrillic "и" —
#: crosses a codepoint's byte boundary, the case word-level BPE cannot
#: express), digits, and a doubled letter.
DEFAULT_BYTE_MERGES: Sequence[Merge] = tuple(
    (_hx(x), _hx(y))
    for x, y in (
        ("t", "h"),
        ("th", "e"),
        ("i", "n"),
        ("e", "r"),
        ("a", "n"),
        ("an", "d"),
        (" ", "the"),
        (" ", "a"),
        (" a", "nd"),
        ("o", "r"),
        ("s", "t"),
        ("l", "l"),
        ("1", "9"),
    )
) + (
    # UTF-8 'и' (U+0438 = 0xd0 0xb8): merges ACROSS a codepoint's byte
    # boundary — the case word-level BPE cannot express. Raw hex-byte
    # symbols, deliberately NOT through _hx.
    ("d0", "b8"),
    (_hx(" "), _hx("in")),
)


#: Opening of the PUBLISHED GPT-2 merge table (Radford et al. 2019,
#: openai/gpt-2 ``vocab.bpe``), in the published bytes-to-unicode
#: alphabet ('Ġ' = the 0x20 space byte). Transcribed offline and
#: limited to the first 50 merges — the prefix whose every rank is
#: independently verifiable through the public token-id arithmetic
#: ``token_id = 256 + rank`` (" the" = 262 = rank 6, " and" = 290 =
#: rank 34, "ing" = 278 = rank 22, …); tests/test_gpt2_fidelity.py
#: pins the engine's segmentation to the published bpe() algorithm on
#: this table and re-learns an ordered subsequence of it.
GPT2_MERGES_PREFIX: tuple[tuple[str, str], ...] = (
    ("Ġ", "t"), ("Ġ", "a"), ("h", "e"), ("i", "n"), ("r", "e"),
    ("o", "n"), ("Ġt", "he"), ("e", "r"), ("Ġ", "s"), ("a", "t"),
    ("Ġ", "w"), ("Ġ", "o"), ("e", "n"), ("Ġ", "c"), ("i", "t"),
    ("i", "s"), ("a", "n"), ("o", "r"), ("e", "s"), ("Ġ", "b"),
    ("e", "d"), ("Ġ", "f"), ("in", "g"), ("Ġ", "p"), ("o", "u"),
    ("Ġa", "n"), ("a", "l"), ("a", "r"), ("Ġt", "o"), ("Ġ", "m"),
    ("Ġo", "f"), ("Ġ", "in"), ("Ġ", "d"), ("Ġ", "h"), ("Ġan", "d"),
    ("i", "c"), ("a", "s"), ("l", "e"), ("Ġt", "h"), ("i", "on"),
    ("o", "m"), ("l", "l"), ("en", "t"), ("Ġ", "n"), ("Ġ", "l"),
    ("s", "t"), ("Ġ", "re"), ("v", "e"), ("Ġ", "e"), ("r", "o"),
)


def _gpt2_component_to_hex(component: str) -> str:
    """Inverse of the published bytes_to_unicode bijection, restricted
    to this prefix's alphabet (printable ASCII identity; 'Ġ' ↔ 0x20),
    rendered as the byte tier's hex-symbol name."""
    out = []
    for c in component:
        b = 0x20 if c == "Ġ" else ord(c)
        assert c == "Ġ" or 0x21 <= b <= 0x7E, component
        out.append(f"{b:02x}")
    return "".join(out)


#: The same published prefix in the byte tier's hex-symbol space —
#: directly consumable by :func:`byte_bpe_segment` /
#: :func:`bpe_bytelevel_counts` / :func:`byte_bpe_merge_sql`.
GPT2_BYTE_MERGES_PREFIX: tuple[tuple[str, str], ...] = tuple(
    (_gpt2_component_to_hex(x), _gpt2_component_to_hex(y))
    for x, y in GPT2_MERGES_PREFIX
)


def byte_bpe_segment(
    pretoken: str, merges: Sequence[Merge] = DEFAULT_BYTE_MERGES
) -> list[str]:
    """Exact byte-level BPE apply over one pre-token: UTF-8 encode,
    name each byte by its 2-digit hex, run the shared rank-ordered
    merge loop. Returns the merged hex-symbol sequence (token count =
    its length)."""
    return _merge_loop(
        [f"{b:02x}" for b in pretoken.encode("utf-8")], merges
    )


def byte_pretokenize(text: str) -> list[str]:
    """Independent pure-Python reference for the pre-tokenization spec
    (used by tests; Spark uses the Java regex, the oracle the RE2
    two-step). Implements the spec directly with a character scanner —
    no regex engine — so all three implementations are mutually
    independent.

    Lookahead-elimination argument (why the RE2 two-step in the oracle
    equals the Java pattern): the lookahead only affects where a
    maximal whitespace run W splits. Scanning the Java pattern by hand:
    W followed by end-of-text emits W whole. W followed by a non-space
    token T: if W ends with a literal space ' ' (the only character
    ` ?` matches), `\\s+(?!\\S)` backtracks to W[:-1] (one token, empty
    if |W|=1) and T absorbs the final space; otherwise `\\s+(?!\\S)`
    still backtracks to W[:-1] but the final (non-space) whitespace
    character fails ` ?`, so it is emitted alone and T is unprefixed.
    Those three cases are exactly what the oracle's window pass
    replays over RE2's maximal-run extraction.

    Whitespace boundary: Java's default ``\\s`` and RE2's ``\\s`` are
    ASCII-only — Unicode whitespace like U+00A0/U+2028 classifies as
    punctuation via ``[^\\s\\p{L}\\p{N}]`` in BOTH production engines —
    so this reference uses the same ASCII set, not str.isspace()
    (which would diverge on NBSP while Spark and the oracle still
    agree). U+000B is the one residual engine edge: Java's ``\\s``
    includes it, RE2's excludes it; the corpus fixtures contain no
    vertical tabs, and this reference follows Java."""

    def is_ws(c: str) -> bool:
        return c in " \t\n\x0b\f\r"

    out: list[str] = []
    i, n = 0, len(text)
    while i < n:
        c = text[i]
        if is_ws(c):
            j = i
            while j < n and is_ws(text[j]):
                j += 1
            run = text[i:j]
            if j >= n:
                out.append(run)  # trailing run, whole
            elif run[-1] == " ":
                if len(run) > 1:
                    out.append(run[:-1])
                out.append(" " + _take_class_run(text, j))
                j += len(out[-1]) - 1
            else:
                if len(run) > 1:
                    out.append(run[:-1])
                out.append(run[-1])
            i = j
        else:
            tok = _take_class_run(text, i)
            out.append(tok)
            i += len(tok)
    return out


def _take_class_run(text: str, i: int) -> str:
    """The maximal same-class (letter / number / other) run at i.
    Run termination uses the same ASCII whitespace set as
    :func:`byte_pretokenize` — Unicode whitespace (NBSP, U+2028) is
    NOT ``\\s`` to Java/RE2, so it belongs to (and extends) the
    punctuation class run."""
    import unicodedata

    def k(c: str) -> str:
        cat = unicodedata.category(c)
        if cat.startswith("L"):
            return "L"
        if cat.startswith("N"):
            return "N"
        return "P"

    kind = k(text[i])
    j = i + 1
    while (
        j < len(text)
        and text[j] not in " \t\n\x0b\f\r"
        and k(text[j]) == kind
    ):
        j += 1
    return text[i:j]


def bpe_bytelevel_counts(
    docs: DataFrame,
    merges: Sequence[Merge] = DEFAULT_BYTE_MERGES,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document BYTE-level tokenizer-exact counts: one row per
    input document with ``n_pretokens`` (regex pre-tokens, spaces
    attached GPT-2-style) and ``n_tokens`` (exact byte-level BPE tokens
    under ``merges``). Same scale shape as :func:`bpe_token_counts`:
    pre-tokenization runs JVM-side in codegen (regexp_extract_all),
    the merge loop runs ONCE per distinct pre-token (O(vocabulary),
    never O(corpus tokens)) in an Arrow ``mapInPandas``, counts join
    back (AQE broadcasts the vocabulary-sized frame), and one map-side
    combinable aggregate produces per-doc totals. ``explode_outer``
    keeps a null row for pre-token-free documents so they keep a zero
    row without a second doc-sized join."""
    merge_list = list(merges)

    pres = docs.select(
        id_col,
        F.explode_outer(
            F.regexp_extract_all(
                F.coalesce(F.col(text_col), F.lit("")),
                F.lit(PRETOKEN_PATTERN_JAVA),
                0,
            )
        ).alias("pre"),
    )
    vocab = pres.where(F.col("pre").isNotNull()).select("pre").distinct()

    def encode(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "pre": pdf["pre"],
                    "pre_tokens": pdf["pre"].map(
                        lambda p: len(byte_bpe_segment(p, merge_list))
                    ),
                }
            )

    tok = vocab.mapInPandas(encode, schema="pre string, pre_tokens long")
    return (
        pres.join(tok, "pre", "left")
        .groupBy(id_col)
        .agg(
            F.sum(F.col("pre").isNotNull().cast("long"))
            .cast("bigint")
            .alias("n_pretokens"),
            F.sum(F.coalesce("pre_tokens", F.lit(0)))
            .cast("bigint")
            .alias("n_tokens"),
        )
    )


def byte_bpe_merge_sql(
    merges: Sequence[Merge] = DEFAULT_BYTE_MERGES,
) -> str:
    """DuckDB CTE fragment replaying the byte-level encode loop over
    the distinct-pre-token table ``vocab(pre)``: the initial symbol
    sequence is ``hex(encode(pre))`` split into 2-char (one-byte)
    symbols, then the shared rank-ordered merge replay. Emits CTEs
    ``enc`` and ``tok(pre, pre_tokens)``."""
    SEP = _SQL_SEP
    return _merge_cte_sql(
        merges,
        key_col="pre",
        init_expr=(
            f"'{SEP}' || regexp_replace(lower(hex(encode(pre))), "
            f"'(..)', '\\1{SEP}', 'g')"
        ),
        tokens_col="pre_tokens",
    )


def byte_pretokenize_sql(text_source: str = "documents") -> str:
    """DuckDB CTE chain computing GPT-2-style pre-tokens WITHOUT regex
    lookahead (RE2 has none): step 1 extracts maximal-run tokens with
    :data:`PRETOKEN_PATTERN_RE2`; step 2 replays the space attachment
    with one window pass (the three whitespace cases proved equivalent
    in byte_pretokenize's docstring). Emits ``pretok(doc_id, pre)``;
    pre-token-free documents simply have no rows (callers LEFT JOIN
    back to the doc table for zero rows)."""
    return f"""arr AS (
  SELECT doc_id,
    regexp_extract_all(coalesce(text, ''), '{PRETOKEN_PATTERN_RE2}') AS a
  FROM {text_source}
),
tk AS (
  SELECT doc_id, unnest(a) AS tok, generate_subscripts(a, 1) AS i
  FROM arr
),
adj AS (
  SELECT doc_id, i, tok,
    lead(tok) OVER (PARTITION BY doc_id ORDER BY i) AS nxt,
    lag(tok)  OVER (PARTITION BY doc_id ORDER BY i) AS prv
  FROM tk
),
pieces AS (
  SELECT doc_id,
    CASE
      WHEN regexp_matches(tok, '^\\s+$') THEN
        CASE
          WHEN nxt IS NULL THEN [tok]
          WHEN substr(tok, length(tok), 1) = ' ' THEN
            CASE WHEN length(tok) > 1
                 THEN [substr(tok, 1, length(tok) - 1)]
                 ELSE CAST([] AS VARCHAR[]) END
          ELSE
            CASE WHEN length(tok) > 1
                 THEN [substr(tok, 1, length(tok) - 1),
                       substr(tok, length(tok), 1)]
                 ELSE [tok] END
        END
      ELSE
        [CASE WHEN prv IS NOT NULL
                   AND regexp_matches(prv, '^\\s+$')
                   AND substr(prv, length(prv), 1) = ' '
              THEN ' ' || tok ELSE tok END]
    END AS outs
  FROM adj
),
pretok AS (
  SELECT doc_id, unnest(outs) AS pre FROM pieces
)"""


# --- BPE merge LEARNING (Sennrich ACL'16, the full loop) --------------------
#
# `bpe_pair_counts` (queries.py) is step 1 of the learn loop; this is
# the whole loop: iterate (pair count over the segmented vocabulary →
# arg-max pair with a deterministic tie-break → merge every left-to-
# right non-overlapping occurrence → recount) for n_merges rounds,
# emitting the ranked merge list that the encode tier
# (`bpe_token_counts` / `bpe_bytelevel_counts`) then consumes — the
# train → encode → pack chain end to end.
#
# Tie-break spec (both engines + the tests' independent reference):
# highest pair_count, then lexicographically smallest (left, right) —
# UTF-8 byte order, which equals code-point order, so Spark's UTF8
# binary comparison, DuckDB's default VARCHAR collation, and Python
# `str` ordering all agree. (Sennrich's reference leaves ties to dict
# order; a distributed engine needs them pinned.)
#
# State representation: each word's segmentation is one string with
# every symbol wrapped in its own U+001F pair ("ab" → ⟂a⟂⟂b⟂). A merge
# of (x, y) is then the literal replace ⟂x⟂⟂y⟂ → ⟂xy⟂, and a plain
# left-to-right replace() scan gives EXACTLY the non-overlapping
# all-occurrences semantics of Sennrich's merge step — including the
# x == y case ("⟂g⟂⟂g⟂⟂g⟂" merges once, the survivor stays single —
# the case the ENCODE tier's single-separator form would get wrong,
# because consecutive occurrences there share a separator char and the
# scan pointer consumes it). Both engines' replace() are this scan, so
# the Spark operator and the DuckDB oracle replay the identical
# recurrence over the identical strings.
#
# Scale shape: the iteration state is the segmented DISTINCT-word
# frequency frame, cached once — vocabulary-sized, never corpus-sized.
# Each round is one map-side-combinable aggregate over that frame plus
# a ONE-ROW collect (the arg-max pair — O(n_merges) driver state, the
# same cluster-width-independent scalar pattern as pagerank's
# convergence check). Round r's frame is the cached base plus r chained
# codegen replaces — no growing cache chain, no lineage blowup.


def bpe_learn_merges(
    docs: DataFrame,
    n_merges: int = 16,
    text_col: str = "text",
) -> list[tuple[str, str, int]]:
    """Learn ``n_merges`` BPE merges from the corpus (Sennrich ACL'16
    learn loop over the distinct-word frequency table). Returns the
    ranked merge list as ``(left, right, pair_count)`` tuples; stops
    early only if the vocabulary is fully merged. Words containing the
    U+001F state delimiter are excluded (same boundary as the encode
    tier — no tokenizer corpus contains that control char)."""
    SEP = _SQL_SEP
    words = docs.select(
        F.explode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), " ")
        ).alias("word")
    ).where((F.col("word") != "") & ~F.col("word").contains(SEP))
    wf = words.groupBy("word").agg(
        F.count(F.lit(1)).cast("bigint").alias("freq")
    )
    merges: list[tuple[str, str, int]] = []
    with caching.CacheScope(docs.sparkSession):
        cur = caching.persist(
            wf.select(
                F.expr(
                    "array_join(transform(sequence(1, length(word)), "
                    f"i -> concat('{SEP}', substring(word, i, 1), '{SEP}')), '')"
                ).alias("seq"),
                "freq",
            )
        )
        for _ in range(n_merges):
            best = (
                _pair_frame(cur)
                .groupBy("x", "y")
                .agg(F.sum("freq").cast("bigint").alias("pair_count"))
                .orderBy(F.desc("pair_count"), "x", "y")
                .limit(1)
                .collect()
            )
            if not best:
                break  # vocabulary fully merged
            x, y, cnt = best[0][0], best[0][1], int(best[0][2])
            merges.append((x, y, cnt))
            cur = cur.withColumn(
                "seq",
                F.replace(
                    "seq",
                    F.lit(f"{SEP}{x}{SEP}{SEP}{y}{SEP}"),
                    F.lit(f"{SEP}{x}{y}{SEP}"),
                ),
            )
    return merges


def _pair_frame(frame: DataFrame, sign: int = 1) -> DataFrame:
    """Adjacent-pair multiset of a wrapped-symbol ``(seq, freq)`` frame
    as ``(x, y, freq)`` rows, with ``freq`` multiplied by ``sign`` (the
    delta trainer subtracts a rewritten word's old pairs by emitting
    them at ``sign=-1``)."""
    SEP = _SQL_SEP
    syms = F.split(
        F.col("seq").substr(F.lit(2), F.length("seq") - 2), SEP + SEP
    )
    return (
        frame.select((F.col("freq") * sign).alias("freq"), syms.alias("s"))
        .where(F.size("s") >= 2)
        .select(
            "freq",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(s) - 1), "
                    "i -> struct(s[i-1] AS x, s[i] AS y))"
                )
            ).alias("p"),
        )
        .select(F.col("p.x").alias("x"), F.col("p.y").alias("y"), "freq")
    )


def bpe_learn_merges_incremental(
    docs: DataFrame,
    n_merges: int = 16,
    text_col: str = "text",
    checkpoint_every: int = 8,
) -> list[tuple[str, str, int]]:
    """:func:`bpe_learn_merges` with INCREMENTAL pair-count
    maintenance — the shape that reaches a production 50k-merge
    vocabulary. The baseline trainer recomputes the full pair count
    from the vocabulary frame every round (O(n_merges × vocab ×
    avg_len) total) and chains one ``replace()`` projection per merge
    with no checkpoint (O(n_merges²) lineage growth). This variant
    keeps a persistent ``pairs(x, y, pair_count)`` table and applies
    each merge's DELTA instead of recounting: only words containing
    the merged pair contribute, their pair multiset is diffed
    before/after the rewrite (exact under any overlap/adjacency — the
    diff is of actual sequences, not a formula), and the table is
    folded with one bounded union-aggregate. ``localCheckpoint``
    truncates lineage: eagerly on the (vocabulary-pair-sized) table
    every round, on the segment frame every ``checkpoint_every``
    rounds — per-round cost is flat in rounds-so-far (attested in
    BENCH_SCALE.json).

    Same contract, tie-break (count desc, then lexicographic pair) and
    U+001F exclusion boundary as :func:`bpe_learn_merges`; pytest
    asserts identical merge lists on random corpora.

    Block hygiene: ``DataFrame.unpersist()`` does not free
    localCheckpoint storage (it goes through the relation cache, not
    the RDD block store), so a naive checkpoint-per-round loop
    accumulates one cached RDD per round and per-round cost creeps
    linearly with block-manager pressure (measured +0.1 s/round per
    16 rounds). The loop therefore runs in its own ``CacheScope``
    region: each round hands the PREVIOUS round's checkpoint to
    ``region.free``, and the region frees the live ones when the loop
    ends or fails."""
    SEP = _SQL_SEP
    words = docs.select(
        F.explode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), " ")
        ).alias("word")
    ).where((F.col("word") != "") & ~F.col("word").contains(SEP))
    wf = words.groupBy("word").agg(
        F.count(F.lit(1)).cast("bigint").alias("freq")
    )
    merges: list[tuple[str, str, int]] = []
    with caching.CacheScope(docs.sparkSession) as region:
        seg = seg_ckpt = caching.checkpoint(
            wf.select(
                F.expr(
                    "array_join(transform(sequence(1, length(word)), i -> "
                    f"concat('{SEP}', substring(word, i, 1), '{SEP}')), '')"
                ).alias("seq"),
                "freq",
            )
        )
        pairs = caching.checkpoint(
            _pair_frame(seg)
            .groupBy("x", "y")
            .agg(F.sum("freq").cast("bigint").alias("pair_count"))
        )
        for r in range(n_merges):
            best = (
                pairs.orderBy(F.desc("pair_count"), "x", "y")
                .limit(1)
                .collect()
            )
            if not best:
                break  # vocabulary fully merged
            x, y, cnt = best[0][0], best[0][1], int(best[0][2])
            merges.append((x, y, cnt))
            pat = f"{SEP}{x}{SEP}{SEP}{y}{SEP}"
            rep = f"{SEP}{x}{y}{SEP}"
            affected = seg.where(F.col("seq").contains(pat))
            rewritten = affected.withColumn(
                "seq", F.replace("seq", F.lit(pat), F.lit(rep))
            )
            delta = _pair_frame(rewritten).unionByName(
                _pair_frame(affected, sign=-1)
            )
            old_pairs, pairs = pairs, caching.checkpoint(
                pairs.select("x", "y", F.col("pair_count").alias("freq"))
                .unionByName(delta)
                .groupBy("x", "y")
                .agg(F.sum("freq").cast("bigint").alias("pair_count"))
                .where(F.col("pair_count") > 0)
            )
            region.free(old_pairs)
            seg = seg.withColumn(
                "seq", F.replace("seq", F.lit(pat), F.lit(rep))
            )
            if (r + 1) % checkpoint_every == 0:
                seg = caching.checkpoint(seg)
                region.free(seg_ckpt)
                seg_ckpt = seg
    return merges


def bpe_train_sql(
    n_merges: int = 16, text_source: str = "documents"
) -> str:
    """DuckDB CTE fragment replaying the learn loop round for round:
    the n_merges iterations unroll into a chain seg0 → b0 → seg1 → …
    (the pagerank-style unrolled-recurrence oracle pattern). Each b{r}
    is the round's arg-max pair under the pinned tie-break; each
    seg{r+1} applies it with the same wrapped-symbol replace() the
    Spark operator uses. Emits CTEs ending in
    ``learned(rank, left_sym, right_sym, pair_count)``."""
    SEP = _SQL_SEP
    parts = [
        f"""words AS (
  SELECT u.w AS word FROM {text_source}, UNNEST(string_split(text, ' ')) AS u(w)
  WHERE u.w != '' AND strpos(u.w, '{SEP}') = 0
),
wf AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM words GROUP BY word),
seg0 AS MATERIALIZED (
  SELECT regexp_replace(word, '(?s)(.)', '{SEP}\\1{SEP}', 'g') AS seq, freq
  FROM wf
)"""
    ]
    for r in range(n_merges):
        parts.append(
            f"""p{r} AS MATERIALIZED (
  SELECT freq,
    list_extract(syms, CAST(u.i AS INT)) AS x,
    list_extract(syms, CAST(u.i AS INT) + 1) AS y
  FROM (
    SELECT freq,
      string_split(substr(seq, 2, length(seq) - 2), '{SEP}{SEP}') AS syms
    FROM seg{r}
  ), UNNEST(range(1, len(syms))) AS u(i)
  WHERE len(syms) >= 2
),
b{r} AS MATERIALIZED (
  SELECT {r} AS rank, x, y, CAST(SUM(freq) AS BIGINT) AS pair_count
  FROM p{r} GROUP BY x, y
  ORDER BY pair_count DESC, x, y LIMIT 1
),
seg{r + 1} AS MATERIALIZED (
  SELECT replace(s.seq,
                 '{SEP}' || b.x || '{SEP}{SEP}' || b.y || '{SEP}',
                 '{SEP}' || b.x || b.y || '{SEP}') AS seq,
         s.freq
  FROM seg{r} s CROSS JOIN b{r} b
)"""
        )
    union = "\n  UNION ALL ".join(
        f"SELECT rank, x AS left_sym, y AS right_sym, pair_count FROM b{r}"
        for r in range(n_merges)
    )
    parts.append(f"learned AS (\n  {union}\n)")
    return ",\n".join(parts)


def learned_merge_encode_sql() -> str:
    """DuckDB recursive-CTE fragment for the DATA-DRIVEN encode: the
    same one-merge-per-step replay as :func:`bpe_merge_sql`, but the
    rule table is the ``learned`` CTE (from :func:`bpe_train_sql`)
    instead of a compile-time CASE chain. Each step picks the
    lowest-rank applicable rule via join + anti-join (applicable m1
    with NO lower-ranked applicable m2 — ranks are unique, so exactly
    one m1 survives per word) and rewrites the leftmost occurrence; a
    word with no applicable rule stops recursing. The join formulation
    is deliberate: DuckDB 1.0 evaluates a CORRELATED subquery over a
    CTE that is itself built from a materialized chain as empty inside
    a recursive term (verified empirically), while plain joins
    resolve correctly. Requires CTEs ``vocab(word)`` and
    ``learned(rank, left_sym, right_sym, …)``; emits ``enc`` and
    ``tok(word, word_tokens)``. Single-separator sequences are sound
    here (unlike the learn step) because exactly one occurrence is
    rewritten per recursion step."""
    SEP = _SQL_SEP
    pat = f"'{SEP}' || m1.left_sym || '{SEP}' || m1.right_sym || '{SEP}'"
    pat2 = f"'{SEP}' || m2.left_sym || '{SEP}' || m2.right_sym || '{SEP}'"
    return f"""enc AS (
  SELECT word,
    '{SEP}' || regexp_replace(word, '(?s)(.)', '\\1{SEP}', 'g') AS seq,
    0 AS step
  FROM vocab
  UNION ALL
  SELECT e.word,
    substr(e.seq, 1, strpos(e.seq, {pat}) - 1)
      || '{SEP}' || m1.left_sym || m1.right_sym || '{SEP}'
      || substr(e.seq, strpos(e.seq, {pat}) + length({pat})) AS seq,
    e.step + 1
  FROM enc e
  JOIN learned m1 ON strpos(e.seq, {pat}) > 0
  LEFT JOIN learned m2
    ON m2.rank < m1.rank AND strpos(e.seq, {pat2}) > 0
  WHERE m2.rank IS NULL
),
tok AS (
  SELECT word,
    CAST(length(arg_max(seq, step))
      - length(replace(arg_max(seq, step), '{SEP}', '')) - 1 AS BIGINT)
      AS word_tokens
  FROM enc GROUP BY word
)"""
