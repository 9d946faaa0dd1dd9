"""Deduplication operators — exact (reference parity) and near-dup (scale
extensions for LLM-training-data pipelines).

Reference parity (SURVEY.md §2.4):
- A1 full-row distinct : dag/vacancy_pipline_gpt_rerty.py:117-122 (drop_duplicates)
- A2 keyed distinct    : :125 (drop_duplicates(subset=['id']), keep-first)

Scale extensions (north star): exact text dedup by content hash, MinHash+LSH
near-dup, SimHash near-dup, n-gram Jaccard pair scoring. All are pure
DataFrame compositions — shingle/signature/band steps stay JVM-side
(higher-order array functions + md5), so the only shuffles are the
band-bucket groupBys, which is the canonical LSH-at-scale layout: candidate
generation cost is O(rows × bands), never O(rows²).

Every near-dup operator here (and in phash.py, fuzzy.py and the streaming
text gate) makes candidates by ONE rule: hash rows into buckets, drop the
buckets holding more than a cap (``relational.cap_buckets``), self-join
each bucket on ``id_a < id_b`` (``relational.bucket_pairs``), then score
the pairs. The operators differ only in the bucket key and the score.

The word-level rules they share live in ``functions/text.py``: what a word
is (``tokens``), what a word n-gram is (``gram_starts``/``gram_at``) and
what a content key is (``fingerprint``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vacancy_gpt_etl_pipeline_spark.functions.text import (
    fingerprint,
    gram_at,
    gram_starts,
    tokens,
)
from vacancy_gpt_etl_pipeline_spark.operators import caching
from vacancy_gpt_etl_pipeline_spark.operators.relational import (
    bucket_pairs,
    cap_buckets,
    top_k_per_group,
)


def dedup_exact(df: DataFrame, subset: list[str] | None = None) -> DataFrame:
    """A1/A2: distinct rows (or by key subset). Survivor is arbitrary — use
    :func:`~vacancy_gpt_etl_pipeline_spark.operators.relational.top_k_per_group`
    (k = 1) when the reference's keep-first order matters."""
    return df.dropDuplicates(subset) if subset else df.dropDuplicates()


def dedup_exact_text(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact content dedup by hash-groupBy: one survivor (min id) per
    content key (``functions.text.fingerprint``). At 100 TB: shuffles 1
    hash + 1 id per row, never the text payload; the canonical first pass
    before any near-dup stage."""
    return (
        df.select(fingerprint(text_col).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("survivor_id"), F.count("*").alias("dup_count"))
    )


def _shingled(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """``(_id, _sh)`` frame of distinct word n-gram shingles (JVM-side only:
    split + higher-order transform; no Python), persisted.

    Expression-economy notes (both measured 13× at sf0.1):
    - The token array materializes as a REAL column first and the gram
      transform references it; inlining the ``split()`` expression inside
      the lambda makes codegen re-evaluate the regex split per
      ``element_at``.
    - Short docs are filtered on ``size(_toks) >= n`` BEFORE the gram
      projection. Filtering on ``size(_sh)`` after would collapse the
      filter into the projection and inline the whole shingle expression
      into the predicate — evaluating it twice per row with the split
      re-expanded.

    Persisted: callers reuse this frame across joins/explodes, and an
    UNPERSISTED explode re-evaluates the inline array expression per
    emitted element (measured ~16× at sf0.1; 70 s vs 2 s for the
    contamination audit). The cache is one string array per doc, freed by
    the caller's CacheScope region (the streaming text gate's micro-batch
    is one).
    """
    toks = df.select(
        F.col(id_col).alias("_id"), tokens(text_col).alias("_toks")
    ).where(F.size("_toks") >= n)  # collapses to a second split eval — cheap
    grams = F.transform(gram_starts("_toks", n), lambda i: gram_at("_toks", i, n))
    return caching.persist(toks.select("_id", F.array_distinct(grams).alias("_sh")))


# The one hash family of MinHash and SimHash: every shingle hash derives
# from md5, which DuckDB computes identically, so the oracles mirror the
# operators value for value.
# MinHash: (a·base + b) mod P over a 28-bit md5-derived base.
# P = 2^31-1 (Mersenne); a < P, base < 2^28 → a·base + b < 2^59, exact in
# int64 in every engine. Coefficients are seeded so Spark and the SQL
# oracle embed the SAME literals.
PORTABLE_PRIME = 2147483647


def portable_affine_coeffs(n: int) -> list[tuple[int, int]]:
    import random

    rng = random.Random(0x5EED)
    return [
        (rng.randrange(1, PORTABLE_PRIME), rng.randrange(PORTABLE_PRIME))
        for _ in range(n)
    ]


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    jaccard_threshold: float = 0.5,
    max_bucket: int | None = 64,
) -> DataFrame:
    """MinHash + banded LSH near-duplicate pairs, verified by exact Jaccard.

    Pipeline (all built-in):
      shingle → ``num_hashes`` minhashes → hash each of ``bands``
      signature bands → explode to (id, band, band_hash) — ids and hashes
      ONLY, the shingle arrays never enter the shuffle — → cap the buckets
      at ``max_bucket`` (a 16-rows/band collision across that many docs
      means a degenerate template, not near-duplicates) → self-join per
      bucket → candidate (id_a, id_b) pairs → exact-Jaccard verification,
      joining the shingle sets back by id for candidates only.

    Hash family: ONE md5 per shingle yields a 28-bit base integer (7 hex
    chars — keeps every product below 2^59, overflow-free in any int64
    engine), and the ``num_hashes`` permutations are affine transforms
    ``(a_i·base + b_i) mod 2^31-1`` with fixed seeded coefficients — the
    classical universal-hash family, mirrored symbol-for-symbol by the
    ``dedup_minhash_lsh`` DuckDB oracle. Each band hashes to the md5 of its
    ``|``-joined minhashes.

    Scale shape: the band explode shuffles O(rows × bands) fixed-width
    tuples; the verify joins shuffle shingles only for candidate ids
    (≈ true near-dups), never for the whole corpus.
    """
    rows_per_band = num_hashes // bands
    # already persisted by _shingled: feeds the signature lineage AND the
    # two verify joins (Spark's MinHashLSH persists for the same reason)
    shingled = _shingled(df, text_col, id_col, shingle_n)

    # Signature via explode → num_hashes MIN aggregates, NOT higher-order
    # array_min(transform(...)) columns: HOFs are codegen-unsupported, so
    # 64 of them cost 64 interpreted passes over every shingle array
    # (measured 61.6 s at sf0.1). The exploded form is one
    # whole-stage-codegen pass computing 64 hashes per shingle into
    # 64 partial-min accumulators; the shuffle carries one 64-long row per
    # doc (map-side combine), never the shingles. Same values either way:
    # min over identical per-shingle hashes.
    coeffs = portable_affine_coeffs(num_hashes)
    # _base as a real column: the num_hashes references keep
    # CollapseProject from inlining the md5 into every affine term
    ex = shingled.select("_id", F.explode("_sh").alias("_s")).withColumn(
        "_base",
        F.expr("CAST(conv(substring(md5(_s), 1, 7), 16, 10) AS BIGINT)"),
    )
    sig = ex.groupBy("_id").agg(
        *[
            F.min(F.expr(f"({a}L * _base + {b}L) % {PORTABLE_PRIME}")).alias(f"_h{i}")
            for i, (a, b) in enumerate(coeffs)
        ]
    )
    band_cols = [
        F.md5(
            F.concat_ws(
                "|",
                *[
                    F.col(f"_h{b * rows_per_band + r}").cast("string")
                    for r in range(rows_per_band)
                ],
            )
        ).alias(f"_b{b}")
        for b in range(bands)
    ]
    banded = sig.select("_id", F.posexplode(F.array(*band_cols)).alias("_band", "_bh"))
    buckets = ["_band", "_bh"]
    # persisted: both sides of the bucket self-join read this frame — fixed
    # width (id, band, hash), so the cache is O(rows × bands) small
    banded = caching.persist(cap_buckets(banded, buckets, max_bucket))
    cand = bucket_pairs(banded, buckets, "_id").dropDuplicates(["id_a", "id_b"])
    sha = shingled.select(F.col("_id").alias("id_a"), F.col("_sh").alias("_sha"))
    shb = shingled.select(F.col("_id").alias("id_b"), F.col("_sh").alias("_shb"))
    inter = F.size(F.array_intersect("_sha", "_shb")).cast("double")
    union = F.size(F.array_union("_sha", "_shb")).cast("double")
    return (
        cand.join(sha, "id_a")
        .join(shb, "id_b")
        .withColumn("jaccard", F.round(inter / union, 6))
        .where(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 7,
    n_tables: int = 8,
    max_bucket: int | None = 128,
    feature_n: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs: 64-bit signature = sign(Σ feature weight
    vectors), candidate join on ``n_tables`` sub-fingerprint blocks, verified
    by exact hamming distance ≤ ``max_hamming``.

    Features are distinct word ``feature_n``-grams, NOT unigrams: on
    template-like corpora (small vocabulary, long docs) every doc contains
    nearly every vocabulary word, so unigram signatures collapse onto a few
    values and the candidate join degenerates to a pair bomb; shingles keep
    the feature space large enough that only genuinely similar docs collide.

    Pigeonhole guarantee: a pair differing in ≤ ``n_tables - 1`` bits shares
    at least one unchanged block, so candidate recall is total for
    ``max_hamming ≤ n_tables - 1``; the constructor enforces this. Defaults
    (8 tables of 8 bits → hamming ≤ 7) suit short documents, where even a
    one-token edit flips 3-5 signature bits (each changed shingle shifts
    every bit's majority vote, and short docs have small vote margins).
    For billion-doc corpora of LONG documents prefer Manku-style
    ``n_tables=4, max_hamming=3``: 16-bit blocks collide 256× less often
    for unrelated docs, shrinking the candidate join.

    ``max_bucket`` caps each (table, block) bucket, e.g. the all-zeros
    block every short doc shares.

    Hash family (see :func:`minhash_near_duplicates`): a feature's 64-bit
    word is the first 16 hex digits of its md5, read as two 32-bit halves
    (one 64-bit ``conv`` would overflow bigint). The ``dedup_simhash``
    DuckDB oracle votes per hex digit and renders the signature as a hex
    string; its 2-digit block ``t`` is byte ``7 - t`` of this signature,
    so the two differ only in table labels, never in buckets, candidates
    or hamming values."""
    if max_hamming > n_tables - 1:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the pigeonhole recall bound "
            f"n_tables-1={n_tables - 1}; raise n_tables instead"
        )
    shingled = _shingled(df, text_col, id_col, feature_n)
    half = lambda pos: (  # noqa: E731
        F.conv(F.substring("_m", pos, 8), 16, 10).cast("bigint")
    )
    ex = (
        shingled.select("_id", F.explode("_sh").alias("_s"))
        .select("_id", F.md5("_s").alias("_m"))
        .select("_id", F.shiftleft(half(1), 32).bitwiseOR(half(9)).alias("_h"))
    )
    # Bit votes via explode → 64 conditional-SUM aggregates, NOT 64
    # higher-order filter() passes over the hash array: HOFs run
    # interpreted, and 64 of them over every doc's shingle array measured
    # 118.9 s end-to-end at sf0.1. Exploded, this is one codegen pass
    # extracting 64 bits per feature word into 64 partial sums; the
    # shuffle carries one 65-long row per doc. bit b of the simhash = 1
    # iff (# features with bit b set) > n_features/2. shiftrightunsigned
    # avoids sign trouble for bit 63.
    votes = ex.groupBy("_id").agg(
        F.count(F.lit(1)).alias("_n"),
        *[
            F.sum(F.shiftrightunsigned("_h", b).bitwiseAND(F.lit(1))).alias(f"_v{b}")
            for b in range(64)
        ],
    )
    sim = votes.select(
        "_id",
        sum(
            [
                F.shiftleft(
                    (F.col(f"_v{b}") > F.col("_n") / F.lit(2.0)).cast("long"), b
                )
                for b in range(64)
            ],
            F.lit(0).cast("long"),
        ).alias("_sim"),
    )
    block_bits = 64 // n_tables
    block_of = lambda t: F.shiftrightunsigned(  # noqa: E731
        "_sim", t * block_bits
    ).bitwiseAND(F.lit((1 << block_bits) - 1))
    blocks = sim.select(
        "*",
        F.posexplode(F.array(*[block_of(t) for t in range(n_tables)])).alias(
            "_tbl", "_blk"
        ),
    )
    buckets = ["_tbl", "_blk"]
    # persisted for the self-join (see minhash_near_duplicates)
    blocks = caching.persist(cap_buckets(blocks, buckets, max_bucket))
    hamming = F.bit_count(F.col("_sim_a").bitwiseXOR(F.col("_sim_b")))
    return (
        bucket_pairs(blocks, buckets, "_id", ["_sim"])
        .select("id_a", "id_b", hamming.alias("hamming"))
        # hamming-filter BEFORE dropDuplicates: the predicate is map-side
        # in the join stage, so the dedup shuffle carries only true
        # near-dups (~0.05% of candidates at sf0.1: 234 of 408 k), not the
        # whole candidate set. Measured 8 s saved at sf0.1; at 100 TB the
        # candidate set is the operator's largest intermediate.
        .where(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int | None = 100,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing ≥1 shingle.

    Inverted-index layout: explode distinct shingles → (optionally drop
    shingles appearing in > ``max_shingle_freq`` docs — ubiquitous shingles
    generate quadratic candidates and carry no near-dup signal) → self-join
    on shingle → count intersections → Jaccard via |A|+|B|-∩.

    This is the exact (non-probabilistic) baseline; at 100 TB use
    :func:`minhash_near_duplicates` and reserve this for candidate
    verification.
    """
    shingled = _shingled(df, text_col, id_col, n)
    ex = shingled.select("_id", F.explode("_sh").alias("_s"))
    # persisted: read three times (sizes + both self-join sides)
    ex = caching.persist(cap_buckets(ex, ["_s"], max_shingle_freq))
    # sizes from the POST-filter shingle sets, so the Jaccard denominator is
    # consistent with the intersection counts (pre-filter sizes would bias
    # the score downward for docs containing frequent shingles)
    sizes = ex.groupBy("_id").agg(F.count("*").alias("_n"))
    inter = (
        bucket_pairs(ex, ["_s"], "_id")
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("_inter"))
    )
    sa = sizes.select(F.col("_id").alias("id_a"), F.col("_n").alias("_na"))
    sb = sizes.select(F.col("_id").alias("id_b"), F.col("_n").alias("_nb"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("_inter") / (F.col("_na") + F.col("_nb") - F.col("_inter")), 6
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def keyed_incremental_gate(
    batch: DataFrame,
    history: DataFrame,
    key_col: str,
    id_col: str,
) -> DataFrame:
    """Generic batch-vs-corpus EXACT gate on a precomputed key column —
    the shared core of the fingerprint-keyed incremental family
    (audio: ``audio_fp.audio_fp_incremental`` on ``fingerprint``;
    video: ``phash.video_phash_incremental`` on ``video_fp``). The
    text/image/embedding members carry their own key derivation and
    near tiers; audio/video fingerprints are already
    invariance-collapsed strings (gain- / brightness-normalized), so
    exact key equality IS the duplicate relation and no near tier is
    needed.

    Family contract: keep-first within the batch (min ``id_col`` per
    key — deterministic under any partitioning), then LEFT ANTI join
    against history's distinct keys; history is never re-deduped and
    is the only veto, so retried or reordered ingests cannot change a
    past decision. Scale shape: the history side projects to distinct
    keys only (the O(distinct-content) index), the anti-join shuffles
    on the key, and NULL-key rows (quarantined/undecodable assets,
    which have no identity to gate on) are DROPPED on both sides —
    route them to a census/quarantine sink upstream, not a dedup
    gate."""
    seen = history.select(key_col).where(
        F.col(key_col).isNotNull()
    ).distinct()
    fresh = top_k_per_group(
        batch.where(F.col(key_col).isNotNull()), [key_col], [F.asc(id_col)]
    )
    return fresh.join(seen, key_col, "left_anti")


def incremental_dedup(
    new_docs: DataFrame,
    history: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Batch-vs-corpus dedup: rows of ``new_docs`` whose content key
    (``functions.text.fingerprint``) does NOT already exist in
    ``history`` — the incremental-ingest stage that keeps a growing corpus
    exact-duplicate-free without ever re-deduping the whole corpus.

    Scale shape: LEFT ANTI join on a 16-byte hash. The history side
    projects to hashes only (at 100 TB, a bucketed/Z-ordered hash table
    a fraction the corpus size); new-batch payloads are carried through
    the join but the shuffle key is the hash. Within-batch duplicates are
    also collapsed (keep min id) so the output is ingestible as-is.
    """
    seen = history.select(fingerprint(text_col).alias("content_hash")).distinct()
    batch = new_docs.withColumn("content_hash", fingerprint(text_col))
    fresh = top_k_per_group(batch, ["content_hash"], [F.asc(id_col)])
    return fresh.join(seen, "content_hash", "left_anti").drop("content_hash")


def incremental_neardup(
    new_docs: DataFrame,
    history: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int | None = 100,
) -> DataFrame:
    """Batch-vs-corpus NEAR-duplicate detection — the re-ingestion gate
    :func:`incremental_dedup` (exact hashes) cannot provide: a crawl
    re-fetch with a changed timestamp or appended footer hashes fresh but
    is still the same document.

    Returns ``(batch_id, matched_id, jaccard)``: each new doc's BEST
    corpus match (highest Jaccard, ties to smallest corpus id) at
    ``jaccard >= threshold``. Unmatched batch docs are absent — callers
    anti-join to get the ingestible fresh set.

    Scale shape: two-sided inverted index, NO self-join and no
    batch×corpus product — candidates are (batch, corpus) pairs sharing
    ≥1 surviving shingle. Ubiquity is defined by the CORPUS: shingles in
    more than ``max_shingle_freq`` history docs are dropped from BOTH
    sides (at 100 TB the corpus shingle-frequency table is a maintained
    artifact, not a per-batch recompute), and Jaccard denominators use
    post-filter set sizes on both sides so scores stay consistent. The
    join is O(matched postings), keyed by shingle — the batch side is
    small by definition, so the candidate fan-out is bounded by batch
    size × per-shingle corpus frequency (≤ ``max_shingle_freq``).
    """
    hsh = _shingled(history, text_col, id_col, n)
    bsh = _shingled(new_docs, text_col, id_col, n)
    hex0 = hsh.select(F.col("_id").alias("_hid"), F.explode("_sh").alias("_s"))
    bex0 = bsh.select(F.col("_id").alias("_bid"), F.explode("_sh").alias("_s"))
    if max_shingle_freq is not None:
        # ONE corpus document-frequency table drives both sides (shingles
        # are distinct per doc, so count == df). Ubiquitous shingles are
        # dropped from the corpus index (semi) and from the batch (anti);
        # NOVEL batch shingles survive — they can't create candidates but
        # must still count in the Jaccard denominator.
        freq = caching.persist(hex0.groupBy("_s").agg(F.count("*").alias("_f")))
        hex0 = hex0.join(
            freq.where(F.col("_f") <= max_shingle_freq).select("_s"),
            "_s",
            "left_semi",
        )
        bex0 = bex0.join(
            freq.where(F.col("_f") > max_shingle_freq).select("_s"),
            "_s",
            "left_anti",
        )
    hex_ = caching.persist(hex0)
    bex = caching.persist(bex0)
    hsz = hex_.groupBy("_hid").agg(F.count("*").alias("_nh"))
    bsz = bex.groupBy("_bid").agg(F.count("*").alias("_nb"))
    inter = (
        bex.join(hex_, "_s")
        .groupBy("_bid", "_hid")
        .agg(F.count("*").alias("_inter"))
    )
    scored = (
        inter.join(bsz, "_bid")
        .join(hsz, "_hid")
        .withColumn(
            "jaccard",
            F.round(
                F.col("_inter")
                / (F.col("_nb") + F.col("_nh") - F.col("_inter")),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return top_k_per_group(
        scored, ["_bid"], [F.desc("jaccard"), F.asc("_hid")]
    ).select(
        F.col("_bid").alias("batch_id"),
        F.col("_hid").alias("matched_id"),
        "jaccard",
    )


# --- Winnowing (rolling-hash) document fingerprinting ----------------------
# Schleimer, Schwartz, Aiken, "Winnowing: Local Algorithms for Document
# Fingerprinting", SIGMOD 2003 (the MOSS algorithm). Character k-grams are
# hashed with a Rabin-Karp polynomial rolling hash; each window of w
# consecutive hashes contributes its minimum to the fingerprint set. The
# guarantee: any shared substring of length >= w + k - 1 yields at least one
# shared fingerprint, while only ~2/(w+1) of all grams are kept — so the
# inverted-index shuffle is ~w/2x smaller than exact n-gram indexing
# (ngram_jaccard_pairs) at the same detection floor.

# largest prime below 2^53: keeps acc*257+c inside int64 (9e15*257 ~ 2.3e18
# < 2^63) and is representable in engines that fall back to doubles
WINNOW_MOD = 9007199254740881
WINNOW_BASE = 257


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    w: int = 16,
    max_chars: int | None = 20000,
) -> DataFrame:
    """Winnowed fingerprint set per document: (id_col, fp bigint), distinct.

    Pure column expressions — normalization, char codes, rolling hashes,
    window minima all run in whole-stage codegen; per-row work is
    O(max_chars * k) with NO shuffle (the operator rides the scan). Docs
    shorter than w + k - 1 normalized chars produce no fingerprints (below
    the detection floor by construction).

    ``max_chars`` caps per-row work — the skew guard against pathological
    multi-MB documents at 100 TB. Fingerprints are hash VALUES (not
    positions): ties inside a window collapse via array_distinct, which
    keeps the fingerprint set identical to position-based robust winnowing.

    The gram hash is an UNROLLED Horner chain of ``element_at(_codes, …)``
    terms, not ``aggregate(slice(_codes, i, k), …)``: higher-order
    functions evaluate interpreted, and — worse — CollapseProject inlines
    a once-referenced ``_codes`` alias into the position lambda, silently
    rebuilding the whole O(L) codes array at EVERY gram position (O(L²)
    per doc, 32 s for 500 sf0.01 docs). The k element_at references keep
    the alias multiply-used so Catalyst materializes ``_codes`` once per
    row, and the chain allocates nothing per position — measured 6× (5.2 s
    for 5,000 sf0.1 docs).
    """
    norm = F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]", "")
    if max_chars is not None:
        norm = F.substring(norm, 1, max_chars)
    horner = "element_at(_codes, i)"
    for j in range(1, k):
        horner = (
            f"((({horner}) * {WINNOW_BASE}"
            f" + element_at(_codes, i + {j})) % {WINNOW_MOD})"
        )
    hashes = F.expr(
        f"transform(sequence(1, size(_codes) - {k} + 1), i -> {horner})"
    )
    fps = F.expr(
        f"""
        array_distinct(transform(
          sequence(1, size(_hashes) - {w} + 1),
          j -> array_min(slice(_hashes, j, {w}))))
        """
    )
    return (
        df.select(F.col(id_col), norm.alias("_norm"))
        .where(F.length("_norm") >= k + w - 1)
        .withColumn(
            "_codes",
            F.expr(
                "transform(sequence(1, length(_norm)),"
                " i -> CAST(ascii(substring(_norm, i, 1)) AS BIGINT))"
            ),
        )
        .withColumn("_hashes", hashes)
        .select(F.col(id_col), F.explode(fps).alias("fp"))
    )


def winnowing_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    w: int = 16,
    min_shared: int = 5,
    max_fp_freq: int | None = 20,
    max_chars: int | None = 20000,
) -> DataFrame:
    """Near-dup candidate pairs by shared winnowed fingerprints:
    (id_a, id_b, n_shared) for pairs sharing >= ``min_shared`` fingerprints.

    Same inverted-index shape as :func:`ngram_jaccard_pairs` but over the
    winnowed ~2/(w+1) subsample, so the fp-join shuffle carries ~w/2x
    fewer postings at the same shared-substring detection floor
    (w + k - 1 chars). ``max_fp_freq`` drops fingerprints present in more
    than that many docs — ubiquitous spans generate quadratic candidates
    and carry no near-dup signal (the same skew guard as the shingle
    frequency cap). At sf0.01 (k=16, w=16, cap=20, min_shared=5) this
    recovers 24/25 of the exact trigram-Jaccard>=0.5 pairs with zero
    false positives at ~1/8 the posting volume.
    """
    fps = winnow_fingerprints(df, text_col, id_col, k=k, w=w, max_chars=max_chars)
    # persisted: both self-join sides re-read the fingerprint pipeline
    fps = caching.persist(cap_buckets(fps, ["fp"], max_fp_freq))
    return (
        bucket_pairs(fps, ["fp"], id_col)
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def exact_substring_dedup(
    docs: DataFrame,
    block_tokens: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-substring span dedup at block granularity — the scalable
    MapReduce variant of Lee et al., ACL'22 ("Deduplicating Training
    Data Makes Language Models Better"): the corpus keeps exactly ONE
    occurrence of every ``block_tokens``-token span, removing verbatim
    boilerplate/mirror spans ACROSS documents (and repeated spans
    WITHIN a document) that document-level dedup can never see.

    Token stream → non-overlapping ``block_tokens`` blocks → the
    occurrence with the globally smallest (doc_id, block_idx) survives;
    each doc reassembles from its surviving blocks in order. Returns
    ``(doc_id, n_blocks, n_kept, text_dedup)`` — a doc whose every
    block occurred earlier elsewhere comes back with n_kept 0 and empty
    text (the downstream quality filter's job to drop).

    Scale shape: block construction is map-side (one split + slice HOF
    pass per doc); the argmin is ONE groupBy on the block string with a
    min(struct) partial aggregate (the frequency table is data-sized —
    that is inherent to the operator, same as the paper's suffix-array
    shards); the keep-join is block-keyed and the reassembly is one
    doc-keyed aggregate. No window over the corpus, no driver state.
    The suffix-array formulation finds repeats at ANY alignment; this
    block variant trades alignment sensitivity for three shuffles of
    bounded-width rows — the standard engineering compromise at corpus
    scale."""
    if block_tokens < 1:
        raise ValueError(f"block_tokens must be >= 1, got {block_tokens}")
    k = block_tokens
    t = docs.select(
        id_col, F.split(F.col(text_col), " ").alias("_toks")
    ).withColumn("_nb", F.expr(f"int(ceil(size(_toks) / {k}.0))"))
    b = t.select(
        id_col,
        F.posexplode(
            F.expr(
                f"transform(sequence(0, _nb - 1), "
                f"i -> array_join(slice(_toks, i*{k}+1, {k}), ' '))"
            )
        ).alias("idx", "block"),
    )
    firsts = b.groupBy("block").agg(
        F.min(F.struct(F.col(id_col), F.col("idx"))).alias("_f")
    )
    kept = b.join(firsts, "block").where(
        (F.col(id_col) == F.col(f"_f.{id_col}")) & (F.col("idx") == F.col("_f.idx"))
    )
    survived = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "block"))),
                lambda s: s["block"],
            ),
            " ",
        ).alias("text_dedup"),
    )
    return (
        t.select(id_col, F.col("_nb").cast("bigint").alias("n_blocks"))
        .join(survived, id_col, "left")
        .select(
            id_col,
            "n_blocks",
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("bigint").alias("n_kept"),
            F.coalesce(F.col("text_dedup"), F.lit("")).alias("text_dedup"),
        )
    )


_SEQ_BUCKET = ["_n", "band_idx", "band_val"]


def _seq_bands(
    df: DataFrame, seq: str, n_bands: int, max_diff: int, sep: str
) -> DataFrame:
    """``df`` with ``_n`` (the element count of ``seq``) and one row per
    non-empty contiguous band: ``band_idx`` k and ``band_val`` =
    elements ``[k·n/B, (k+1)·n/B)`` joined by ``sep``. Sequences with
    ``n <= max_diff`` get no bands (exempt from the near relation)."""
    k = F.col("band_idx")
    n = F.col("_n")
    start = F.floor(k * n / F.lit(n_bands)).cast("int")
    length = F.floor((k + 1) * n / F.lit(n_bands)).cast("int") - start
    return (
        df.withColumn("_n", F.size(F.split(seq, sep)))
        .where(F.col("_n") > max_diff)
        .select(
            "*",
            F.explode(F.sequence(F.lit(0), F.lit(n_bands - 1))).alias(
                "band_idx"
            ),
        )
        .withColumn(
            "band_val",
            F.array_join(F.slice(F.split(seq, sep), start + 1, length), sep),
        )
        .where(length >= 1)
    )


def _seq_diff(a: str, b: str, sep: str):
    """Element Hamming of two equal-length ``sep``-joined sequences."""
    return F.size(
        F.filter(
            F.zip_with(F.split(a, sep), F.split(b, sep), lambda x, y: x != y),
            lambda v: v,
        )
    )


def seq_near_pairs(
    df: DataFrame,
    seq_col: str,
    id_col: str = "asset_id",
    min_diff: int = 1,
    max_diff: int = 2,
    n_bands: int = 3,
    max_bucket: int = 10_000,
    sep: str = "-",
    reps_precomputed: bool = False,
) -> DataFrame:
    """NEAR-duplicate pairs over '-'-joined SEQUENCE fingerprints —
    the generic band-LSH core shared by the audio peak-bin sequences
    (``audio_fp.fingerprint_wav``) and the video frame-hash sequences
    (``phash.phash_y4m``): a codec re-encode perturbs a few windows /
    frames, so the near relation is element-wise Hamming over
    EQUAL-LENGTH sequences (duration survives a re-encode).

    Candidates come from contiguous sub-sequence bands (band ``k`` =
    elements ``[k·n/B, (k+1)·n/B)``): two equal-length sequences
    within ``max_diff < n_bands`` differing elements agree exactly on
    ≥1 non-empty band (pigeonhole — the diffs touch at most
    ``max_diff`` of the ``min(n, B) > max_diff`` non-empty bands), so
    the join on (length, band_idx, band_value) is exhaustive and
    never a cartesian product. Element Hamming is computed inline via
    ``zip_with`` (JVM-side, no UDF). Pairs are emitted between
    DISTINCT-fingerprint representatives (min id) — identical copies
    are the groupBy dedup path's job, the
    :func:`phash.phash_neardup_pairs` scale rule. Sequences with
    ``n <= max_diff`` are exempt (1 differing element of 2 is 50%
    different content, not a near-dup). ``max_bucket`` caps each
    (length, band) bucket (``relational.cap_buckets``); members of an
    over-full bucket still collapse via the exact groups.

    ``reps_precomputed=True`` skips the internal min-id aggregation —
    the caller attests one row per distinct sequence keyed by its
    group's MIN id (e.g. a keep-first window row, the
    multimodal_dedup_manifest pattern)."""
    if not 1 <= min_diff <= max_diff:
        raise ValueError("need 1 <= min_diff <= max_diff")
    if max_diff >= n_bands:
        raise ValueError(
            "banded candidate generation is only exhaustive for "
            "max_diff < n_bands (contiguous bands, pigeonhole)"
        )
    reps = (
        df.select(
            F.col(seq_col).alias("_seq_s"), F.col(id_col).alias("_id")
        )
        if reps_precomputed
        else df.groupBy(F.col(seq_col).alias("_seq_s")).agg(
            F.min(id_col).alias("_id")
        )
    )
    eligible = cap_buckets(
        _seq_bands(reps, "_seq_s", n_bands, max_diff, sep),
        _SEQ_BUCKET,
        max_bucket,
    )
    return (
        bucket_pairs(eligible, _SEQ_BUCKET, "_id", ["_seq_s"])
        .select(
            "id_a",
            "id_b",
            _seq_diff("_seq_s_a", "_seq_s_b", sep).cast("int").alias("n_diff"),
        )
        .where(
            (F.col("n_diff") >= min_diff)
            & (F.col("n_diff") <= max_diff)
        )
        .distinct()
    )


def seq_near_veto(
    batch: DataFrame,
    history: DataFrame,
    seq_col: str,
    id_col: str = "asset_id",
    max_diff: int = 2,
    n_bands: int = 3,
    max_bucket: int = 10_000,
    sep: str = "-",
) -> DataFrame:
    """Batch-vs-corpus incremental gate over '-'-joined SEQUENCE
    fingerprints — the gate twin of :func:`seq_near_pairs` and the
    single implementation behind ``audio_fp.audio_fp_near_veto`` and
    the streaming sequence gate: a new row survives only if (1) it is
    the keep-first representative of its sequence within the batch,
    (2) no history row has the SAME sequence (left-anti — the exact
    gate), and (3) no history sequence of the SAME length is within
    ``max_diff`` differing elements (the near veto, banded as in
    :func:`seq_near_pairs`: contiguous bands, pigeonhole-sound for
    ``max_diff < n_bands``, ``max_bucket`` on the HISTORY leg only,
    sequences with ``n <= max_diff`` exempt from the near veto but
    not the exact gate). History is never re-deduped. Returns the
    surviving batch rows."""
    if max_diff < 1:
        raise ValueError("max_diff must be >= 1 (0 is the exact gate)")
    if max_diff >= n_bands:
        raise ValueError(
            "banded candidate generation is only exhaustive for "
            "max_diff < n_bands (contiguous bands, pigeonhole)"
        )
    reps = top_k_per_group(batch, [seq_col], [id_col])
    hist_fp = history.select(seq_col).distinct()
    exact = reps.join(hist_fp, seq_col, "left_anti")

    hist_bands = cap_buckets(
        _seq_bands(
            hist_fp.select(F.col(seq_col).alias("fp_h")),
            "fp_h", n_bands, max_diff, sep,
        ),
        _SEQ_BUCKET,
        max_bucket,
    )
    batch_bands = _seq_bands(
        exact.select(
            F.col(seq_col).alias("fp_b"), F.col(id_col).alias("id_b")
        ),
        "fp_b", n_bands, max_diff, sep,
    )
    ham = _seq_diff("fp_b", "fp_h", sep)
    near_dropped = (
        batch_bands.join(hist_bands, _SEQ_BUCKET)
        .where((ham >= 1) & (ham <= max_diff))
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return exact.join(near_dropped, id_col, "left_anti")
