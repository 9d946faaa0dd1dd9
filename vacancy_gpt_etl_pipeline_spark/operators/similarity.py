"""Similarity search over embedding columns (``array<float>``).

Scale extension (north star). Four families:

- Exact: :func:`knn_brute_force` — cosine top-k, O(queries × corpus);
  right for bounded query sets (the query side is broadcast, the corpus
  streams through one narrow stage — no shuffle of the corpus).
  :func:`incremental_topk_merge` maintains such a top-k across corpus
  batches without rescoring old ones.
- LSH: :func:`knn_lsh` — random-hyperplane buckets prune the corpus
  before scoring (REPOSE, ICDE'21, partitions by sign-random-projection
  the same way); :func:`embedding_near_duplicates` finds cosine near-dup
  pairs through the same bucketing.
- IVF: a centroid quantizer (:func:`sampled_centroids`,
  :func:`lloyd_refine`, :func:`ivf_assign`, :func:`ivf_assign_two_level`)
  and probe search over the ``nprobe`` nearest cells — full precision
  (:func:`knn_ivf`, :func:`knn_ivf_adaptive`), int8 scalar-quantized
  (:func:`knn_ivf_int8`) or product-quantized with optional exact
  rescoring (:func:`pq_codebook`, :func:`pq_encode`, :func:`knn_ivf_pq`).
- SemDeDup: :func:`semdedup` and :func:`semdedup_incremental` — cosine
  near-dup removal within quantizer cells, the semantic tier of the
  dedup ladder.

Every per-query top-k and every probe selection is
:func:`~vacancy_gpt_etl_pipeline_spark.operators.relational.top_k_per_group`
(via :func:`_top_neighbors` / :func:`_probe_cells`), so each plans a
``WindowGroupLimit`` ahead of its exchange.

Dot products stay JVM-side and, when the embedding width is known (the
``dim`` parameter every operator threads through), unroll into
whole-stage-codegen arithmetic — the higher-order ``zip_with`` +
``aggregate`` form is the fallback for unknown widths only, because Spark
evaluates HOFs interpreted, per row. No Python anywhere in the hot path.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from vacancy_gpt_etl_pipeline_spark.operators import caching
from vacancy_gpt_etl_pipeline_spark.operators.relational import top_k_per_group


def _dot_sql(a: str, b: str, dim: int) -> str:
    """Unrolled ``<a, b>`` as ONE SQL string for ``F.expr``.

    Why a string and not a Python Column chain: a 64-term chain costs ~200
    py4j round-trips to BUILD, and the resulting tree is re-built on every
    plan construction — measured 12.6 s of pure driver-side Column
    assembly for ann_lsh's 8×4-plane bucket set at sf0.1, before Spark ran
    anything. ``F.expr`` ships one string; the JVM parses it in
    milliseconds. Accumulation is left-to-right from 0.0 — bit-identical
    to the ``aggregate(zip_with(...))`` fallback, so oracle hashes are
    unaffected.
    """
    terms = " + ".join(
        f"CAST(element_at(`{a}`, {i}) AS DOUBLE) * "
        f"CAST(element_at(`{b}`, {i}) AS DOUBLE)"
        for i in range(1, dim + 1)
    )
    return f"(CAST(0.0 AS DOUBLE) + {terms})"


def _dot(a, b, dim: int | None = None) -> Column:
    """Dot product of two array columns.

    With ``dim`` given AND both operands passed by column name (the
    engine's normal case — embedding width is fixed per table), the
    product unrolls into ``dim`` codegen-able ``element_at`` terms built
    as a single ``F.expr`` string (see :func:`_dot_sql`); otherwise falls
    back to the ``aggregate(zip_with(...))`` higher-order form, which
    Spark evaluates INTERPRETED per row — correct, but ~40× slower in the
    ann hot paths at sf0.1.
    """
    if dim is not None and isinstance(a, str) and isinstance(b, str):
        return F.expr(_dot_sql(a, b, dim))
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a, dim: int | None = None) -> Column:
    return F.sqrt(_dot(a, a, dim))


def cosine_similarity_col(
    a, b, ndigits: int | None = 6, dim: int | None = None
) -> Column:
    cos = _dot(a, b, dim) / (_norm(a, dim) * _norm(b, dim))
    return F.round(cos, ndigits) if ndigits is not None else cos


def unit_normalize(
    df: DataFrame, vec_col: str, out_col: str = "_unit", dim: int | None = None
) -> DataFrame:
    n = _norm(vec_col, dim)
    return df.withColumn(
        out_col,
        F.transform(F.col(vec_col), lambda x: x.cast("double") / n),
    )


def _top_neighbors(scored: DataFrame, score_col: str, k: int) -> DataFrame:
    """Per-query top-k by ``score_col`` (descending, neighbor id breaks
    ties): ``(query_id, neighbor_id, <score_col>, rank)``."""
    return top_k_per_group(
        scored,
        ["query_id"],
        [F.desc(score_col), F.asc("neighbor_id")],
        k,
        rank_col="rank",
    ).select("query_id", "neighbor_id", score_col, "rank")


def knn_brute_force(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    exclude_self: bool = True,
    dim: int | None = None,
) -> DataFrame:
    """Exact cosine top-k per query. Plan: broadcast(queries) ⨯ corpus →
    per-query TakeOrdered via row_number window partitioned by query.

    The window shuffles only (query_id, corpus_id, cosine) triples — never
    the vectors; at 1000 executors the crossJoin stage is embarrassingly
    parallel over corpus partitions.
    """
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"))
    scored = c.crossJoin(F.broadcast(q)).select(
        "query_id",
        "neighbor_id",
        cosine_similarity_col("_qv", "_cv", dim=dim).alias("cosine"),
    )
    if exclude_self:
        scored = scored.where(F.col("query_id") != F.col("neighbor_id"))
    return _top_neighbors(scored, "cosine", k)


def _coef_sql(c: float) -> str:
    """A double literal that parses to the EXACT same IEEE value as the
    Python float (repr round-trips; CAST-from-string is correctly
    rounded), matching how the DuckDB oracles render the same planes."""
    return f"CAST('{float(c)!r}' AS DOUBLE)"


def _bucket_frame(
    df: DataFrame,
    tables: list[list[list[float]]],
    id_col: str,
    vec_col: str,
    id_alias: str,
    vec_alias: str,
) -> DataFrame:
    """``(id, vec, _tbl, _bkt)`` rows — one per (vector, table) — with the
    plane dots computed by posexplode + SUM aggregates.

    Why not compute buckets inline under the explode (the obvious form):
    Catalyst collapses the projection into the Generate node and the 8×4×
    64-term bucket expression is re-evaluated per emitted element, outside
    whole-stage codegen — measured ~5 s for 2 000 vectors at sf0.1, linear
    in corpus size. Exploded, the dots are one codegen pass with map-side
    combine; the groupBy shuffles one (id, vec, n_planes doubles) row per
    vector. That one bounded-width corpus shuffle is the price of keeping
    the arithmetic compiled — the right trade until the corpus is so large
    that a shuffle round dominates, at which point the dots belong in a
    vectorized Arrow batch (mapInPandas) instead.

    Value parity with the oracles' ``queries._rhp_bucket_sql``: per-plane
    sums accumulate in array order within one map task (explode output
    never splits a vector), so doubles are bit-identical and the sign
    bits — hence buckets — match the SQL oracles exactly.
    """
    planes = [p for t in tables for p in t]
    b = len(tables[0])
    ex = df.select(
        F.col(id_col).alias(id_alias),
        F.col(vec_col).alias(vec_alias),
        F.posexplode(F.col(vec_col)).alias("_d", "_x"),
    )
    coef = lambda p: ", ".join(_coef_sql(c) for c in p)  # noqa: E731
    dots = ex.groupBy(id_alias).agg(
        F.first(vec_alias).alias(vec_alias),
        *[
            F.sum(
                F.expr(f"CAST(_x AS DOUBLE) * element_at(array({coef(p)}), _d + 1)")
            ).alias(f"_dp{j}")
            for j, p in enumerate(planes)
        ],
    )
    bucket_sql = ", ".join(
        " + ".join(f"CAST(_dp{t * b + p} > 0 AS BIGINT) * {1 << p}" for p in range(b))
        for t in range(len(tables))
    )
    return dots.select(
        id_alias,
        vec_alias,
        F.posexplode(F.expr(f"array({bucket_sql})")).alias("_tbl", "_bkt"),
    )


def knn_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    tables: list[list[list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k via MULTI-TABLE random-hyperplane LSH: a corpus
    vector is a candidate if it shares a bucket with the query in ANY table.

    ``tables`` is a list of hyperplane sets; recall for a neighbor at angle
    θ is ``1-(1-p^b)^T`` with ``p = 1-θ/π``, ``b`` planes/table, ``T``
    tables — fewer planes per table and more tables trade cost for recall
    (the standard IVF/LSH knob; PAPERS.md REPOSE partitions the same way).

    Scale shape: the corpus is exploded ×T into fixed-width (table, bucket)
    rows, joined against broadcast queries, candidates deduped on
    (query, neighbor) before scoring — per-candidate cosine is computed
    once even when a pair collides in several tables.
    """
    c = _bucket_frame(corpus, tables, id_col, vec_col, "neighbor_id", "_cv")
    q = _bucket_frame(
        queries, tables, query_id_col, vec_col, "query_id", "_qv"
    ).select("query_id", "_qv", "_tbl", "_bkt")
    cand = (
        c.join(F.broadcast(q), ["_tbl", "_bkt"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        cosine_similarity_col("_qv", "_cv", dim=dim).alias("cosine"),
    )
    return _top_neighbors(scored, "cosine", k)


def sampled_centroids(
    corpus: DataFrame,
    n_centroids: int,
    stride: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic IVF coarse quantizer: the first ``n_centroids`` corpus
    vectors whose id is a multiple of ``stride``, ordered by id.

    Determinism (vs k-means++ style random init) is deliberate: the exact
    same centroid set is reproducible in plain SQL, so the whole IVF path —
    assignment, probing, scoring — can be hash-verified against an oracle.
    :func:`lloyd_refine` upgrades these seeds to proper k-means centroids
    when recall matters more than oracle parity.
    """
    return (
        corpus.where((F.col(id_col) % stride) == 0)
        .orderBy(id_col)
        .limit(n_centroids)
        .select(F.col(id_col).alias("cell"), F.col(vec_col).alias("centroid"))
    )


def _cell_scores(
    df: DataFrame, vec_col: str, centroids: DataFrame, dim: int | None = None
) -> DataFrame:
    """Cross every vector with the (broadcast, tiny) centroid set and score.

    Cosines are rounded to 6 digits BEFORE any argmax/rank so assignment
    tie-breaking is bit-identical to an oracle that rounds the same way.
    """
    c = centroids.select("cell", F.col("centroid").alias("_cent"))
    return df.crossJoin(F.broadcast(c)).withColumn(
        "_ccos", cosine_similarity_col(vec_col, "_cent", dim=dim)
    )


def _probe_cells(q_scored: DataFrame, vec_col: str, nprobe: int) -> DataFrame:
    """Each query's ``nprobe`` best-scored cells from :func:`_cell_scores`
    (cell id breaks ties): ``(query_id, <vec_col>, cell)``."""
    return top_k_per_group(
        q_scored, ["query_id"], [F.desc("_ccos"), F.asc("cell")], nprobe
    ).select("query_id", vec_col, "cell")


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Assign every corpus vector to its nearest centroid cell.

    Scale shape: centroids broadcast (bounded by contract); the ×C
    score expansion collapses map-side via ``max_by`` partial aggregation —
    the only shuffle carries one (id, vector, cell) row per corpus vector,
    never the ×C expansion. Ties break to the lowest cell id
    (max on (cosine, -cell)), matching ``ORDER BY cos DESC, cell`` in SQL.

    (r15 optimization note: a zero-shuffle variant that bakes the
    collected centroids into one ``greatest``-over-structs map-side
    argmax was built and measured — it removes this groupBy exchange
    but the resulting ~C·3·dim-term expression tree falls out of
    whole-stage codegen and evaluated 2-3× SLOWER end to end at sf0.1,
    the same giant-expression failure mode _bucket_frame documents.
    The crossJoin→max_by shape stays.)
    """
    scored = _cell_scores(
        corpus.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")),
        "_v",
        centroids,
        dim,
    )
    return (
        scored.groupBy("_id")
        .agg(
            F.max_by(
                "cell", F.struct(F.col("_ccos"), (-F.col("cell")).alias("_neg"))
            ).alias("cell"),
            F.first("_v").alias("_v"),
        )
        .select(F.col("_id").alias(id_col), F.col("_v").alias(vec_col), "cell")
    )


def ivf_assign_two_level(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    n_coarse: int | None = None,
    n_cent: int | None = None,
) -> DataFrame:
    """Hierarchical (two-level) cell assignment — the scale fix for the
    brute-force n×C term :func:`ivf_assign` pays when the cell count C
    itself grows with the corpus (the r10 scaling attestation measured
    that term going superlinear at cells ∝ n).

    ``n_cent``: callers that KNOW the centroid count (every registry
    entry sizes the table by contract) pass it to skip the eager
    ``centroids.count()`` job — r16 profiling measured that count at
    ~0.7 s warm per call at sf0.1 because it drags the full sampled-
    centroid lineage (scan + union + window + limit) through a job
    before any assignment work starts. Semantics are unchanged ONLY
    when the passed value equals the true count; callers whose corpus
    may under-fill the sample must leave it None.

    Construction: stride-sample ``n_coarse`` (default ⌈√C⌉) of the
    centroids as a COARSE quantizer; assign every centroid to its
    nearest coarse group (C×√C, negligible); route every corpus vector
    to its nearest coarse group (n×√C); then score only the centroids
    of the routed group (n×~√C). Total ≈ 2n√C dot products instead of
    nC — n^1.25 when C ∝ n, vs n² brute force.

    Assignment is APPROXIMATE: on structure-free gaussians (centroids
    near-equidistant) per-vector Voronoi agreement with exact
    assignment is LOW — but the property SemDeDup needs is pair
    CO-assignment: a near-duplicate pair (cosine ≥ 0.9) scores almost
    identically against every coarse group and every centroid, so both
    members route to the same cell with high probability and the drop
    set matches exact assignment's to within ~1% (asserted in
    tests/test_semdedup.py; measured 344 vs 347 drops on 20k vectors).
    Consumers that need exact Voronoi membership (the ANN oracle
    entries) keep ivf_assign. Same output contract as ivf_assign:
    (id, vector, cell)."""
    if n_cent is None:
        n_cent = centroids.count()  # bounded by contract (centroid table)
    if n_coarse is None:
        n_coarse = max(1, math.isqrt(n_cent))
    every = max(1, n_cent // n_coarse)
    w = Window.orderBy("cell")  # centroid-sized frame: bounded window
    ranked = centroids.select(
        "cell", "centroid", (F.row_number().over(w) - 1).alias("_rk")
    )
    coarse = (
        ranked.where(F.col("_rk") % every == 0)
        .limit(n_coarse)
        .select(F.col("cell").alias("cell"), "centroid")
    )
    # group id of every centroid (C × √C — both frames broadcast-sized)
    cent_groups = (
        ivf_assign(
            centroids.select(
                F.col("cell").alias("_cid"),
                F.col("centroid").alias("_cv"),
            ),
            coarse,
            id_col="_cid",
            vec_col="_cv",
            dim=dim,
        )
        .select(
            F.col("_cid").alias("_gcell"),
            F.col("_cv").alias("_gcent"),
            F.col("cell").alias("_gid"),
        )
    )
    # route corpus to coarse groups (n × √C)
    routed = ivf_assign(corpus, coarse, id_col, vec_col, dim).select(
        F.col(id_col), F.col(vec_col), F.col("cell").alias("_gid")
    )
    # score only the routed group's centroids (n × ~√C)
    scored = routed.join(F.broadcast(cent_groups), "_gid").withColumn(
        "_ccos", cosine_similarity_col(vec_col, "_gcent", dim=dim)
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.max_by(
                "_gcell",
                F.struct(F.col("_ccos"), (-F.col("_gcell")).alias("_neg")),
            ).alias("cell"),
            F.first(vec_col).alias(vec_col),
        )
        .select(id_col, vec_col, "cell")
    )


def knn_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int | None = None,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k via IVF (inverted-file) search: corpus vectors are
    bucketed into centroid cells once; each query exhaustively scores only
    the ``nprobe`` cells nearest to it.

    ``nprobe`` is the recall/cost dial — probing all cells degenerates to
    exact search (asserted in tests/test_neardup_quality.py). Scale shape:
    cell assignment is one map-side-combined aggregation; the probe join is
    broadcast (query side bounded); scoring touches ~nprobe/C of the corpus
    per query and the top-k window shuffles only (query, neighbor, cosine)
    triples. Pass a precomputed ``assigned`` frame (from
    :func:`ivf_assign`, ideally persisted) to share the cell assignment
    across multiple probe passes — knn_ivf_adaptive does.
    """
    if assigned is None:
        assigned = ivf_assign(
            corpus, centroids, id_col=id_col, vec_col=vec_col, dim=dim
        )
    q_scored = _cell_scores(
        queries.select(
            F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("_qv")
        ),
        "_qv",
        centroids,
        dim,
    )
    probes = _probe_cells(q_scored, "_qv", nprobe)
    scored = (
        assigned.join(F.broadcast(probes), "cell")
        .where(F.col("query_id") != F.col(id_col))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            cosine_similarity_col("_qv", vec_col, dim=dim).alias("cosine"),
        )
    )
    return _top_neighbors(scored, "cosine", k)


def lloyd_refine(
    corpus: DataFrame,
    centroids: DataFrame,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Distributed Lloyd (k-means) refinement of an IVF centroid set.

    Each iteration: assign (map-side-combined argmax) → elementwise mean per
    cell via posexplode + groupBy(cell, dim) — the mean never leaves the
    cluster, no driver collect. Cells that lose every member keep their old
    centroid (anti-join + union) so k never shrinks. Iterative refinement is
    inherently non-SQL-expressible, so this path is pytest-verified
    (inertia monotonicity) rather than oracle-verified.
    """
    for _ in range(iters):
        assigned = ivf_assign(
            corpus, centroids, id_col=id_col, vec_col=vec_col, dim=dim
        )
        means = (
            assigned.select("cell", F.posexplode(vec_col).alias("_dim", "_x"))
            .groupBy("cell", "_dim")
            .agg(F.avg("_x").alias("_m"))
            .groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_dim", "_m"))),
                    lambda s: s["_m"].cast("float"),
                ).alias("centroid")
            )
        )
        kept = centroids.join(means.select("cell"), "cell", "left_anti")
        centroids = means.unionByName(kept)
    return centroids


def ivf_inertia(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> float:
    """Mean cosine distance (1 - cos) of each vector to its assigned
    centroid — the quantity :func:`lloyd_refine` descends."""
    assigned = ivf_assign(corpus, centroids, id_col=id_col, vec_col=vec_col, dim=dim)
    scored = assigned.join(F.broadcast(centroids), "cell").select(
        (F.lit(1.0) - cosine_similarity_col(vec_col, "centroid", dim=dim)).alias("_d")
    )
    return scored.agg(F.avg("_d")).first()[0]


def embedding_near_duplicates(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: list[list[float]] | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Cosine near-duplicate pairs (id_a < id_b, cosine ≥ threshold).

    With ``planes`` given, candidates are confined to equal LSH buckets
    (approximate, scales linearly); without, an all-pairs self-join (exact,
    quadratic — small corpora / verification only).
    """
    if planes is not None:
        # buckets via the explode-aggregate frame (one bounded-width
        # shuffle, codegen dots) — the inline 384-term bucket projection
        # costs plan analysis + an interpreted fallback on both join
        # sides; computed once here and self-joined
        bkt = _bucket_frame(df, [planes], id_col, vec_col, "_id", "_v")
        a = bkt.select(
            F.col("_id").alias("id_a"), F.col("_v").alias("_va"), "_bkt"
        )
        b = bkt.select(
            F.col("_id").alias("id_b"), F.col("_v").alias("_vb"), "_bkt"
        )
        pairs = a.join(b, "_bkt").where(F.col("id_a") < F.col("id_b"))
    else:
        a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
        b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
        pairs = a.crossJoin(b).where(F.col("id_a") < F.col("id_b"))
    return (
        pairs.withColumn("cosine", cosine_similarity_col("_va", "_vb", dim=dim))
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def semdedup(
    corpus: DataFrame,
    n_centroids: int,
    stride: int,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    max_cell: int = 10_000,
    assigned: DataFrame | None = None,
    two_level_threshold: int = 64,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space into cells and, within
    each cell, keep only one representative of every cosine-near-dup
    group. Returns the SURVIVORS as ``(id_col, cell)``.

    The embedding tier of the dedup ladder: exact hash → MinHash/SimHash
    (lexical) → this (semantic — paraphrases and re-renderings that share
    no n-grams). The keep rule is greedy lowest-id (a vector is dropped
    iff a LOWER-id vector in the same cell has cosine ≥ threshold) —
    deterministic under any partitioning, matching the keep-lowest-id
    convention of every other dedup operator in the package.

    Scale shape: the cell index is :func:`ivf_assign` (broadcast
    centroids, map-side ``max_by`` collapse — one narrow shuffle) for
    small fixture-style cell counts, switching automatically to
    :func:`ivf_assign_two_level` above ``two_level_threshold`` cells —
    the production regime where C ∝ corpus makes brute-force
    assignment quadratic; the
    candidate pair join is an equi-join on cell, never all-pairs, with
    pair work Σ|cell|² bounded by ``max_cell`` — oversized cells (a
    degenerate centroid attracting everything) are excluded from pair
    generation CONSERVATIVELY: their members are all kept, never
    silently dropped, mirroring the fuzzy/LSH bucket caps. Cosine is
    computed map-side inside the join's codegen stage; the drop list is
    a distinct on id_b and an anti-join back.
    """
    # the assignment frame is read THREE times downstream (cell sizes,
    # both sides of the pair join via `joinable`, and the survivor
    # anti-join); unpersisted, the crossJoin-score-max_by assignment
    # recomputes each time — measured 5.9 s → ~2 s warm at sf0.1.
    # ``assigned`` injection: pass a precomputed (id, vector, cell)
    # frame — e.g. :func:`ivf_assign_two_level` when the cell count
    # scales with the corpus — and (n_centroids, stride) are ignored.
    if assigned is None:
        centroids = sampled_centroids(
            corpus, n_centroids, stride, id_col, vec_col
        )
        if n_centroids > two_level_threshold:
            # Production sizing puts C ∝ corpus (~250 vectors/cell);
            # brute-force assignment is then n×C dots = quadratic
            # (measured 2.2× per-row at 50× in BENCH_SCALE r10-r12).
            # Route large cell counts through the hierarchical
            # quantizer automatically (~2n√C dots, n^1.25 when C ∝ n;
            # drop-set parity ~1% — see ivf_assign_two_level's
            # pair-co-assignment argument and tests/test_semdedup.py).
            # Small fixture-tuned configs (the oracle-replayed registry
            # entry pins n_centroids=8) stay on exact Voronoi
            # assignment below the threshold.
            assigned = ivf_assign_two_level(
                corpus, centroids, id_col, vec_col, dim
            )
        else:
            assigned = ivf_assign(corpus, centroids, id_col, vec_col, dim)
    assigned = caching.persist(assigned)
    # NOT persisted, on measurement: sizes is read twice (the guard
    # aggregate and the `joinable` broadcast build), but both reads
    # re-aggregate from the CACHED assignment — milliseconds at any
    # realistic cell count. Caching the aggregate itself was tried in
    # r14 and measured a 1.3–1.45× PESSIMIZATION under a controlled
    # same-session A/B (the InMemoryRelation boundary costs more than
    # the duplicated cached-input aggregate it saves); the same A/B
    # showed the r13 guard code at parity with the pre-guard r12 shape
    # (2.49 vs 2.58 s / 3.89 vs 4.73 s min-of-4 warm), so the r13
    # idle-stamp delta was machine state, not this code path.
    sizes = assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("_csz"))
    # Degenerate-sizing guard: the oversized-cell cap keeps members
    # conservatively, so a configuration where EVERY cell exceeds
    # ``max_cell`` (corpus/n_centroids > max_cell) makes the whole
    # operator a silent no-op — measured exactly so at 50x scale with
    # the fixture-tuned n_centroids=8. That is a sizing error, not a
    # dedup result: raise, pointing at the production rule
    # (n_centroids proportional to corpus, ~250 vectors/cell — see
    # ``ivf_assign_two_level``/semdedup_2level for the scale path).
    # Partial exclusion (some cells capped) stays a warning: those
    # members are kept un-deduplicated by design. The check is one
    # centroid-count-sized aggregate over the already-persisted
    # assignment frame, so it warms the cache three downstream reads
    # need anyway.
    _stats = sizes.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum((F.col("_csz") > max_cell).cast("long")).alias("n_over"),
    ).first()
    if _stats.n_cells and _stats.n_over == _stats.n_cells:
        raise ValueError(
            f"semdedup degenerate sizing: all {_stats.n_cells} cells "
            f"exceed max_cell={max_cell}, so no pair would be "
            "generated and every vector would be kept. Scale "
            "n_centroids with the corpus (~corpus_size/250) or raise "
            "max_cell; for large cell counts route assignment through "
            "ivf_assign_two_level (see semdedup_2level)."
        )
    if _stats.n_over:
        import warnings

        warnings.warn(
            f"semdedup: {_stats.n_over}/{_stats.n_cells} cells exceed "
            f"max_cell={max_cell}; their members are kept without "
            "dedup (conservative cap). Consider more centroids.",
            RuntimeWarning,
            stacklevel=2,
        )
    joinable = assigned.join(
        F.broadcast(sizes.where(F.col("_csz") <= max_cell)), "cell"
    )
    a = joinable.select(
        "cell", F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va")
    )
    b = joinable.select(
        "cell", F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb")
    )
    dropped = (
        a.join(b, "cell")
        .where(F.col("id_a") < F.col("id_b"))
        .where(cosine_similarity_col("_va", "_vb", dim=dim) >= threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return assigned.join(dropped, id_col, "left_anti").select(id_col, "cell")


def semdedup_incremental(
    batch: DataFrame,
    history: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    max_cell: int = 10_000,
    history_assigned: DataFrame | None = None,
    batch_assigned: DataFrame | None = None,
) -> DataFrame:
    """Batch-vs-corpus SEMANTIC dedup gate — the embedding member of
    the incremental family (text: ``dedup.incremental_dedup`` /
    ``incremental_neardup``; images: ``phash.phash_incremental``): a
    new batch vector survives only if NO history vector in its
    quantizer cell has cosine ≥ ``threshold``. History is never
    re-deduped; within-batch near-duplicates both survive (history is
    the only veto — the family contract, so a retried or reordered
    ingest can never change a past decision).

    The ``centroids`` table is the FIXED quantizer a production corpus
    keeps alongside its (id, vector, cell) index — assignment of the
    batch is n_batch×C broadcast dots (or inject a two-level routing
    via a precomputed frame upstream), and the veto join is an
    equi-join on cell against only the history cells the batch
    touches: with the history index stored partitioned by cell (the
    streaming gates' layout), the read prunes to the batch's working
    set. ``history_assigned`` injection skips re-assigning a history
    frame that already carries its cell (the persisted-index path);
    otherwise history is assigned here with the same quantizer.

    Over-full history cells (> ``max_cell``) lose their veto —
    admit-direction, the same conservative cap contract as every gate
    in the family (a degenerate centroid attracting everything must
    not turn the gate into an all-pairs join). Returns surviving batch
    rows as ``(id_col, cell)``. ``batch_assigned`` injection skips
    re-assigning a batch the caller already routed (the streaming
    gate assigns once for its cell-prune collect and reuses it
    here)."""
    b = (
        batch_assigned
        if batch_assigned is not None
        else ivf_assign(batch, centroids, id_col, vec_col, dim)
    )
    if history_assigned is None:
        history_assigned = ivf_assign(
            history, centroids, id_col, vec_col, dim
        )
    # countDistinct, not count: the streaming gate's append-mode index
    # can hold retry-duplicated rows until compaction; a row count
    # would inflate cell sizes and trip the max_cell cap spuriously,
    # removing a legitimate cell's veto (admit-direction divergence
    # from batch semantics). Distinct ids are the true cell size.
    sizes = history_assigned.groupBy("cell").agg(
        F.countDistinct(id_col).alias("_csz")
    )
    h = history_assigned.join(
        F.broadcast(sizes.where(F.col("_csz") <= max_cell)), "cell"
    ).select("cell", F.col(vec_col).alias("_hv"))
    dropped = (
        b.join(h, "cell")
        .where(cosine_similarity_col(vec_col, "_hv", dim=dim) >= threshold)
        .select(id_col)
        .distinct()
    )
    return b.join(dropped, id_col, "left_anti").select(id_col, "cell")


def l2_normalize(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Unit-normalize an embedding column — the standard prep before any
    cosine-based stage (ANN, SemDeDup, near-dup): post-normalization,
    cosine degrades to a dot product and every downstream operator skips
    a per-pair norm.

    Adds ``l2_norm`` (the pre-normalization norm) and ``<vec_col>_unit``
    (array<double>). Entirely map-side codegen — a sequential
    ``F.aggregate`` fold for Σx², one IEEE sqrt (correctly rounded by
    spec, so bit-identical in any engine), one ``F.transform`` divide.
    No shuffle, no UDF; zero-norm vectors yield a NULL unit vector
    rather than ±inf components.
    """
    xs = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    sumsq = F.aggregate(
        xs, F.lit(0.0), lambda acc, x: acc + x * x
    )
    norm = F.sqrt(sumsq)
    unit = F.when(
        norm > 0.0, F.transform(xs, lambda x: x / norm)
    )
    return df.withColumn("l2_norm", norm).withColumn(f"{vec_col}_unit", unit)


def incremental_topk_merge(
    prev_topk: DataFrame, new_scored: DataFrame, k: int = 10
) -> DataFrame:
    """Incrementally maintain per-query top-k similarity results as new
    corpus batches arrive (the interactive-session pattern of EDBT 2020's
    incremental top-k framework, PAPERS.md): union the maintained
    top-k with the new batch's scored candidates and re-rank, WITHOUT
    touching already-scored batches.

    Correctness: the overall top-k is always contained in (previous
    top-k) ∪ (new batch's top-k), so merging per-batch winners exactly
    reproduces a full recompute — the registry oracle asserts that
    equivalence against the from-scratch SQL. Scale shape: the merge
    shuffles only (query, neighbor, score) triples of size O(queries·k
    + batch winners); the corpus embeddings are never rescanned. The
    same (query, neighbor) pair re-submitted by a later batch carries
    the same score (scores are functional), so the dedup keeps the
    result well-defined."""
    cols = ["query_id", "neighbor_id", "cosine"]
    merged = (
        prev_topk.select(*cols)
        .unionByName(new_scored.select(*cols))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return _top_neighbors(merged, "cosine", k)


def knn_ivf_adaptive(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 10,
    nprobe_lo: int = 1,
    nprobe_hi: int = 4,
    min_kth_cosine: float = 0.25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int | None = None,
) -> DataFrame:
    """Adaptive IVF search (the continuously-adaptive similarity-search
    pattern, SIGMOD 2020 — PAPERS.md): probe cheaply first, then spend
    more ONLY on queries whose results look weak. A query's nprobe_lo
    result stands unless it returned fewer than k neighbors or its k-th
    cosine fell below ``min_kth_cosine``; weak queries re-probe
    nprobe_hi cells.

    Per-query cost adapts to how well the query matches its cell — at
    100 TB the easy majority pays ~nprobe_lo/C of a corpus scan and only
    the hard tail pays nprobe_hi/C, instead of every query paying for
    the worst one. The weak set is a broadcast of query ids (bounded by
    the query batch); the second pass reuses the SAME cell assignment
    frame, so the corpus is never re-bucketed. With min_kth_cosine ≥ 1
    every query escalates and the result degenerates to plain
    nprobe_hi search (asserted in tests)."""
    assigned = caching.persist(
        ivf_assign(corpus, centroids, id_col=id_col, vec_col=vec_col, dim=dim),
    )
    # persisted: three consumers (the quality aggregate, the strong-rows
    # semi-join, and — through strong_ids — the weak-query anti-join)
    # would otherwise each inline and re-execute the whole lo probe
    # plan; measured 2× end-to-end at sf0.1 (16 s vs 23-32 s warm)
    lo = caching.persist(
        knn_ivf(
            corpus, queries, centroids, k=k, nprobe=nprobe_lo,
            id_col=id_col, vec_col=vec_col, query_id_col=query_id_col,
            dim=dim, assigned=assigned,
        ),
    )
    # strong = queries whose lo pass is demonstrably good; EVERYTHING
    # else escalates — including queries with ZERO lo rows (an empty or
    # self-only probe cell), which never appear in the lo aggregate at
    # all and would silently vanish if weakness were derived from lo
    qual = lo.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("_n"), F.min("cosine").alias("_kth")
    )
    strong_ids = qual.where(
        (F.col("_n") >= k) & (F.col("_kth") >= min_kth_cosine)
    ).select("query_id")
    strong = lo.join(F.broadcast(strong_ids), "query_id", "left_semi")
    weak_queries = queries.join(
        F.broadcast(strong_ids.withColumnRenamed("query_id", query_id_col)),
        query_id_col,
        "left_anti",
    )
    hi = knn_ivf(
        corpus, weak_queries, centroids, k=k, nprobe=nprobe_hi,
        id_col=id_col, vec_col=vec_col, query_id_col=query_id_col, dim=dim,
        assigned=assigned,
    )
    return strong.unionByName(hi)


def _unit_norm_sql(vec: str, dim: int) -> str:
    """Per-row L2 norm of ``vec`` as ONE unrolled SQL string, floored at
    1e-30 so a zero vector quantizes to all-zeros instead of NaN. The
    accumulation order matches :func:`_dot_sql` exactly — the oracle
    mirrors it term for term, so the double is bit-identical."""
    return f"greatest(sqrt({_dot_sql(vec, vec, dim)}), CAST(1e-30 AS DOUBLE))"


def _int_dot_sql(a: str, b: str, dim: int) -> str:
    """Exact integer dot product of two int8 array columns, accumulated
    as BIGINT (max |term| = 127² and dim ≪ 2⁵⁰, so no overflow). Being
    integer arithmetic, the score — unlike every cosine in this module —
    has NO floating-point cross-engine risk at all."""
    terms = " + ".join(
        f"CAST(element_at(`{a}`, {i}) AS BIGINT) * "
        f"CAST(element_at(`{b}`, {i}) AS BIGINT)"
        for i in range(1, dim + 1)
    )
    return f"(CAST(0 AS BIGINT) + {terms})"


def quantize_unit_int8(
    df: DataFrame, vec_col: str, dim: int, out_col: str = "qvec"
) -> DataFrame:
    """Replace ``vec_col`` (array<float|double>, width ``dim``) with its
    unit-normalized int8 quantization ``out_col`` (array<tinyint>).

    This is the compressed-residency tier the IVF path was missing at
    100 TB (r8 verdict): the candidate-generation shuffle moves 1 byte
    per component instead of 8 — an 8× cut in the embedding pipeline's
    dominant bandwidth term — and downstream scoring runs in exact
    integer arithmetic. Normalizing BEFORE quantization makes the int
    dot product a cosine surrogate (monotone in cosine up to the ±0.5/127
    per-component rounding), so ranking quality survives heterogeneous
    vector norms; the recall bound vs full precision is asserted in
    tests/test_neardup_quality.py.

    The quantized array is built with ``F.transform`` (interpreted,
    O(dim) once per ROW) rather than a ``_dot_sql``-style unrolled
    array: unrolled, the 64 round/div elements collapse into the
    consuming sort's whole-stage codegen and blow Janino's 64 KB method
    limit — Spark then falls back to interpreting the ENTIRE sort
    stage, which is the worse trade (measured: the transform build
    keeps every stage codegen-clean at +0.5 s on sf0.1 vs an unrolled
    build that logs per-run CodeGenerator errors). The HOT path — the
    per-candidate integer dot — stays unrolled via :func:`_int_dot_sql`
    over the materialized tinyint arrays."""
    norm = _unit_norm_sql(vec_col, dim)
    return df.withColumn("_nrm", F.expr(norm)).select(
        *[c for c in df.columns if c != vec_col],
        F.transform(
            F.col(vec_col),
            lambda x: F.round(x.cast("double") / F.col("_nrm") * 127.0).cast(
                "tinyint"
            ),
        ).alias(out_col),
    )


def knn_ivf_int8(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int = 64,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """IVF top-k with int8-quantized scoring (IVF-SQ8, the scalar-
    quantization sibling of IVF-PQ): cell assignment and probe selection
    run in full precision exactly as :func:`knn_ivf`, but the candidate
    frame that leaves the assignment stage carries ONLY (id, cell,
    int8 qvec) — the float vectors never enter the probe shuffle — and
    candidates rank by the exact integer dot of unit-quantized vectors
    (descending, neighbor id tie-break).

    Returns (query_id, neighbor_id, dot_q: bigint, rank). ``dot_q`` ≈
    cosine × 127²; it is reported raw (not rescaled to a float) so the
    result column stays integer-exact across engines."""
    if assigned is None:
        assigned = ivf_assign(
            corpus, centroids, id_col=id_col, vec_col=vec_col, dim=dim
        )
    # quantize at the assignment boundary: everything after this line
    # moves tinyint arrays, not doubles
    qcorp = quantize_unit_int8(
        assigned.select(id_col, vec_col, "cell"), vec_col, dim, out_col="_qv"
    )
    q_scored = _cell_scores(
        queries.select(
            F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("_fq")
        ),
        "_fq",
        centroids,
        dim,
    )
    probes = quantize_unit_int8(
        _probe_cells(q_scored, "_fq", nprobe), "_fq", dim, out_col="_qq"
    )
    scored = (
        qcorp.join(F.broadcast(probes), "cell")
        .where(F.col("query_id") != F.col(id_col))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.expr(_int_dot_sql("_qq", "_qv", dim)).alias("dot_q"),
        )
    )
    return _top_neighbors(scored, "dot_q", k)


def _sub_slice(s: int, sub: int) -> range:
    """1-based element indices of subspace ``s`` (width ``sub``)."""
    return range(s * sub + 1, (s + 1) * sub + 1)


def _sub_dist_sql(a: str, b: str, s: int, sub: int) -> str:
    """Unrolled squared L2 distance between subspace ``s`` of two array
    columns, rounded to 6 dp BEFORE the argmin so code assignment
    tie-breaks identically in any engine."""
    terms = " + ".join(
        f"(CAST(element_at(`{a}`, {i}) AS DOUBLE) - "
        f"CAST(element_at(`{b}`, {i}) AS DOUBLE)) * "
        f"(CAST(element_at(`{a}`, {i}) AS DOUBLE) - "
        f"CAST(element_at(`{b}`, {i}) AS DOUBLE))"
        for i in _sub_slice(s, sub)
    )
    return f"ROUND((CAST(0.0 AS DOUBLE) + {terms}), 6)"


def _sub_dot_q_sql(a: str, b: str, s: int, sub: int) -> str:
    """Subspace dot product quantized to an exact BIGINT at 1e-6
    resolution: ``CAST(ROUND(<dot> * 1e6) AS BIGINT)``. The per-
    candidate ADC score is then a SUM OF INTEGERS — order-free and
    bit-identical in any engine, unlike a sum of rounded doubles whose
    accumulation order a groupBy does not define."""
    terms = " + ".join(
        f"CAST(element_at(`{a}`, {i}) AS DOUBLE) * "
        f"CAST(element_at(`{b}`, {i}) AS DOUBLE)"
        for i in _sub_slice(s, sub)
    )
    return f"CAST(ROUND((CAST(0.0 AS DOUBLE) + {terms}) * 1000000.0) AS BIGINT)"


def pq_codebook(
    corpus: DataFrame,
    n_codes: int,
    stride: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic PQ codebook: the first ``n_codes`` corpus vectors
    with id divisible by ``stride``, numbered 0..n_codes-1 in id order —
    codeword (s, j) is subspace s of sampled vector j. Deterministic for
    the same reason as :func:`sampled_centroids`: the whole encode/
    score path stays replayable in plain SQL, so the oracle can verify
    it end to end. Returns ``(code_id int, codeword array)``.

    The ``row_number`` below is an UNPARTITIONED window by design — a
    documented bounded-frame use (tests/plan_budget.json): its input is
    already capped at ``n_codes`` rows (16 in the registry entries) by
    the LIMIT beneath it, so the single-task sort touches codebook
    metadata, never data. Dense 0-based codes are what let
    :func:`pq_encode` emit tinyints."""
    w = Window.orderBy(id_col)
    return (
        corpus.where((F.col(id_col) % stride) == 0)
        .orderBy(id_col)
        .limit(n_codes)
        .select(
            (F.row_number().over(w) - 1).alias("code_id"),
            F.col(vec_col).alias("codeword"),
        )
    )


def pq_encode(
    df: DataFrame,
    codebook: DataFrame,
    m: int,
    sub: int,
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantize every vector: for each of the ``m`` subspaces,
    the id of the L2-nearest codeword (ties to the lowest code id).
    Output replaces ``vec_col`` with ``code_0..code_{m-1}`` tinyints —
    at m=8 that is 8 BYTES per vector in the candidate shuffle, versus
    512 for float64 and 64 for the int8 tier.

    Scale shape: the ×n_codes crossJoin against the BROADCAST codebook
    collapses map-side via one groupBy with ``m`` min(struct) partial
    aggregates — the only shuffle carries (id, m codes), never the
    expansion (same pattern as :func:`ivf_assign`)."""
    others = [c for c in df.columns if c != vec_col]
    scored = df.crossJoin(F.broadcast(codebook))
    aggs = [
        F.min(
            F.struct(
                F.expr(_sub_dist_sql(vec_col, "codeword", s, sub)).alias("_d"),
                F.col("code_id").alias("_c"),
            )
        )["_c"]
        .cast("tinyint")
        .alias(f"code_{s}")
        for s in range(m)
    ]
    return scored.groupBy(*others).agg(*aggs)


def knn_ivf_pq(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    m: int = 8,
    n_codes: int = 16,
    code_stride: int = 37,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int = 64,
    rescore_mult: int | None = None,
) -> DataFrame:
    """IVF-PQ (Jegou et al., PAMI'11 — the compressed-residency ANN the
    r8 verdict asked for): IVF cells prune the corpus, product-
    quantization codes stand in for the vectors, and each query scores
    candidates by asymmetric distance computation (ADC) — a per-query
    lookup table of query-subvector x codeword dots, so scoring never
    touches a corpus float.

    All vectors are unit-normalized (guarded, :func:`_unit_norm_sql`)
    before encoding, and the codebook is ``n_codes`` stride-sampled
    normalized corpus vectors split into ``m`` subspaces — fully
    deterministic, so the whole encode/LUT/score path replays in plain
    SQL for the oracle. LUT entries are int64-quantized at 1e-6
    (:func:`_sub_dot_q_sql`), so the per-candidate ADC score — a sum of
    ``m`` integers — is EXACT: no accumulation-order or cross-engine FP
    risk downstream of the LUT build. Returns (query_id, neighbor_id,
    score_q: bigint ~ cosine x 1e6, rank).

    ``rescore_mult``: the canonical IVFPQ+refine step — take the top
    ``k × rescore_mult`` candidates by ADC, then re-rank ONLY those by
    exact rounded cosine against the full vectors (an id-keyed join
    back to the normalized corpus, bounded by queries × k ×
    rescore_mult rows). Recovers most of the recall PQ loses on
    structure-free data while the probe shuffle still moves 8 B codes;
    output columns become (query_id, neighbor_id, cosine, rank).

    Scale shape: codebook broadcast (n_codes rows, once as codeword
    rows for the encode and once folded to a single sorted-array row
    for the LUT); the per-query flat int64 LUT (code-major, length
    m x n_codes) is computed MAP-SIDE on the probe rows and rides
    inside the broadcast probe frame — no distinct, no per-query
    groupBy, no LUT join, and in particular no candidate-sized
    groupBy-sum exchange. Candidates shuffle as (query, id, m codes)
    tinyint tuples — 8 B of payload per vector at m=8, the smallest
    residency of the three ANN tiers (float 512 B, int8 64 B, PQ 8 B);
    each candidate's ADC score is a map-side sum of m ``element_at``
    lookups into the LUT array. The normalized corpus frame is
    persisted: it feeds the codebook sample, the IVF assignment and
    (under ``rescore_mult``) the refine join, and re-deriving the
    unrolled unit-norm per consumer re-pays scan + codegen each time
    (r16 A/B: rescore 5.79 -> 4.55 s min-of-4)."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m

    def unit(df: DataFrame, vcol: str) -> DataFrame:
        others = [c for c in df.columns if c != vcol]
        return df.withColumn("_nrm", F.expr(_unit_norm_sql(vcol, dim))).select(
            *others,
            F.transform(
                F.col(vcol), lambda x: x.cast("double") / F.col("_nrm")
            ).alias(vcol),
        )

    ncorp = caching.persist(unit(corpus.select(id_col, vec_col), vec_col))
    cb = caching.persist(
        pq_codebook(ncorp, n_codes, code_stride, id_col=id_col, vec_col=vec_col),
    )
    assigned = ivf_assign(ncorp, centroids, id_col=id_col, vec_col=vec_col, dim=dim)
    enc = pq_encode(
        assigned.select(id_col, vec_col, "cell"), cb, m, sub, vec_col=vec_col
    )
    nq = unit(
        queries.select(
            F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("_fq")
        ),
        "_fq",
    )
    q_scored = _cell_scores(nq, "_fq", centroids, dim)
    probes = caching.persist(_probe_cells(q_scored, "_fq", nprobe))
    # per-query ADC lookup table: ONE flat int64 array per probe row
    # (index code_id·m + s, code-major), carried inside the broadcast
    # probe frame, so ADC scoring is a map-side array-lookup sum over
    # the candidate stream — no candidate-sized groupBy-sum exchange.
    # r16 shape: the codebook is folded to a SINGLE sorted-array row
    # (code_id ascending — code ids are dense 0..n_codes-1, so array
    # position == code id, the same layout the old array_sort/flatten
    # groupBy produced) and the LUT entries are computed map-side per
    # probe row from that broadcast row. This removes the r15 LUT
    # subplan entirely — probes.distinct + per-query groupBy +
    # probes⋈LUT join (3 query-side exchanges and a second pass over
    # the persisted probe frame) — while every LUT entry is the SAME
    # _sub_dot_q_sql arithmetic in the same order: bit-identical
    # scores (r16 interleaved A/B: pq 3.68→3.40 s, rescore with the
    # ncorp persist 5.79→4.55 s, outputs verified row-identical).
    cb_row = cb.groupBy().agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("code_id").alias("_c"), F.col("codeword").alias("_w")
                )
            )
        ).alias("_cbl")
    )

    def _dot_q_lambda(s: int) -> str:
        # _sub_dot_q_sql with the codeword side addressed through the
        # transform lambda variable (r._w) instead of a backticked
        # column name — same terms, same order, same quantization
        terms = " + ".join(
            f"CAST(element_at(`_fq`, {i}) AS DOUBLE) * "
            f"CAST(element_at(r._w, {i}) AS DOUBLE)"
            for i in _sub_slice(s, sub)
        )
        return (
            f"CAST(ROUND((CAST(0.0 AS DOUBLE) + {terms}) * 1000000.0) "
            "AS BIGINT)"
        )

    lut_sql = (
        "flatten(transform(_cbl, r -> array("
        + ", ".join(_dot_q_lambda(s) for s in range(m))
        + ")))"
    )
    probe_lut = probes.crossJoin(F.broadcast(cb_row)).select(
        "query_id", "cell", F.expr(lut_sql).alias("_lut")
    )
    cand = enc.join(F.broadcast(probe_lut), "cell").where(
        F.col("query_id") != F.col(id_col)
    )
    adc_sum = " + ".join(
        f"element_at(`_lut`, CAST(`code_{s}` AS INT) * {m} + {s + 1})"
        for s in range(m)
    )
    scored = cand.select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        F.expr(f"(CAST(0 AS BIGINT) + {adc_sum})").alias("score_q"),
    )
    adc = _top_neighbors(scored, "score_q", k * (rescore_mult or 1))
    if rescore_mult is None:
        return adc
    # refine: exact rounded cosine over the bounded ADC short-list only.
    # The short-list (≤ queries × k × rescore_mult rows) is explicitly
    # broadcast: without the hint the planner's estimate for the
    # window-filtered frame can pick a sort-merge join and shuffle the
    # CORPUS-sized normalized-vector frame by neighbor_id — the exact
    # "second payload shuffle" §8 of the optimization guide warns about.
    resc = (
        F.broadcast(adc.select("query_id", "neighbor_id"))
        .join(
            ncorp.select(
                F.col(id_col).alias("neighbor_id"),
                F.col(vec_col).alias("_nv"),
            ),
            "neighbor_id",
        )
        .join(F.broadcast(nq), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine_similarity_col("_fq", "_nv", dim=dim).alias("cosine"),
        )
    )
    return _top_neighbors(resc, "cosine", k)
