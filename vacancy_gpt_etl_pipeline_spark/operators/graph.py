"""Distributed connected components — the clustering stage of a dedup
pipeline.

The near-dup operators (operators/dedup.py) emit PAIRS ``(id_a, id_b,
score)``; an actual dedup decision needs CLUSTERS: the transitive closure
of the pair relation, one canonical survivor per component. (The reference
pipeline only ever needs exact keyed dedup — dag/vacancy_pipline_gpt_rerty
.py:125 — so this whole stage is a scale extension, not reference parity.)

Algorithm: alternating large-star / small-star (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC 2014) expressed as
pure DataFrame ops. Each round is two groupBy shuffles over the current
edge list; the edge list contracts toward a star forest in O(log n)
rounds — at 100 TB of pairs this beats O(diameter) label propagation,
whose round count is unbounded on chain-shaped duplicate runs (common in
crawl data: doc A ~ B ~ C ~ ... each within threshold of the next).

Scale notes:
- Only ``(long, long)`` edge tuples are ever shuffled — payloads, texts
  and scores never enter the iteration.
- Lineage is truncated each round with ``localCheckpoint`` (iterative
  plans otherwise grow exponentially and stall the optimizer long before
  the cluster runs out of compute).
- Convergence is detected with a single aggregate (count + order-
  independent hash checksum) per round, not a driver-side collect of the
  edge list.
"""

from __future__ import annotations

import sys
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vacancy_gpt_etl_pipeline_spark.operators.caching import (
    CacheScope,
    persist_in,
)

def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star round: every node u connects each strictly-larger
    neighbor to u's current minimum (min over N(u) ∪ {u})."""
    nbrs = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    mins = nbrs.groupBy("src").agg(
        F.least(F.min("dst"), F.first("src")).alias("_m")
    )
    return (
        nbrs.join(mins, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("_m").alias("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round: orient edges high→low, then connect every
    smaller-or-equal neighbor (and u itself) to u's minimum neighbor."""
    oriented = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    )
    mins = oriented.groupBy("src").agg(F.min("dst").alias("_m"))
    out = (
        oriented.join(mins, "src")
        .select(F.col("dst").alias("src"), F.col("_m").alias("dst"))
        .union(mins.select(F.col("src"), F.col("_m").alias("dst")))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    return out


def _edge_fingerprint(edges: DataFrame) -> tuple[int, int]:
    """(count, order-independent checksum) in ONE job — the convergence
    test without collecting edges to the driver."""
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        # decimal(38,0) accumulator: a plain long sum of 64-bit hashes
        # overflows under ANSI mode
        F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(row["n"]), int(row["h"] or 0)


def connected_components(
    pairs: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components of the undirected graph given by ``pairs``.

    Returns ``(node, component)`` for every node that appears in at least
    one pair, where ``component`` is the MINIMUM node id in the node's
    component (a deterministic canonical label — the same survivor-choice
    rule as dedup_exact_text's ``min(id)``).

    Alternates large-star / small-star until the edge fingerprint is
    stable between rounds (the paper's convergence criterion: both
    operations are no-ops exactly when the graph is a disjoint union of
    min-rooted stars). ``max_iter`` is a safety bound — O(log n) rounds
    suffice, so 25 covers any graph this engine will ever see; hitting it
    raises ``RuntimeError`` rather than return a partial labelling.
    """
    edges = (
        pairs.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    prev = _edge_fingerprint(edges)
    for rounds in range(1, max_iter + 1):
        edges = _small_star(_large_star(edges)).localCheckpoint(eager=True)
        cur = _edge_fingerprint(edges)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"connected components did not converge within {max_iter} "
            "rounds; raise max_iter (the graph is deeper than expected)"
        )
    print(
        f"[graph] connected_components: {rounds} rounds, {prev[0]} edges",
        file=sys.stderr,
    )
    # Converged state is a star forest of (child → root) edges with
    # root = component minimum; roots name their own component.
    children = edges.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    roots = edges.select(F.col("dst").alias("node"), F.col("dst").alias("component"))
    return children.union(roots).distinct()


def dedup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Near-dup pairs → duplicate clusters: ``(doc_id, cluster_id)`` with
    ``cluster_id`` = min doc_id in the transitive-closure component. Docs
    not in any pair are singletons and are intentionally absent (callers
    left-anti-join or coalesce to keep them; this keeps the operator's
    shuffle proportional to the duplicate subgraph, not the corpus)."""
    cc = connected_components(pairs, src=id_a, dst=id_b, max_iter=max_iter)
    return cc.select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )


PAGERANK_SCALE = 10**12


def pagerank(
    edges: DataFrame,
    iterations: int = 5,
    scale: int = PAGERANK_SCALE,
    cache_scope: CacheScope | None = None,
) -> DataFrame:
    """Integer-quantized PageRank: ranks live in fixed-point units of
    1/scale with ALL arithmetic in exact BIGINT (floor division for the
    per-edge contribution and the damping step, order-independent BIGINT
    sums). The quantization is the point — float PageRank sums
    contributions in partition order and can't hash-match a second
    engine, while this variant is bit-reproducible ANYWHERE: the
    registry oracle replays it in plain SQL as unrolled CTEs.

    rank₀ = scale ÷ n for every node;
    rankₖ₊₁ = (15·scale) ÷ (100·n) + (85·Σ_{(u→v)} rankₖ(u) ÷ deg(u)) ÷ 100
    (÷ is floor division; mass shaved by flooring is deliberately lost —
    the quantized variant is its own well-defined fixpoint).

    Contract: ``edges`` is directed (src, dst), deduplicated by the
    operator, and every node must appear as a src — symmetrize or add
    self-loops for dangling nodes (the registry query symmetrizes a
    bipartite supplier↔part graph, which guarantees it).

    Scale shape: each iteration is ONE aggregation shuffle (groupBy dst)
    plus an equi-join on the src key; only (long, long, long) tuples
    move. The degree-annotated edge frame and the node frame are
    PERSISTED once — before r8 the loop re-joined ``deg`` and
    re-derived ``nodes`` (a distinct over edges) on every iteration,
    5 redundant edge-sized passes at T=5 (measured 6.4 s → 4.3 s warm
    at sf0.1). The rank frame is node-sized, never edge-sized. Fixed
    ``iterations`` keeps the lineage linear in T (each rank frame feeds
    exactly one join), so no checkpointing is needed at T≈5;
    unbounded-round loops should localCheckpoint like
    connected_components.
    """
    e = (
        edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))
        .distinct()
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("_deg"))
    # persisted loop invariants; released via cache_scope when given
    # (operators/caching contract — fire-and-forget otherwise)
    ej = persist_in(e.join(deg, "src").select("src", "dst", "_deg"), cache_scope)
    nodes = persist_in(
        ej.select(F.col("src").alias("node")).distinct(), cache_scope
    )
    n = nodes.count()  # one scalar job — the n in the closed-form constants
    init = scale // n
    base = (15 * scale) // (100 * n)
    rank = nodes.select("node", F.lit(init).cast("long").alias("rank"))
    for _ in range(iterations):
        contrib = rank.join(ej, rank["node"] == ej["src"]).select(
            F.col("dst").alias("node"),
            F.expr("rank DIV _deg").alias("_c"),
        )
        summed = contrib.groupBy("node").agg(F.sum("_c").alias("_m"))
        rank = nodes.join(summed, "node", "left").select(
            "node",
            (
                F.lit(base).cast("long")
                + F.expr("85 * coalesce(_m, 0L) DIV 100")
            ).alias("rank"),
        )
    return rank


def count_triangles(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts via degree-ordered edge orientation
    (the Suri–Vassilvitskii MapReduce pattern, WWW 2011) in pure
    DataFrame ops. Extension beyond the reference (which has no graph
    stage at all); triangles are the standard cohesion signal for
    community pruning in crawl/link graphs.

    Contract: ``edges`` has columns (src, dst), interpreted as
    UNDIRECTED; duplicates, reversed duplicates, and self-loops are
    removed here. Returns ``(node, n_triangles)`` for every node in at
    least one triangle.

    Why orientation matters at 100 TB: counting wedges around every
    node costs Σ deg(v)² — a single celebrity hub with deg 10⁷ makes
    10¹⁴ wedges. Orienting every edge from its (degree, id)-smaller to
    its (degree, id)-larger endpoint caps every node's OUT-degree at
    O(√m), so the wedge stream is Σ outdeg(v)² ≤ O(m^1.5) — the proven
    optimum for exact counting — and no single key can blow up a
    reducer. The shapes that move:
    - canonical edge set + degree: two small shuffles of (long, long);
    - wedge generation: ONE self-join on the wedge apex u;
    - closure: the wedge stream probes the oriented edge set on
      (v, w) — edge-sized build side, wedge stream never shuffles for
      a second time;
    - per-node attribution: triangles explode ×3 then aggregate.
    """
    a, b = F.least("src", "dst"), F.greatest("src", "dst")
    und = (
        edges.select(a.cast("long").alias("a"), b.cast("long").alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # orient each edge from (deg, id)-smaller endpoint to larger; keep
    # the head's (deg, id) so the wedge join can order its two heads
    # without re-joining degree
    withdeg = (
        und.join(deg.withColumnRenamed("node", "a").withColumnRenamed("deg", "da"), "a")
        .join(deg.withColumnRenamed("node", "b").withColumnRenamed("deg", "db"), "b")
    )
    fwd = F.struct("da", "a") < F.struct("db", "b")
    oriented = withdeg.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(fwd, F.col("db")).otherwise(F.col("da")).alias("dv"),
    )
    e1 = oriented.select(
        F.col("u"), F.col("v").alias("v1"), F.col("dv").alias("d1")
    )
    e2 = oriented.select(
        F.col("u"), F.col("v").alias("v2"), F.col("dv").alias("d2")
    )
    wedges = e1.join(e2, "u").where(
        F.struct("d1", "v1") < F.struct("d2", "v2")
    )
    closing = oriented.select(
        F.col("u").alias("v1"), F.col("v").alias("v2")
    )
    triangles = wedges.join(closing, ["v1", "v2"], "left_semi")
    return (
        triangles.select(
            F.explode(F.array("u", "v1", "v2")).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


class KCoreResult(NamedTuple):
    """k_core outcome: the core frame plus explicit convergence facts —
    returned, not signalled through module globals (r6 ADVICE: globals
    are racy under concurrent callers and easy to read stale)."""

    frame: DataFrame
    rounds: int
    converged: bool


def k_core_detailed(
    edges: DataFrame, k: int, max_iter: int = 12
) -> KCoreResult:
    """Nodes of the k-core: the maximal subgraph where every node keeps
    degree ≥ k — the standard graph-side quality filter (peel away
    weakly-connected crawl pages / spam rings before expensive
    per-community work). Returns ``(node, core_degree)``.

    Algorithm: iterative peeling. Each round drops nodes whose CURRENT
    degree is below k and restricts the edge set to survivors; the edge
    count is monotone non-increasing, so an unchanged count IS the
    fixpoint test (one 1-row aggregate per round — no edge collect).
    Rounds are two keyed shuffles over (long, long) edges;
    ``localCheckpoint`` truncates the per-round lineage exactly like
    connected_components. Real-world degeneracy is small, so the round
    count stays low; the registry oracle replays the SAME peeling as a
    fixed-depth unrolled SQL CTE chain and tests assert the Spark loop
    converged within that depth.

    Returns :class:`KCoreResult`; ``converged=False`` means max_iter
    rounds ran without reaching the fixpoint and ``frame`` is the
    partially-peeled (superset) edge census, NOT the k-core — callers
    that need a guarantee should use :func:`k_core`, which raises."""
    a, b = F.least("src", "dst"), F.greatest("src", "dst")
    current = (
        edges.select(a.cast("long").alias("a"), b.cast("long").alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_edges = current.count()
    converged = False
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        deg = (
            current.select(F.col("a").alias("node"))
            .unionAll(current.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        keep = deg.where(F.col("deg") >= k).select("node")
        pruned = current.join(
            keep.withColumnRenamed("node", "a"), "a", "left_semi"
        ).join(keep.withColumnRenamed("node", "b"), "b", "left_semi")
        pruned = pruned.localCheckpoint(eager=True)
        n_new = pruned.count()
        current = pruned
        if n_new == n_edges:
            converged = True
            break
        n_edges = n_new
    census = (
        current.select(F.col("a").alias("node"))
        .unionAll(current.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("core_degree"))
    )
    return KCoreResult(census, rounds, converged)


def k_core(edges: DataFrame, k: int, max_iter: int = 12) -> DataFrame:
    """:func:`k_core_detailed` with a convergence GUARANTEE: returns
    the (node, core_degree) frame, raising RuntimeError if the peeling
    did not reach its fixpoint within ``max_iter`` rounds — a partial
    peel is a superset of the k-core and silently returning it would
    poison downstream filters."""
    result = k_core_detailed(edges, k, max_iter=max_iter)
    if not result.converged:
        raise RuntimeError(
            f"k-core peeling did not converge within {max_iter} rounds; "
            "raise max_iter (degeneracy is higher than expected)"
        )
    return result.frame


def label_propagation(
    edges: DataFrame,
    iterations: int = 3,
    cache_scope: CacheScope | None = None,
    edges_canonical: bool = False,
) -> DataFrame:
    """Deterministic synchronous label propagation (community
    detection): label₀(v) = v; labelₖ₊₁(v) = the most frequent label
    among v's neighbors at step k, ties broken by SMALLEST label — the
    classic near-linear community heuristic (Raghavan et al. 2007) made
    engine-reproducible by pinning BOTH tie-breaks (count, then label)
    instead of the paper's random choice. Returns ``(node, label)`` for
    every non-isolated node after EXACTLY ``iterations`` rounds — a
    fixed-depth variant, so the output is a well-defined function of
    the graph even where synchronous LPA would oscillate (bipartite
    flip-flop), and the registry oracle can replay it as unrolled SQL.

    Scale shape: each round is one equi-join of the label frame into
    the symmetrized edge list (both (long, long) frames) plus a
    two-level aggregate — (v, label) counts, then a per-v arg-min over
    ``struct(-count, label)``. Edges are persisted once; the label
    frame is node-sized. Lineage is linear in the fixed round count, so
    no checkpointing is needed at the default depth.

    ``edges_canonical=True``: caller guarantees single-orientation
    pairs (duplicates fine), letting the post-union distinct drop —
    the distinct single-orientation set and its reversal are disjoint,
    so their union is already distinct. One shuffle over E instead of
    E + 2E (same contract as :func:`shortest_paths`)."""
    e = (
        edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    sym_u = e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    sym = persist_in(
        sym_u if edges_canonical else sym_u.distinct(),
        cache_scope,
    )
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
    )
    for _ in range(iterations):
        nbr = sym.join(
            labels.select(
                F.col("node").alias("_n"), F.col("label").alias("_l")
            ),
            F.col("dst") == F.col("_n"),
        ).select(F.col("src").alias("v"), F.col("_l").alias("label"))
        counts = nbr.groupBy("v", "label").agg(
            F.count(F.lit(1)).alias("_c")
        )
        best = counts.groupBy("v").agg(
            F.min(
                F.struct((-F.col("_c")).alias("_nc"), F.col("label"))
            ).alias("_b")
        )
        labels = best.select(
            F.col("v").alias("node"), F.col("_b.label").alias("label")
        )
    return labels


def shortest_paths(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 6,
    cache_scope: CacheScope | None = None,
    checkpoint_every: int = 8,
    edges_canonical: bool = False,
) -> DataFrame:
    """Multi-source BFS hop distances on an UNDIRECTED graph: returns
    ``(node, dist)`` with the minimum number of hops from any source
    node, exploring at most ``max_hops`` levels (unreached nodes are
    absent). Classic frontier-expansion BFS made distributed: each
    level is ONE equi-join of the current frontier into the symmetrized
    edge list (shuffle keyed on node id) plus a LEFT ANTI join against
    the settled set — nodes are expanded exactly once, so total work is
    O(edges within the explored ball), never O(edges × hops). The
    frontier and settled frames are persisted per level (released via
    ``cache_scope``) and the frontier count doubles as the early-exit
    fixpoint probe, so a graph with eccentricity < max_hops stops
    early. Lineage is truncated with ``localCheckpoint`` every
    ``checkpoint_every`` levels — same pattern as
    :func:`connected_components` / k-core — so deep (hundred-hop)
    traversals don't blow up plan size or re-execute the whole prefix
    on cache eviction; between checkpoints lineage growth is bounded by
    the interval.

    Isolated sources (no edges) still report dist 0 — "distance to the
    nearest seed" is well-defined for the seed itself.

    ``edges_canonical=True`` is the caller's guarantee that every pair
    appears in a single orientation only (e.g. always ``src < dst``;
    duplicates are fine — the operator dedups). The symmetrizing union
    of a distinct single-orientation set with its reversal is distinct
    by construction (the two orientations are disjoint sets), so the
    distinct moves BEFORE the union — one shuffle over E rows instead
    of 2E (optimization guide §2.3, shuffle fewer bytes). Semantics
    are identical; only the exchange placement changes."""
    if max_hops < 0:
        raise ValueError(f"max_hops must be >= 0, got {max_hops}")
    if checkpoint_every < 1:
        raise ValueError(
            f"checkpoint_every must be >= 1, got {checkpoint_every}"
        )
    # no pre-union distinct in the generic path: the post-union distinct
    # dedups everything, so a second shuffle over the raw edge list
    # would be pure overhead
    e = edges.select(
        F.col("src").cast("long"), F.col("dst").cast("long")
    ).where(F.col("src") != F.col("dst"))
    if edges_canonical:
        e = e.distinct()
        sym = persist_in(
            e.union(
                e.select(
                    F.col("dst").alias("src"), F.col("src").alias("dst")
                )
            ),
            cache_scope,
        )
    else:
        sym = persist_in(
            e.union(
                e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            ).distinct(),
            cache_scope,
        )
    src_col = sources.columns[0]
    frontier = persist_in(
        sources.select(F.col(src_col).cast("long").alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("bigint")),
        cache_scope,
    )
    settled = frontier
    for hop in range(1, max_hops + 1):
        reached = (
            frontier.join(sym, F.col("node") == F.col("src"))
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        fresh = persist_in(
            reached.join(settled, "node", "left_anti").withColumn(
                "dist", F.lit(hop).cast("bigint")
            ),
            cache_scope,
        )
        if fresh.count() == 0:  # materializes the persist + fixpoint probe
            break
        settled = persist_in(settled.union(fresh), cache_scope)
        frontier = fresh
        if hop % checkpoint_every == 0:
            # truncate the union-chain lineage; eager so the cut
            # happens now, while the per-level persists are still warm
            settled = settled.localCheckpoint(eager=True)
            frontier = frontier.localCheckpoint(eager=True)
    return settled
