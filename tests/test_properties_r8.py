"""Property-based tests for the round-8 operators: label propagation
invariants on random graphs, rolling-anomaly parity with a brute-force
Python window replay, and the streaming scorer's pure `_score` against
an independent statistics formulation."""

from __future__ import annotations

import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from vacancy_gpt_etl_pipeline_spark.streaming.anomaly import _score

# ---------------------------------------------------------------------------
# _score (pure Python): against an independent mean/variance formulation
# ---------------------------------------------------------------------------

cents_lists = st.lists(
    st.integers(min_value=0, max_value=50_000), min_size=0, max_size=7
)


@given(cents=cents_lists, v=st.integers(min_value=0, max_value=100_000))
@settings(max_examples=500)
def test_score_matches_two_pass_statistics(cents, v):
    got = _score(cents, v, min_prior=4, z_thresh=3.0)
    n = len(cents)
    if n < 4:
        assert got is None
        return
    vals = [c / 100.0 for c in cents]
    mean = math.fsum(vals) / n
    var_two_pass = math.fsum((x - mean) ** 2 for x in vals) / (n - 1)
    if var_two_pass <= 1e-12:
        # degenerate baseline: the guard must reject (allowing for the
        # one-pass formula's cancellation wiggle near zero)
        assert got is None or got[2] > 3.0
        return
    z_ref = (v / 100.0 - mean) / math.sqrt(var_two_pass)
    if got is None:
        # either below threshold or variance guard — verify via ref
        assert z_ref <= 3.0 + 1e-6
    else:
        n_out, mean_out, z_out = got
        assert n_out == n
        assert math.isclose(mean_out, mean, rel_tol=1e-12, abs_tol=1e-12)
        assert math.isclose(z_out, z_ref, rel_tol=1e-6)
        assert z_out > 3.0


# ---------------------------------------------------------------------------
# label propagation invariants on random graphs (bounded Spark examples)
# ---------------------------------------------------------------------------

edge_lists = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=12),
        st.integers(min_value=0, max_value=12),
    ),
    min_size=1,
    max_size=25,
).filter(lambda es: any(a != b for a, b in es))


@given(edges=edge_lists, iters=st.integers(min_value=1, max_value=3))
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
def test_label_propagation_invariants(spark, edges, iters):
    """(1) every non-isolated node appears exactly once; (2) every
    label is a node id of the SAME connected component (labels cannot
    leak across components); (3) output matches a pure-Python replay
    of the identical deterministic update rule."""
    from vacancy_gpt_etl_pipeline_spark.operators.graph import (
        label_propagation,
    )

    df = spark.createDataFrame(edges, "src: long, dst: long")
    got = {r.node: r.label for r in label_propagation(df, iters).collect()}

    # python replay
    sym: dict[int, set] = {}
    for a, b in edges:
        if a == b:
            continue
        sym.setdefault(a, set()).add(b)
        sym.setdefault(b, set()).add(a)
    labels = {v: v for v in sym}
    for _ in range(iters):
        nxt = {}
        for v, nbrs in sym.items():
            counts: dict[int, int] = {}
            for u in nbrs:
                counts[labels[u]] = counts.get(labels[u], 0) + 1
            nxt[v] = min(counts, key=lambda l: (-counts[l], l))
        labels = nxt
    assert got == labels

    # component containment
    comp = {}
    for v in sym:
        if v in comp:
            continue
        stack, cid = [v], v
        while stack:
            u = stack.pop()
            if u in comp:
                continue
            comp[u] = cid
            stack.extend(sym[u])
    for v, l in got.items():
        assert comp[l] == comp[v], (v, l)


# ---------------------------------------------------------------------------
# shortest_paths against a pure-Python multi-source BFS on random graphs
# ---------------------------------------------------------------------------


@given(
    edges=edge_lists,
    seeds=st.lists(st.integers(min_value=0, max_value=12), max_size=3),
    max_hops=st.integers(min_value=0, max_value=4),
)
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
def test_shortest_paths_matches_python_bfs(spark, edges, seeds, max_hops):
    """Edges are undirected (duplicates, reversed pairs and self-loops
    included); seed 99 is absent from the graph and still reports
    dist 0."""
    from vacancy_gpt_etl_pipeline_spark.operators.graph import shortest_paths

    seeds = seeds + [99]
    df = spark.createDataFrame(edges, "src: long, dst: long")
    src = spark.createDataFrame([(s,) for s in seeds], "node: long")
    got = {r.node: r.dist for r in shortest_paths(df, src, max_hops).collect()}

    adj: dict[int, set] = {}
    for a, b in edges:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    want = {s: 0 for s in seeds}
    level = set(want)
    for hop in range(1, max_hops + 1):
        level = {u for v in level for u in adj.get(v, ())} - set(want)
        want.update((u, hop) for u in level)
    assert got == want
