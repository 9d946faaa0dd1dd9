"""SemDeDup semantic dedup: exact-mirror + quality-bound tests.

The operator is pytest-verified (like lloyd_refine): its keep/drop set is
recomputed EXACTLY by an independent Python implementation of the same
greedy-lowest-id rule over the same deterministic cell assignment, plus
conservative-cap and partition properties.
"""

from __future__ import annotations

import math
import os

import pytest
from pyspark.sql import Row

from vacancy_gpt_etl_pipeline_spark.operators.similarity import semdedup

DIM = 8
STRIDE = 7
N_CENTROIDS = 6
THRESHOLD = 0.95


def _base(g: int) -> list[float]:
    # well-separated deterministic directions, one per group
    return [((g * 31 + i * 17) % 97) / 97.0 + (1.5 if i == g % DIM else 0.1) for i in range(DIM)]


def _fixture() -> list[tuple[int, list[float]]]:
    rows = []
    for g in range(10):
        base = _base(g)
        rows.append((g * 10, base))
        # scalar multiple: cosine exactly 1.0
        rows.append((g * 10 + 1, [x * 1.5 for x in base]))
        if g % 2 == 0:
            # one bumped coordinate: near-dup but not identical direction
            bumped = list(base)
            bumped[0] += 0.05
            rows.append((g * 10 + 2, bumped))
    return rows


def _cos(a, b) -> float:
    dot = 0.0
    for x, y in zip(a, b):
        dot = dot + x * y
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(y * y for y in b))
    return round(dot / (na * nb), 6)


def _expected(rows):
    # mirror sampled_centroids: ids % STRIDE == 0, ordered, first N
    cents = [(i, v) for i, v in sorted(rows) if i % STRIDE == 0][:N_CENTROIDS]
    assign = {}
    for i, v in rows:
        best = max(cents, key=lambda c: (_cos(v, c[1]), -c[0]))
        assign[i] = best[0]
    dropped = set()
    by_id = dict(rows)
    ids = sorted(by_id)
    for j, b in enumerate(ids):
        for a in ids[:j]:
            if assign[a] == assign[b] and _cos(by_id[a], by_id[b]) >= THRESHOLD:
                dropped.add(b)
                break
    return assign, dropped


def test_semdedup_matches_python_mirror(spark):
    rows = _fixture()
    df = spark.createDataFrame([Row(vec_id=i, embedding=v) for i, v in rows])
    out = semdedup(
        df, N_CENTROIDS, STRIDE, threshold=THRESHOLD, dim=DIM
    ).collect()
    assign, dropped = _expected(rows)
    survivors = {r.vec_id for r in out}
    assert survivors == {i for i, _ in rows} - dropped
    assert all(assign[r.vec_id] == r.cell for r in out)
    # every group's scalar-multiple member (cos exactly 1 with a lower id
    # in the same cell when co-assigned) must be gone
    for g in range(10):
        if assign[g * 10] == assign[g * 10 + 1]:
            assert g * 10 + 1 not in survivors


def test_semdedup_drop_precision(spark):
    # every dropped id has a TRUE near-dup (cos >= threshold) with a
    # lower id somewhere in the corpus — never a false drop
    rows = _fixture()
    df = spark.createDataFrame([Row(vec_id=i, embedding=v) for i, v in rows])
    survivors = {
        r.vec_id
        for r in semdedup(
            df, N_CENTROIDS, STRIDE, threshold=THRESHOLD, dim=DIM
        ).collect()
    }
    by_id = dict(rows)
    for i in set(by_id) - survivors:
        assert any(
            _cos(by_id[i], by_id[j]) >= THRESHOLD for j in by_id if j < i
        ), i


def test_semdedup_oversized_cells_are_kept_conservatively(spark):
    """PARTIAL cap: cells over max_cell keep all members (with a
    warning); the remaining cells still dedup per the exact mirror."""
    import warnings

    rows = _fixture()
    assign, _ = _expected(rows)
    sizes: dict[int, int] = {}
    for c in assign.values():
        sizes[c] = sizes.get(c, 0) + 1
    cap = max(sizes.values()) - 1
    assert min(sizes.values()) <= cap, "fixture must give uneven cells"
    capped_cells = {c for c, s in sizes.items() if s > cap}
    df = spark.createDataFrame([Row(vec_id=i, embedding=v) for i, v in rows])
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = semdedup(
            df, N_CENTROIDS, STRIDE, threshold=THRESHOLD, dim=DIM,
            max_cell=cap,
        ).collect()
    assert any(
        issubclass(w.category, RuntimeWarning)
        and "max_cell" in str(w.message)
        for w in caught
    )
    survivors = {r.vec_id for r in out}
    by_id = dict(rows)
    ids = sorted(by_id)
    expect = set()
    for j, b in enumerate(ids):
        if assign[b] in capped_cells:
            expect.add(b)  # conservative total keep in capped cells
            continue
        if not any(
            assign[a] == assign[b]
            and _cos(by_id[a], by_id[b]) >= THRESHOLD
            for a in ids[:j]
        ):
            expect.add(b)
    assert survivors == expect


def test_semdedup_degenerate_sizing_raises(spark):
    """EVERY cell over max_cell would make the operator a silent no-op
    (the 50x misconfiguration BENCH_SCALE exposed) — it must refuse."""
    import pytest

    rows = _fixture()
    df = spark.createDataFrame([Row(vec_id=i, embedding=v) for i, v in rows])
    with pytest.raises(ValueError, match="degenerate sizing"):
        semdedup(
            df, N_CENTROIDS, STRIDE, threshold=THRESHOLD, dim=DIM,
            max_cell=1,
        )


def test_two_level_assignment_dedup_parity(spark):
    """ivf_assign_two_level's pair-co-assignment claim: on a gaussian
    corpus with planted paraphrase copies, semdedup over the two-level
    assignment drops (almost exactly) the same set as over exact
    assignment — even though per-vector Voronoi agreement is low on
    structure-free data."""
    import numpy as np
    from pyspark.sql import functions as F

    from vacancy_gpt_etl_pipeline_spark.operators.similarity import (
        ivf_assign_two_level,
        sampled_centroids,
        semdedup,
    )

    rng = np.random.default_rng(17)
    n, dim, n_copy = 600, 16, 60
    v = rng.normal(0, 1, (n, dim))
    src = rng.integers(0, n - n_copy, n_copy)
    v[n - n_copy :] = 0.97 * v[src] + rng.normal(0, 0.01, (n_copy, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(v)],
        "vec_id long, embedding array<double>",
    )
    cents = sampled_centroids(df, 24, 7)
    exact = {
        r.vec_id
        for r in semdedup(df, 24, 7, threshold=0.9, dim=dim).collect()
    }
    assigned = ivf_assign_two_level(df, cents, dim=dim)
    two = {
        r.vec_id
        for r in semdedup(
            df, 24, 7, threshold=0.9, dim=dim, assigned=assigned
        ).collect()
    }
    drops_exact = n - len(exact)
    drops_two = n - len(two)
    assert drops_exact > 0  # the planting planted
    # drop-set parity within 10% of the drop count (measured ~1% at
    # 20k vectors; small-n is noisier)
    assert abs(drops_two - drops_exact) <= max(3, drops_exact // 10)
    assert len(exact ^ two) <= max(6, drops_exact // 5)


def test_two_level_assignment_output_contract(spark):
    from pyspark.sql import functions as F

    from vacancy_gpt_etl_pipeline_spark.operators.similarity import (
        ivf_assign,
        ivf_assign_two_level,
        sampled_centroids,
    )

    emb = spark.read.parquet(
        f"{__import__('os').environ.get('SPARK_GRAFT_SF_DIR', '/root/testdata/sf0.001')}/embeddings.parquet"
    ).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    cents = sampled_centroids(emb, 8, 11)
    out = ivf_assign_two_level(emb, cents, dim=64)
    assert out.columns == ["vec_id", "embedding", "cell"]
    n = emb.count()
    assert out.count() == n  # total: every vector gets exactly one cell
    assert out.select("vec_id").distinct().count() == n
    # every assigned cell is a real centroid id
    cells = {r.cell for r in out.select("cell").distinct().collect()}
    valid = {r.cell for r in cents.collect()}
    assert cells <= valid


def test_semdedup_auto_routes_large_cell_counts_two_level(spark):
    """r12 verdict item 2: above ``two_level_threshold`` the operator
    routes assignment through ivf_assign_two_level BY ITSELF — the
    production C ∝ n sizing must not silently fall back to the
    quadratic brute-force path. Pinned two ways: (a) the auto-routed
    result equals semdedup over an explicitly injected two-level
    assignment (bit-identical survivors — same code path), and (b) it
    stays within parity distance of the exact-assignment result."""
    import numpy as np

    from vacancy_gpt_etl_pipeline_spark.operators.similarity import (
        ivf_assign_two_level,
        sampled_centroids,
        semdedup,
    )

    rng = np.random.default_rng(23)
    n, dim, n_copy = 500, 16, 50
    v = rng.normal(0, 1, (n, dim))
    src = rng.integers(0, n - n_copy, n_copy)
    v[n - n_copy :] = 0.97 * v[src] + rng.normal(0, 0.01, (n_copy, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(v)],
        "vec_id long, embedding array<double>",
    )
    n_cells, stride = 80, 7  # > two_level_threshold=64
    auto = {
        r.vec_id
        for r in semdedup(df, n_cells, stride, threshold=0.9, dim=dim).collect()
    }
    cents = sampled_centroids(df, n_cells, stride)
    injected = {
        r.vec_id
        for r in semdedup(
            df, n_cells, stride, threshold=0.9, dim=dim,
            assigned=ivf_assign_two_level(df, cents, dim=dim),
        ).collect()
    }
    assert auto == injected  # (a) identical path
    exact = {
        r.vec_id
        for r in semdedup(
            df, n_cells, stride, threshold=0.9, dim=dim,
            two_level_threshold=10_000,  # force brute-force assignment
        ).collect()
    }
    drops_exact = n - len(exact)
    assert drops_exact > 0
    assert abs((n - len(auto)) - drops_exact) <= max(3, drops_exact // 10)


def test_semdedup_incremental_gate_invariants(spark):
    """Embedding member of the incremental family: planted near-copies
    of history are vetoed when co-assigned, every dropped batch vector
    has a same-cell history match ≥ threshold, within-batch near-dups
    both survive, and an over-full history cell loses its veto
    (admit-direction cap)."""
    import numpy as np

    from vacancy_gpt_etl_pipeline_spark.operators.similarity import (
        ivf_assign,
        sampled_centroids,
        semdedup_incremental,
    )

    rng = np.random.default_rng(31)
    dim = 16
    hv = rng.normal(0, 1, (300, dim))
    hv /= np.linalg.norm(hv, axis=1, keepdims=True)
    hist = spark.createDataFrame(
        [(i, [float(x) for x in r]) for i, r in enumerate(hv)],
        "vec_id long, embedding array<double>",
    )
    # batch: 40 fresh gaussians + 30 near-copies of history + a
    # within-batch near-dup PAIR (both fresh)
    fresh = rng.normal(0, 1, (40, dim))
    fresh /= np.linalg.norm(fresh, axis=1, keepdims=True)
    pair_base = fresh[0]
    rows = [(1000 + i, [float(x) for x in r]) for i, r in enumerate(fresh)]
    rows += [
        (2000 + i, [float(x) for x in (hv[i] * 2.0 + 0.001)])
        for i in range(30)
    ]
    rows.append((3000, [float(x) for x in (pair_base * 0.999)]))
    batch = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    cents = sampled_centroids(hist, 12, 7)
    out = semdedup_incremental(batch, hist, cents, threshold=0.9, dim=dim)
    survivors = {r.vec_id for r in out.collect()}
    # the within-batch near-dup pair both survive (history-only veto)
    assert 1000 in survivors and 3000 in survivors
    # dropped == batch vectors with a same-cell history cosine >= 0.9
    ha = {
        r.vec_id: r.cell
        for r in ivf_assign(hist, cents, dim=dim).collect()
    }
    ba = {
        r.vec_id: r.cell
        for r in ivf_assign(batch, cents, dim=dim).collect()
    }
    hv_by_cell: dict[int, list] = {}
    for i, c in ha.items():
        hv_by_cell.setdefault(c, []).append(hv[i])
    for r in batch.collect():
        v = np.array(r.embedding)
        v = v / np.linalg.norm(v)
        cell = ba[r.vec_id]
        vetoed = any(
            round(float(np.dot(v, h / np.linalg.norm(h))), 6) >= 0.9
            for h in hv_by_cell.get(cell, [])
        )
        assert (r.vec_id not in survivors) == vetoed, r.vec_id
    # admit-direction cap: max_cell=0 removes every veto
    capped = semdedup_incremental(
        batch, hist, cents, threshold=0.9, dim=dim, max_cell=0
    )
    assert capped.count() == batch.count()


def test_two_level_n_cent_hint_matches_counted(spark):
    # r16: the n_cent hint skips the eager centroids.count() job; the
    # assignment must be IDENTICAL to the counted path when the hint
    # equals the true centroid count (the registry call site's contract)
    from vacancy_gpt_etl_pipeline_spark.operators.similarity import (
        ivf_assign_two_level,
        sampled_centroids,
    )

    corpus = spark.createDataFrame(
        [Row(vec_id=i, embedding=_base(i % 10)) for i in range(60)]
    )
    cents = sampled_centroids(corpus, N_CENTROIDS, STRIDE)
    n_true = cents.count()
    counted = sorted(
        (r.vec_id, r.cell)
        for r in ivf_assign_two_level(corpus, cents, dim=DIM).collect()
    )
    hinted = sorted(
        (r.vec_id, r.cell)
        for r in ivf_assign_two_level(
            corpus, cents, dim=DIM, n_cent=n_true
        ).collect()
    )
    assert hinted == counted


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_two_level_registry_hint_is_full_at_every_fixture_sf(spark, sf_dir, sf):
    # semdedup_2level_survivors passes n_cent=_IVF_CELLS instead of
    # counting its sampled centroids; that hint is only sound while the
    # stride sample over its planted union is full
    from vacancy_gpt_etl_pipeline_spark.operators.similarity import sampled_centroids
    from vacancy_gpt_etl_pipeline_spark.queries import (
        _IVF_CELLS,
        _IVF_STRIDE,
        _planted_embeddings,
    )

    u = _planted_embeddings(spark, os.path.join(os.path.dirname(sf_dir), sf))
    assert sampled_centroids(u, _IVF_CELLS, _IVF_STRIDE).count() == _IVF_CELLS
