"""The cache-owner rule (operators/caching.py): every persist and
checkpoint in the package goes through ``caching.persist`` /
``caching.checkpoint``, and a ``CacheScope`` region frees all of them
when it exits — after the sink, or when the sink raises."""

from __future__ import annotations

import ast
import os
import random

import pandas as pd
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from vacancy_gpt_etl_pipeline_spark.operators.caching import CacheScope

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "vacancy_gpt_etl_pipeline_spark",
)
CACHE_METHODS = {"persist", "cache", "localCheckpoint"}


def _bare_cache_calls() -> list[str]:
    """``file:line .method(`` for every persist/cache/localCheckpoint
    call in the package that is not a ``caching.<helper>`` call or
    inside ``operators/caching.py``."""
    found = []
    for root, _, files in os.walk(PKG):
        for name in files:
            path = os.path.join(root, name)
            rel = os.path.relpath(path, PKG)
            if not name.endswith(".py") or rel == os.path.join(
                "operators", "caching.py"
            ):
                continue
            with open(path, encoding="utf-8") as f:
                tree = ast.parse(f.read(), filename=path)
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in CACHE_METHODS
                    and not (
                        isinstance(node.func.value, ast.Name)
                        and node.func.value.id == "caching"
                    )
                ):
                    found.append(f"{rel}:{node.lineno} .{node.func.attr}(")
    return found


def test_every_cache_call_goes_through_caching():
    assert _bare_cache_calls() == []


def _rdd_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def _cache_manager_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.fixture
def clean(spark):
    """Entry state of a leak test: no cached relations, and the set of
    persistent RDDs other tests left behind."""
    spark.catalog.clearCache()
    return _rdd_ids(spark)


def _assert_freed(spark, before: set[int]) -> None:
    assert _rdd_ids(spark) - before == set()
    assert _cache_manager_empty(spark)


# ------------------------------------------------------------- leak tests


@pytest.mark.parametrize(
    "entry", ["dedup_cc_clusters", "kcore_parts", "multimodal_dedup_manifest"]
)
def test_region_frees_registry_entry(spark, sf_dir, clean, entry):
    from vacancy_gpt_etl_pipeline_spark.queries import REGISTRY

    with CacheScope(spark):
        REGISTRY[entry].spark(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        assert _rdd_ids(spark) - clean  # the entry did cache something
    _assert_freed(spark, clean)


def test_region_frees_registry_entry_when_sink_raises(
    spark, sf_dir, clean, tmp_path
):
    from pyspark.errors import AnalysisException

    from vacancy_gpt_etl_pipeline_spark.queries import REGISTRY

    taken = tmp_path / "taken"
    taken.mkdir()
    with pytest.raises(AnalysisException):
        with CacheScope(spark):
            out = REGISTRY["dedup_cc_clusters"].spark(spark, sf_dir)
            assert _rdd_ids(spark) - clean  # round checkpoints are live
            out.write.mode("error").parquet(str(taken))
    _assert_freed(spark, clean)


def _vacancy_csv(path, rows):
    pd.DataFrame(
        rows,
        columns=["id", "title", "ai_field_of_activity", "salary_to", "created_at"],
    ).to_csv(path, index=False, encoding="utf-8-sig")


def test_region_frees_pipeline_enrichment_caches(spark, clean, tmp_path):
    from vacancy_gpt_etl_pipeline_spark.operators.enrichment import (
        KeywordRule,
        MockKeywordEnricher,
    )
    from vacancy_gpt_etl_pipeline_spark.plans.pipeline import run_pipeline
    from vacancy_gpt_etl_pipeline_spark.sources.sinks import write_parquet

    src = tmp_path / "in"
    src.mkdir()
    _vacancy_csv(
        src / "vacancies_20240101_000000.csv",
        [
            ["1", "Аналитик данных", "финтех", 250000, "2024-01-10"],
            ["2", "Разработчик", "айти", 300000, "2024-01-11"],
        ],
    )
    title = MockKeywordEnricher(
        rules=[KeywordRule("аналитик", {"normalized_title": "Аналитик"})],
        outputs=("normalized_title",),
    )
    field = MockKeywordEnricher(
        rules=[KeywordRule("айти", {"category": "IT", "specialization": "Web"})],
        outputs=("category", "specialization"),
    )
    with CacheScope(spark):
        out = run_pipeline(spark, str(src), title, field, max_retries=0)
        write_parquet(out, str(tmp_path / "out"))
        assert _rdd_ids(spark) - clean  # key sets and mappings persisted
    _assert_freed(spark, clean)
    assert spark.read.parquet(str(tmp_path / "out")).count() == 2


def test_region_frees_semdedup_cache_when_sizing_guard_raises(spark, clean):
    from vacancy_gpt_etl_pipeline_spark.operators.similarity import semdedup

    rng = random.Random(7)
    corpus = spark.createDataFrame(
        [
            Row(vec_id=i, embedding=[rng.gauss(0, 1) for _ in range(8)])
            for i in range(40)
        ]
    )
    with pytest.raises(ValueError, match="degenerate sizing"):
        with CacheScope(spark):
            semdedup(corpus, 2, 7, dim=8, max_cell=1)
    _assert_freed(spark, clean)


def test_nested_region_frees_its_own_blocks_first(spark, clean):
    from vacancy_gpt_etl_pipeline_spark.operators import caching

    with CacheScope(spark):
        outer = caching.checkpoint(spark.range(10))
        kept = caching.persist(spark.range(5))
        assert kept.count() == 5
        outer_ids = _rdd_ids(spark) - clean
        with CacheScope(spark):
            caching.persist(spark.range(20)).count()
            caching.checkpoint(spark.range(30))
            assert _rdd_ids(spark) - clean > outer_ids
        # the inner region freed only what it made
        assert _rdd_ids(spark) - clean == outer_ids
        assert not _cache_manager_empty(spark)
        assert outer.count() == 10
    _assert_freed(spark, clean)


def test_region_free_drops_one_checkpoint_early(spark, clean):
    from vacancy_gpt_etl_pipeline_spark.operators import caching

    with CacheScope(spark) as region:
        first = caching.checkpoint(spark.range(10))
        first_ids = _rdd_ids(spark) - clean
        second = caching.checkpoint(first.select((F.col("id") * 2).alias("id")))
        region.free(first)
        assert not (_rdd_ids(spark) & first_ids)
        assert second.count() == 10
        with pytest.raises(ValueError):
            region.free(first)
    _assert_freed(spark, clean)


# ------------------------------------------- operators release on region exit


def _planted_docs(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, base + f" doc{i}") for i in range(40)]
    rows += [(100 + i, base + f" doc{i} extra") for i in range(5)]
    return spark.createDataFrame(rows, ["doc_id", "text"])


@pytest.mark.parametrize("op", ["minhash", "simhash", "ngram"])
def test_cache_scope_releases_all_persisted_frames(spark, clean, op):
    """Materialize inside the region, and NO cached RDDs from the
    operator survive its exit — a long-lived session running many dedup
    calls must not accumulate executor storage."""
    from vacancy_gpt_etl_pipeline_spark.operators import dedup

    fn = {
        "minhash": dedup.minhash_near_duplicates,
        "simhash": dedup.simhash_near_duplicates,
        "ngram": dedup.ngram_jaccard_pairs,
    }[op]
    docs = _planted_docs(spark)
    with CacheScope(spark):
        fn(docs, "text", "doc_id").count()
        assert _rdd_ids(spark) - clean  # caches were in use
    _assert_freed(spark, clean)


def test_ranking_cache_scope_releases_sorted_frame(spark, clean):
    """grouped_ntile persists the range-sorted frame; the region
    releases it after the consuming action."""
    from vacancy_gpt_etl_pipeline_spark.operators.ranking import grouped_ntile

    df = spark.range(100).select(F.col("id"), (F.col("id") % 7).alias("v"))
    with CacheScope(spark):
        out = grouped_ntile(df, [F.asc("v"), F.asc("id")], 4, "q")
        assert out.count() == 100
        assert _rdd_ids(spark) - clean
    _assert_freed(spark, clean)


def test_pagerank_and_lpa_release_caches_via_scope(spark, clean):
    from vacancy_gpt_etl_pipeline_spark.operators.graph import (
        label_propagation,
        pagerank,
    )

    df = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (2, 1), (3, 2), (1, 3)], "src: long, dst: long"
    )
    with CacheScope(spark):
        pagerank(df, iterations=2).count()
        label_propagation(df, 2).count()
        assert _rdd_ids(spark) - clean  # the loop invariants were persisted
    _assert_freed(spark, clean)


def test_shortest_paths_releases_caches_via_scope(spark, clean):
    from vacancy_gpt_etl_pipeline_spark.operators.graph import shortest_paths

    edges = spark.createDataFrame([(1, 2), (2, 3)], "src: long, dst: long")
    seeds = spark.createDataFrame([(1,)], "node: long")
    with CacheScope(spark):
        shortest_paths(edges, seeds, max_hops=2).count()
        assert _rdd_ids(spark) - clean  # edge list and frontier checkpoints
    _assert_freed(spark, clean)
