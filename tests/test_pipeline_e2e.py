"""The assembled pipeline executed end-to-end (VERDICT round-1 gap #2).

Golden test of the full reference lineage (dag/vacancy_pipline_gpt_rerty.py
:861-897): CSVs on disk → discover → newest-k → read+union → full dedup →
keyed keep-first dedup → title enrichment → field enrichment → metadata →
sink → BOTH reference SQL queries verbatim over the result.
"""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest

from vacancy_gpt_etl_pipeline_spark.operators.enrichment import (
    UNDEFINED,
    UNSPECIFIED,
    KeywordRule,
    MockKeywordEnricher,
)
from vacancy_gpt_etl_pipeline_spark.plans.analysis import run_reference_queries
from vacancy_gpt_etl_pipeline_spark.plans.pipeline import run_pipeline
from vacancy_gpt_etl_pipeline_spark.sources.sinks import write_normalized_csv

TITLE_ENRICHER = MockKeywordEnricher(
    rules=[
        KeywordRule("аналитик", {"normalized_title": "Аналитик данных"}),
        KeywordRule("разработчик", {"normalized_title": "Разработчик"}),
        KeywordRule("маркетолог", {"normalized_title": "Маркетолог"}),
    ],
    outputs=("normalized_title",),
)
FIELD_ENRICHER = MockKeywordEnricher(
    rules=[
        KeywordRule("финтех", {"category": "Финансы", "specialization": "Банкинг"}),
        KeywordRule("айти", {"category": "IT", "specialization": "Backend"}),
        KeywordRule("реклама", {"category": "Маркетинг", "specialization": "Digital"}),
    ],
    outputs=("category", "specialization"),
    defaults={"category": UNDEFINED, "specialization": UNDEFINED},
)


def _csv(path, rows):
    pd.DataFrame(
        rows, columns=["id", "title", "ai_field_of_activity", "salary_to", "created_at"]
    ).to_csv(path, index=False, encoding="utf-8-sig")


@pytest.fixture(scope="module")
def input_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("pipeline_in")
    # file 1 (older): id=1 survivor source for keep-first; an exact-dup row
    _csv(
        d / "vacancies_20240101_000000.csv",
        [
            ["1", "Аналитик данных в финтех", "финтех", 250000, "2024-01-10"],
            ["2", "Разработчик, ООО «Айти»", "айти", 300000, "2024-01-11"],
            ["2", "Разработчик, ООО «Айти»", "айти", 300000, "2024-01-11"],  # A1 dup
        ],
    )
    # file 2 (newer): id=1 reappears with different title → A2 must drop it
    _csv(
        d / "vacancies_20240102_000000.csv",
        [
            ["1", "СТАРШИЙ аналитик (дубль)", "финтех", 999999, "2024-01-12"],
            ["3", "Маркетолог в рекламное агентство", "реклама", 150000, "2024-01-12"],
            ["4", "Шеф-повар", "ресторан", 120000, "2024-01-13"],  # no rule match
            ["5", "Веб-аналитик", "", 180000, "2024-01-14"],  # empty field
        ],
    )
    # an old file beyond latest-k=2 that must be ignored
    _csv(
        d / "vacancies_20231201_000000.csv",
        [["9", "Должна быть проигнорирована", "айти", 1, "2023-12-01"]],
    )
    return str(d)


@pytest.fixture(scope="module")
def normalized(spark, input_dir):
    df = run_pipeline(
        spark,
        input_dir,
        TITLE_ENRICHER,
        FIELD_ENRICHER,
        latest_k=2,
        max_retries=0,
    )
    df.cache()
    yield df
    df.unpersist()


def test_lineage_dedup_and_latest_k(normalized):
    rows = {r["id"]: r for r in normalized.collect()}
    # 6 unique ids in newest-2 files minus id=1 dup = 5; id=9 excluded by T1
    assert sorted(rows) == ["1", "2", "3", "4", "5"]
    # keep-first survivor: id=1 from the lexicographically-FIRST file
    assert rows["1"]["title"] == "Аналитик данных в финтех"
    assert rows["1"]["salary_to"] == 250000


def test_enrichment_columns(normalized):
    rows = {r["id"]: r for r in normalized.collect()}
    assert rows["1"]["normalized_title"] == "Аналитик данных"
    assert rows["2"]["normalized_title"] == "Разработчик"
    assert rows["3"]["normalized_title"] == "Маркетолог"
    assert rows["4"]["normalized_title"] == UNDEFINED  # default substitution P9
    assert rows["1"]["category"] == "Финансы"
    assert rows["1"]["specialization"] == "Банкинг"
    assert rows["4"]["category"] == UNDEFINED  # no rule match
    assert rows["5"]["category"] == UNSPECIFIED  # empty field → 'Не указано'


def test_metadata_columns(normalized):
    r = normalized.limit(1).collect()[0]
    assert dt.datetime.strptime(r["_processing_date"], "%Y%m%d_%H%M%S")
    assert r["_processing_timestamp"] is not None
    # one timestamp for the whole run, not per-row clock reads
    assert normalized.select("_processing_date").distinct().count() == 1


def test_reference_queries_verbatim_golden(spark, normalized):
    q1, q2 = run_reference_queries(spark, normalized)

    got1 = [(r["vacancy_position"], r["vacancy_count"], float(r["avg_salary_to"])) for r in q1.collect()]
    # id4 is 'Не определена' → filtered; id5 'Веб-аналитик' matches the
    # 'аналитик' rule → merges into 'Аналитик данных' (count 2, avg 215k)
    assert got1[0] == ("Аналитик данных", 2, 215000.0)  # top by vacancy_count
    assert sorted(got1) == [
        ("Аналитик данных", 2, 215000.0),
        ("Маркетолог", 1, 150000.0),
        ("Разработчик", 1, 300000.0),
    ]

    got2 = {
        r["category"]: (r["vacancy_count"], float(r["avg_salary_to"]), float(r["market_share_percent"]))
        for r in q2.collect()
    }
    # ids 4 ('Не определена') and 5 ('Не указано') filtered → 3 categories
    assert got2 == {
        "Финансы": (1, 250000.0, 33.3),
        "IT": (1, 300000.0, 33.3),
        "Маркетинг": (1, 150000.0, 33.3),
    }


def test_sink_round_trip(spark, normalized, tmp_path):
    out = str(tmp_path / "vacancies_normalized_20240201_000000.csv")
    write_normalized_csv(
        normalized.withColumn(
            "_processing_timestamp",
            normalized["_processing_timestamp"].cast("string"),
        ),
        out,
        single_file=True,
        bom=True,
    )
    back = pd.read_csv(out, encoding="utf-8-sig", dtype={"id": str})
    assert len(back) == 5
    assert set(back.columns) >= {
        "id", "title", "normalized_title", "ai_field_of_activity",
        "category", "specialization", "salary_to", "created_at",
        "_processing_date",
    }
    assert set(back["normalized_title"]) == {
        "Аналитик данных", "Разработчик", "Маркетолог", UNDEFINED,
    }


def test_empty_input_early_exit(spark, tmp_path):
    df = run_pipeline(
        spark, str(tmp_path / "nothing_here"), TITLE_ENRICHER, FIELD_ENRICHER
    )
    assert df.count() == 0


def test_keep_first_survives_a_later_exact_copy(spark, tmp_path):
    """An exact copy of the first file's row in a later file must not
    hand the id to a middle file's version. The padding makes the last
    file the largest, so Spark scans it first."""
    a = ["1", "Аналитик данных в финтех", "финтех", 250000, "2024-01-10"]
    b = ["1", "СТАРШИЙ аналитик (дубль)", "финтех", 999999, "2024-01-12"]
    pad = [
        [str(i), f"Разработчик {i}", "айти", 100000 + i, "2024-01-13"]
        for i in range(100, 400)
    ]
    _csv(tmp_path / "vacancies_20240101_000000.csv", [a])
    _csv(tmp_path / "vacancies_20240102_000000.csv", [b])
    _csv(tmp_path / "vacancies_20240103_000000.csv", [a, *pad])
    df = run_pipeline(
        spark, str(tmp_path), TITLE_ENRICHER, FIELD_ENRICHER, max_retries=0
    )
    rows = {r["id"]: r for r in df.collect()}
    assert len(rows) == 1 + len(pad)
    assert rows["1"]["title"] == a[1]
    assert rows["1"]["salary_to"] == 250000
