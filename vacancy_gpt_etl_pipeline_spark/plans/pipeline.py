"""The assembled reference pipeline as ONE Spark lineage (SURVEY.md §3.1).

Reference: 5 Airflow tasks exchanging `list[dict]` through XCom
(dag/vacancy_pipline_gpt_rerty.py:861-897) — every stage boundary is a
process hop and XCom caps data size. Here the whole chain is a single
logical plan:

    read.csv(latest-k) → union → keep-first per id (file, then content)
    → enrich(title) → enrich(field) → metadata columns → sink

Catalyst analyzes/optimizes it as a unit; the only process boundaries left
are executors↔object-store and executors↔LLM-API.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vacancy_gpt_etl_pipeline_spark.operators.enrichment import (
    UNDEFINED,
    UNSPECIFIED,
    Enricher,
    enrich_column,
)
from vacancy_gpt_etl_pipeline_spark.operators.relational import top_k_per_group
from vacancy_gpt_etl_pipeline_spark.sources.csv_source import (
    latest_k_paths,
    list_csv_files,
    read_vacancies_csv,
)


def add_processing_metadata(df: DataFrame) -> DataFrame:
    """Run metadata columns (dag/...py:820-822)."""
    now = F.current_timestamp()
    return df.withColumn(
        "_processing_date", F.date_format(now, "yyyyMMdd_HHmmss")
    ).withColumn("_processing_timestamp", now)


def run_pipeline(
    spark: SparkSession,
    input_path: str,
    title_enricher: Enricher,
    field_enricher: Enricher,
    latest_k: int = 4,
    title_batch_size: int = 15,
    field_batch_size: int = 10,
    max_retries: int = 1,
    observer=None,
) -> DataFrame:
    """End-to-end: discover CSVs → newest-k → read+union → dedup → enrich
    title (→ normalized_title) → enrich field (→ category, specialization)
    → metadata. Returns the normalized DataFrame (caller picks the sink).

    Pass a :class:`~vacancy_gpt_etl_pipeline_spark.plans.observability.PipelineObserver`
    to collect per-stage row counts during the sink action (df.observe —
    zero extra jobs; the reference's per-stage count logging,
    dag/...py:118-129, re-expressed for one-pass execution)."""
    files = list_csv_files(spark, input_path)
    picked = latest_k_paths(files, latest_k)
    if not picked:
        from vacancy_gpt_etl_pipeline_spark.schemas import VACANCIES_RAW

        return spark.createDataFrame([], VACANCIES_RAW)  # empty-input early exit
    raw = read_vacancies_csv(spark, picked)
    if observer is not None:
        raw = observer.stage(raw, "ingest")
    # the reference's exact dedup then keep-first by id, in one window:
    # the earliest file's row wins, and an exact copy of it in a later
    # file cannot displace it
    content = [c for c in raw.columns if c != "_input_file"]
    deduped = top_k_per_group(
        raw, ["id"], [F.asc("_input_file"), *map(F.asc, content)]
    )
    if observer is not None:
        deduped = observer.stage(deduped, "deduped")
    titled = enrich_column(
        deduped,
        "title",
        title_enricher,
        batch_size=title_batch_size,
        max_retries=max_retries,
        defaults={"normalized_title": UNDEFINED},
    )
    fielded = enrich_column(
        titled,
        "ai_field_of_activity",
        field_enricher,
        batch_size=field_batch_size,
        max_retries=max_retries,
        defaults={"category": UNDEFINED, "specialization": UNDEFINED},
        empty_key_default=UNSPECIFIED,
    )
    return add_processing_metadata(fielded.drop("_input_file"))
