"""Command-line entry point: ``python -m vacancy_gpt_etl_pipeline_spark``.

The reference is driven by triggering an Airflow DAG
(dag/vacancy_pipline_gpt_rerty.py); this is the equivalent one-command
surface for the Spark engine, so a reference user can run the same
workloads without writing a driver script:

    # the 5-stage vacancy pipeline (discover → dedup → enrich → sink)
    python -m vacancy_gpt_etl_pipeline_spark pipeline \
        --input /data/raw --output /data/processed [--enricher mock|http]

    # any registry query against a parquet table directory
    python -m vacancy_gpt_etl_pipeline_spark query q1_pricing_summary \
        --sf-dir /root/testdata/sf0.01 --limit 20 --format jsonl

    # discoverability
    python -m vacancy_gpt_etl_pipeline_spark list

Data goes to stdout (CSV/JSONL), logs to stderr — the CLI composes with
shell pipelines the way the reference's S3 objects compose with
downstream DAGs.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="vacancy_gpt_etl_pipeline_spark")
    p.add_argument(
        "--cpus", type=int, default=None, help="local[N] parallelism"
    )
    sub = p.add_subparsers(dest="cmd", required=True)

    pipe = sub.add_parser("pipeline", help="run the 5-stage reference pipeline")
    pipe.add_argument("--input", required=True, help="raw CSV directory")
    pipe.add_argument("--output", required=True, help="sink directory")
    pipe.add_argument("--latest-k", type=int, default=4)
    pipe.add_argument("--enricher", choices=("mock", "http"), default="mock")
    pipe.add_argument("--api-url", default=None, help="LLM API endpoint (http)")
    pipe.add_argument(
        "--api-key",
        default=None,
        help="LLM API key (defaults to $LLM_API_KEY)",
    )
    pipe.add_argument(
        "--single-file",
        action="store_true",
        help="reference-parity single CSV object (small outputs only)",
    )

    q = sub.add_parser("query", help="run a registry query")
    q.add_argument("name", help="registry query name (see `list`)")
    q.add_argument("--sf-dir", required=True, help="parquet table directory")
    q.add_argument("--limit", type=int, default=0, help="0 = no limit")
    q.add_argument("--format", choices=("csv", "jsonl"), default="csv")

    sub.add_parser("list", help="list registry query names")
    return p


def _default_enrichers():
    """Demo keyword enrichers over the reference taxonomies — the mock
    path exists so the pipeline runs end-to-end with no API; swap in
    ``--enricher http`` for a real LLM."""
    from vacancy_gpt_etl_pipeline_spark.operators.enrichment import (
        UNDEFINED,
        KeywordRule,
        MockKeywordEnricher,
    )

    title = MockKeywordEnricher(
        rules=[
            KeywordRule("аналитик", {"normalized_title": "Аналитик данных"}),
            KeywordRule("разработчик", {"normalized_title": "Разработчик"}),
            KeywordRule("devops", {"normalized_title": "DevOps-инженер"}),
            KeywordRule("маркетолог", {"normalized_title": "Маркетолог"}),
            KeywordRule(
                "менеджер продукта", {"normalized_title": "Менеджер продукта"}
            ),
        ],
        outputs=("normalized_title",),
    )
    field = MockKeywordEnricher(
        rules=[
            KeywordRule("финанс", {"category": "Финансы", "specialization": "Другое"}),
            KeywordRule("айти", {"category": "IT", "specialization": "Другое"}),
            KeywordRule("маркетинг", {"category": "Маркетинг", "specialization": "Digital"}),
        ],
        outputs=("category", "specialization"),
        defaults={"category": UNDEFINED, "specialization": UNDEFINED},
    )
    return title, field


def _http_enrichers(api_url: str, api_key: str):
    from vacancy_gpt_etl_pipeline_spark.operators.enrichment import (
        HttpLLMEnricher,
    )

    title = HttpLLMEnricher(
        endpoint=api_url,
        api_key=api_key,
        prompt_template=(
            "Классифицируй названия вакансий. Верни JSON-массив объектов "
            '{{"original": ..., "normalized_title": ...}} для: {items}'
        ),
        output_cols=("normalized_title",),
    )
    field = HttpLLMEnricher(
        endpoint=api_url,
        api_key=api_key,
        prompt_template=(
            "Классифицируй сферы деятельности. Верни JSON-массив объектов "
            '{{"original": ..., "category": ..., "specialization": ...}} '
            "для: {items}"
        ),
        output_cols=("category", "specialization"),
    )
    return title, field


def _emit(df, limit: int, fmt: str, out) -> int:
    rows = df.limit(limit).collect() if limit else df.collect()
    cols = df.columns
    if fmt == "jsonl":
        for r in rows:
            out.write(json.dumps(dict(zip(cols, r)), default=str) + "\n")
    else:
        import csv

        w = csv.writer(out)
        w.writerow(cols)
        w.writerows(rows)
    return len(rows)


def main(argv: list[str] | None = None, out=None) -> int:
    args = _build_parser().parse_args(argv)
    out = out if out is not None else sys.stdout

    from vacancy_gpt_etl_pipeline_spark.queries import REGISTRY

    if args.cmd == "list":
        for name in REGISTRY:
            out.write(name + "\n")
        return 0

    from vacancy_gpt_etl_pipeline_spark.operators.caching import CacheScope
    from vacancy_gpt_etl_pipeline_spark.session import get_spark

    spark = get_spark(app_name=f"cli-{args.cmd}", cpus=args.cpus)

    if args.cmd == "query":
        if args.name not in REGISTRY:
            print(f"unknown query: {args.name} (try `list`)", file=sys.stderr)
            return 2
        with CacheScope(spark):
            df = REGISTRY[args.name].spark(spark, args.sf_dir)
            n = _emit(df, args.limit, args.format, out)
        print(f"[cli] {args.name}: {n} rows", file=sys.stderr)
        return 0

    # pipeline
    from vacancy_gpt_etl_pipeline_spark.plans.observability import (
        PipelineObserver,
    )
    from vacancy_gpt_etl_pipeline_spark.plans.pipeline import run_pipeline
    from vacancy_gpt_etl_pipeline_spark.sources.sinks import (
        timestamped_path,
        write_normalized_csv,
    )

    if args.enricher == "http":
        key = args.api_key or os.environ.get("LLM_API_KEY")
        if not args.api_url or not key:
            print(
                "--api-url and --api-key (or $LLM_API_KEY) are required "
                "with --enricher http",
                file=sys.stderr,
            )
            return 2
        title_e, field_e = _http_enrichers(args.api_url, key)
    else:
        title_e, field_e = _default_enrichers()

    observer = PipelineObserver()
    # the region owns the enrichment key sets and mappings run_pipeline
    # persists; they are freed once the sink has written
    with CacheScope(spark):
        result = run_pipeline(
            spark,
            args.input,
            title_e,
            field_e,
            latest_k=args.latest_k,
            observer=observer,
        )
        path = timestamped_path(args.output)
        write_normalized_csv(result, path, single_file=args.single_file)
    for stage, count in observer.row_counts().items():
        print(f"[cli] {stage}: {count} rows", file=sys.stderr)
    out.write(path + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
