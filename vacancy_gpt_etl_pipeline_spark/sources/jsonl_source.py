"""JSONL (newline-delimited JSON) source and sink — the de-facto
interchange format for LLM training corpora (one document object per
line; what most public pretraining sets and fine-tune APIs ship).

Design rules, same as the CSV/parquet sources:

- **Explicit schema, never inference.** ``spark.read.json`` without a
  schema runs a FULL extra pass over the data just to infer types —
  at 100 TB that doubles the scan — and type-drifts on dirty corpora
  (a single ``"salary": "n/a"`` flips the column to string). Schemas
  come from the caller or ``schemas.py``.
- **Corrupt-line quarantine, not failure.** Web-scale JSONL always has
  broken lines. ``columnNameOfCorruptRecord`` routes them to a
  ``_corrupt_record`` column in PERMISSIVE mode; :func:`read_jsonl`
  splits good rows from quarantine so pipelines can count/inspect the
  bad without dying mid-scan. (DROPMALFORMED silently loses data —
  the quarantine keeps the evidence.)
- **Write = one object per line**, gzip-friendly, partitionable by any
  column via ``partition_cols`` — downstream trainers shard by file.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vacancy_gpt_etl_pipeline_spark.operators import caching

CORRUPT_COL = "_corrupt_record"


def jsonl_schema_with_quarantine(schema: T.StructType) -> T.StructType:
    """The declared schema + the corrupt-record column Spark requires to
    be present in the schema when PERMISSIVE parsing quarantines."""
    if CORRUPT_COL in schema.fieldNames():
        return schema
    return T.StructType(
        list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType())]
    )


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
) -> tuple[DataFrame, DataFrame]:
    """Read JSONL at ``path`` with the DECLARED schema.

    Returns ``(good, quarantine)``: ``good`` has exactly the declared
    columns (corrupt rows excluded); ``quarantine`` is
    ``(_corrupt_record)`` — the raw text of every line that failed to
    parse, for counting/inspection/replay.

    The parsed frame is persisted (required for corrupt-record
    filtering, see below); drain both outputs inside a
    ``caching.CacheScope`` region to release it::

        with CacheScope(spark):
            good, bad = read_jsonl(spark, path, schema)
            good.write.parquet(out); bad.count()
        # parsed-frame cache unpersisted here
    """
    full = (
        spark.read.schema(jsonl_schema_with_quarantine(schema))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )
    # Spark requires caching (or a materialization boundary) before
    # filtering on the corrupt column — the column is populated during
    # parsing and a direct filter on the unreferenced raw plan is
    # rejected/undefined (SPARK-21610)
    full = caching.persist(full)
    good = full.where(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    quarantine = full.where(F.col(CORRUPT_COL).isNotNull()).select(CORRUPT_COL)
    return good, quarantine


def write_jsonl(
    df: DataFrame,
    path: str,
    partition_cols: list[str] | None = None,
    compression: str | None = "gzip",
    max_records_per_file: int | None = 1_000_000,
) -> None:
    """Write ``df`` as JSONL (one object per line).

    ``max_records_per_file`` bounds shard size so trainers get evenly
    streamable files; ``partition_cols`` lays out ``col=value/``
    directories for mix-weighted sampling by subcorpus.
    """
    w = df.write.mode("overwrite")
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    if compression:
        w = w.option("compression", compression)
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.json(path)
