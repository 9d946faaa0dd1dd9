"""Parquet sources for the driver's testdata star schema (TESTDATA.md).

Parquet is the engine's internal format: min/max row-group pruning, predicate
pushdown, and column pruning all reach the scan (``.explain`` shows
``PushedFilters`` / ``ReadSchema``) — none of which the reference's CSV
round-trip (dag/vacancy_pipline_gpt_rerty.py:827-849) can do.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vacancy_gpt_etl_pipeline_spark.schemas import TESTDATA_TABLES
from vacancy_gpt_etl_pipeline_spark.session import (
    configure_session,
    parse_size_bytes,
)


def widen_scan(df: DataFrame, target: int | None = None) -> DataFrame:
    """Round-robin a narrow parquet scan up to executor width — use below
    CPU-DENSE map work (tokenize/md5/regex/rolling-hash/vector math), and
    only there.

    A parquet scan with fewer splits than executor slots leaves every
    core but one idle for all map-side work above it, and single-row-group
    files cannot be split by ``maxPartitionBytes``. On a 100 TB cluster
    scans carry thousands of row-group splits and this is a no-op;
    locally it is one round-robin pass of a small table that unlocks the
    full executor width. Catalyst pushes filters and column pruning
    THROUGH Repartition into the scan (asserted by
    tests/test_plan_shapes.py), so pushdown is unaffected, and the
    explicit partition count is exempt from AQE coalescing.

    Deliberately NOT applied to every read — the win/loss line (r15
    A/B table in OPTIMIZATION_r15.md, updated r16):

    - WINS, 4-20×: CPU-dense JVM text/embedding operators (winnowing
      53.6 s → 2.4 s, simhash 25.6 s → 6.1 s, BM25 28.5 s → 11.5 s,
      IVF 16.7 s → 4.7 s) and SINGLE heavyweight Arrow/mapInPandas
      decode legs, where per-partition worker+batch setup amortizes
      against seconds of serial Python (tiff_decode_lzw 4.6 s → 1.2 s,
      video_phash_census 1.40 → 0.65, char_diversity 2.09 → 0.84).
    - LOSES: scans feeding cheap relational work (their first shuffle
      already re-partitions; merge_upsert 0.9 s → 2.2 s), cheap/small
      Arrow stages (jpeg, wds walks, warc — setup dwarfs the per-row
      Python), and FAN-OUT plans where SEVERAL decode legs hang off one
      UNPERSISTED widened scan: each leg re-plans its own round-robin
      exchange and pays setup × width × legs (multimodal_dedup_manifest,
      driver-refuted at both core counts in r15: 3.99 → 8.87 s @32,
      5.88 s @8 — repaired in r16 with a BOUNDED ``target`` plus a
      persist of the one materialization; see below).

    ``target`` overrides the width floor (default: executor
    parallelism). Callers whose downstream is a PER-PARTITION-setup-
    heavy Arrow boundary fanning into several legs use a LOWER floor —
    enough tasks to fill the executor across the legs without paying
    worker+batch setup × full width × legs (r16:
    multimodal_dedup_manifest at target=8 + persist: 5.09 → 3.83 s,
    while target=32 measured 5.4–6.1 s). Returns ``df`` ITSELF (same
    object) when the scan is already wide enough — callers key persist
    decisions off that identity.
    """
    spark = df.sparkSession
    if target is None:
        target = spark.sparkContext.defaultParallelism
    # ``df`` must be a bare file scan (``read_table``'s frame): each file
    # contributes ≥1 split, so a file count ≥ target proves the scan is
    # wide from the listing alone. Below that, estimate the split count
    # the way FilePartition packs files (maxSplitBytes = min(
    # maxPartitionBytes, max(openCost, totalBytes/parallelism))) from
    # driver-side file sizes — never df.rdd, which forces a Python-RDD
    # conversion on top of physical planning. The estimate errs toward
    # widening (an already-wide scan gains a benign exchange; semantics
    # never change).
    files = df.inputFiles()
    if len(files) >= target:
        return df
    if _estimate_scan_splits(spark, files) < target:
        return df.repartition(target)
    return df


def _estimate_scan_splits(spark: SparkSession, files: list[str]) -> int:
    """Upper-bound-ish estimate of how many splits a file scan yields,
    mirroring FilePartition.maxSplitBytes: split each file at
    min(maxPartitionBytes, max(openCostInBytes, totalBytes/parallelism)).
    Sizes come from the Hadoop FileSystem (works for any scheme, not
    just file://); the call count is bounded by the caller's
    files < parallelism guard."""
    sc = spark.sparkContext
    max_pb = parse_size_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "128MB")
    )
    open_cost = parse_size_bytes(
        spark.conf.get("spark.sql.files.openCostInBytes", "4MB")
    )
    hconf = sc._jsc.hadoopConfiguration()
    jvm = sc._jvm
    sizes = []
    for p in files:
        path = jvm.org.apache.hadoop.fs.Path(p)
        fs = path.getFileSystem(hconf)
        sizes.append(fs.getFileStatus(path).getLen())
    total = sum(s + open_cost for s in sizes)
    parallelism = max(sc.defaultParallelism, 1)
    # clamp ≥1: openCostInBytes=0 plus many tiny files would otherwise
    # drive the divisor to 0 (ZeroDivisionError in the read path)
    max_split = max(1, min(max_pb, max(open_cost, total // parallelism)))
    return sum(
        -(-s // max_split) if s else 1 for s in sizes
    )


def read_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    widen: bool = False,
    widen_target: int | None = None,
) -> DataFrame:
    configure_session(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if widen:
        # widen_target bounds the width floor (never raises it above
        # executor parallelism) — see widen_scan's docstring for when a
        # LOW floor beats full width (Arrow per-partition setup).
        target = (
            None
            if widen_target is None
            else min(widen_target, spark.sparkContext.defaultParallelism)
        )
        df = widen_scan(df, target=target)
    # nanosAsLong surfaces TIMESTAMP(NANOS) columns as bigint; restore a
    # proper µs TimestampType column (the fixtures carry no sub-µs parts).
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn(
            "ts", F.timestamp_micros((F.col("ts") / 1000).cast("long"))
        )
    return df


def load_tables(
    spark: SparkSession,
    sf_dir: str,
    names: tuple[str, ...] = TESTDATA_TABLES,
    register_views: bool = True,
) -> dict[str, DataFrame]:
    """Load testdata tables; optionally register temp views for the SQL surface."""
    out: dict[str, DataFrame] = {}
    for name in names:
        df = read_table(spark, sf_dir, name)
        if register_views:
            df.createOrReplaceTempView(name)
        out[name] = df
    return out
