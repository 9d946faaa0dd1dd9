"""SparkSession factory.

Defaults chosen for the 100 TB design point, scaled down to local[N] testing:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting, dynamic
  broadcast) — at cluster scale this is what keeps a fixed
  ``spark.sql.shuffle.partitions`` from being wrong in both directions.
- Arrow on for every pandas exchange (the enrichment operator and the
  multimodal UDFs are Arrow-batched; row-at-a-time Python UDFs are banned
  in this codebase).
- Session timezone pinned to UTC so timestamp semantics match the parquet
  test fixtures (naive µs timestamps) and any external oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
MAX_DRIVER_MEM_GB = 32


def default_driver_memory(phys_bytes: int | None = None) -> str:
    """``spark.driver.memory`` for this machine: about half of physical RAM
    (read with ``os.sysconf`` unless ``phys_bytes`` is given), at least 1g
    and at most 32g. A flat 32g heap on a 16 GB box let local mode's one
    JVM grow until the kernel OOM-killed it."""
    if phys_bytes is None:
        try:
            phys_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        except (AttributeError, OSError, ValueError):
            return f"{MAX_DRIVER_MEM_GB}g"  # platform without sysconf
    return f"{max(1, min(MAX_DRIVER_MEM_GB, (phys_bytes // 2) >> 30))}g"


def parse_size_bytes(value: str) -> int:
    """A Spark byte-string config as bytes: plain numbers are bytes;
    ``k``/``m``/``g`` suffixes, optionally followed by ``b``, scale by
    powers of 1024 (``"1.5g"``, ``"128MB"``). ``-1`` stays ``-1``."""
    s = value.strip().lower().removesuffix("b")
    mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30}.get(s[-1:])
    return int(float(s[:-1]) * mult) if mult else int(float(s))


def get_spark(
    app_name: str = "vacancy-gpt-etl-pipeline-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or all cores. On a real
    cluster the ``master`` call is dropped by spark-submit config.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or None
    master = f"local[{cpus}]" if cpus else "local[*]"
    shuffle = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # local mode runs driver+executors in ONE JVM whose default heap is
        # 1g — far too small for broadcast builds / cached frames on a big
        # box (found by a 50k-doc scale run OOMing a broadcast). Must be set
        # before JVM launch; on a real cluster spark-submit overrides it.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.sql.shuffle.partitions", str(shuffle))
        # static conf, default 100 generated-class entries: a many-query
        # session (the 47-entry bench registry) evicts the big unrolled
        # minhash/simhash classes and re-pays ~15-20 s of janino compile on
        # re-encounter (measured: dedup_minhash_lsh 26.7 s late in the
        # bench vs 6.4 s in a short session). Classes are small; raised
        # 1000 -> 4000 in r10: the 188-entry INTERLEAVED bench (a full
        # registry pass between the two runs of any query) generates
        # more than 1000 classes per pass, so pass 2 re-compiled the
        # expression-heavy ANN entries (bench min 1.1-2.1 s vs 0.7-1.5 s
        # standalone warm). 4000 covered two full passes at 188 entries;
        # the registry is 231 entries in r15 and the same late-bench
        # recompile signature reappeared (ann_ivf_adaptive 7.3 s min-of-2
        # interleaved vs 3.3 s standalone warm, ann_ivf_int8 38 s on a
        # single late-session run) — raised to 10000 in the r15
        # optimization round so the cache again covers two interleaved
        # passes with headroom. Generated classes are small (KBs); the
        # driver-memory cost is negligible next to a multi-GB heap.
        .config("spark.sql.codegen.cache.maxEntries", "10000")
        # Spark's default hugeMethodLimit (65535) accepts generated methods
        # far beyond the JVM JIT's 8000-bytecode compile ceiling, so wide-
        # aggregate stages (the 64-accumulator minhash/simhash signatures)
        # execute as INTERPRETED generated code — slower than Spark's own
        # non-codegen path. Capping at the JIT limit makes Spark fall back
        # automatically for exactly those stages. Measured at sf0.1:
        # dedup_simhash 26.5 s -> 9.0 s cold (15.3 -> 5.0 warm),
        # dedup_minhash_lsh 13.2 -> 3.8 s; small-stage queries (q1 etc.)
        # keep whole-stage codegen and are unaffected.
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Duser.timezone=UTC")
        .config("spark.executor.extraJavaOptions", "-Duser.timezone=UTC")
    )
    spark = builder.getOrCreate()
    configure_session(spark)
    return spark


def configure_session(spark: SparkSession) -> None:
    """Apply runtime-settable defaults to an externally-created session.

    Called defensively by the query surface because the driver harness may
    hand us a session built with different defaults.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # pandas-written parquet may carry TIMESTAMP(NANOS) (e.g. events.ts),
    # which Spark rejects by default; read as long and convert on load
    # (sources/parquet_source.py restores a µs TimestampType column).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
