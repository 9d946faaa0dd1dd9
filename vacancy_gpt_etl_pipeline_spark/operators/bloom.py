"""Explicit Bloom-filter semi-join pre-filtering, pure Catalyst.

The 100 TB join problem this solves: the probe side is huge (fact
table), the build side is too big to BROADCAST as rows (millions of
keys) but its *Bloom filter* is a fixed few hundred KB — so ship the
filter, drop most probe rows BEFORE the shuffle, and let the real join
eliminate the false positives. This is the runtime-filter pattern
Spark's optimizer injects for itself (`spark.sql.optimizer.runtime.
bloomFilter.enabled`, SPARK-32268) and what `DataFrameStatFunctions.
bloomFilter` offers on the JVM — re-expressed here as plain DataFrame
ops because (a) `bloom_filter_agg` is not SQL-registered in PySpark and
(b) an explicit frame-valued filter can be persisted, reused across
queries, and unit-tested.

Construction is exact integer arithmetic end to end — `xxhash64` with
per-hash seeds, `pmod` into a power-of-two bit space, `bit_or` packing
into 64-bit words — so the SAME filter materializes on any engine and
run. Membership is ``num_hashes`` broadcast hash-join lookups against
the packed word frame (at most ``num_bits/64`` rows ≈ 8 KB per 64K
bits), each a codegen'd O(1) probe; no UDF, no driver bitset, no
``collect``.

False positives are possible (rate ≈ (1 - e^{-kn/m})^k), false
negatives are not — callers MUST keep the verifying equi-join after the
pre-filter when exact results are required (`bloom_semi_join` does).

One hash-correctness trap the verifying join CANNOT absorb: `xxhash64`
is PHYSICAL-type sensitive. The same numeric value hashes differently
as int vs bigint vs decimal, so a filter built from an `int` key column
probed with a `bigint` key column yields FALSE NEGATIVES — rows the
equi-join would have matched are dropped before it ever runs.
:func:`bloom_semi_join` therefore derives a common canonical hash type
from BOTH schemas (integrals → long, any-numeric mix → double, same
type → as-is) and casts both sides before hashing; direct
:func:`build_bloom` / :func:`bloom_prefilter` callers must pass the
same ``canon_type`` on both sides themselves.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vacancy_gpt_etl_pipeline_spark.operators import caching

#: bits per packed word
_WORD = 64

_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_FRACTIONAL = (T.FloatType, T.DoubleType, T.DecimalType)


def canonical_hash_type(
    build_type: T.DataType, probe_type: T.DataType
) -> str | None:
    """The common type both key columns must be cast to before
    `xxhash64`, or None when the physical types already match.

    Equal NUMERIC values of different physical types are join-equal but
    hash-unequal, so a shared widening cast is mandatory: integral ×
    integral → ``long`` (exact — every integral fits), any other
    numeric mix → ``double`` (equal values cast to the same double, so
    no false negatives; colliding casts only add false positives, which
    the verifying join removes). A non-numeric type mismatch has no
    safe implicit canonicalization — the caller must cast explicitly."""
    if build_type == probe_type:
        return None
    b_int, p_int = isinstance(build_type, _INTEGRAL), isinstance(probe_type, _INTEGRAL)
    if b_int and p_int:
        return "long"
    b_num = b_int or isinstance(build_type, _FRACTIONAL)
    p_num = p_int or isinstance(probe_type, _FRACTIONAL)
    if b_num and p_num:
        return "double"
    raise ValueError(
        f"bloom key types {build_type.simpleString()} vs "
        f"{probe_type.simpleString()} have no canonical hash type — cast "
        "both key columns to a common type before building the filter"
    )


def _canon(key_col: str, canon_type: str | None) -> F.Column:
    col = F.col(key_col)
    return col.cast(canon_type) if canon_type else col


def build_bloom(
    keys: DataFrame,
    key_col: str,
    num_bits: int = 1 << 17,
    num_hashes: int = 3,
    canon_type: str | None = None,
) -> DataFrame:
    """Aggregate the DISTINCT values of ``keys[key_col]`` into a packed
    Bloom bitset: returns ``(word_idx: long, word: long)`` with at most
    ``num_bits / 64`` rows (absent words are all-zero). One shuffle,
    map-side combined by ``bit_or``; the output is broadcastable at any
    build-side cardinality because its size is capped by ``num_bits``,
    not by the key count."""
    if num_bits <= 0 or num_bits & (num_bits - 1):
        raise ValueError(f"num_bits must be a power of two, got {num_bits}")
    if num_hashes < 1:
        raise ValueError(f"num_hashes must be >= 1, got {num_hashes}")
    k = keys.select(_canon(key_col, canon_type).alias("_k"))
    positions = reduce(
        DataFrame.union,
        (
            k.select(
                F.pmod(F.xxhash64("_k", F.lit(seed)), F.lit(num_bits)).alias(
                    "_pos"
                )
            )
            for seed in range(num_hashes)
        ),
    )
    return (
        positions.select(
            (F.col("_pos") / _WORD).cast("long").alias("word_idx"),
            F.expr(f"shiftleft(1L, CAST(_pos % {_WORD} AS INT))").alias("_bit"),
        )
        .groupBy("word_idx")
        .agg(F.expr("bit_or(_bit)").alias("word"))
    )


def bloom_prefilter(
    df: DataFrame,
    key_col: str,
    bloom: DataFrame,
    num_bits: int = 1 << 17,
    num_hashes: int = 3,
    canon_type: str | None = None,
) -> DataFrame:
    """Keep only rows whose ``key_col`` the Bloom filter MIGHT contain
    (plus nothing the filter definitely excludes — no false negatives).
    ``num_bits``/``num_hashes`` must match the ``build_bloom`` call.
    Each hash is one BROADCAST join against the word frame followed by a
    bit test; rows with NULL keys are dropped (a Bloom filter has no
    NULL semantics — mirror of inner-join key behavior)."""
    out = df.where(F.col(key_col).isNotNull())
    for seed in range(num_hashes):
        pos = F.pmod(
            F.xxhash64(_canon(key_col, canon_type), F.lit(seed)),
            F.lit(num_bits),
        )
        widx, wcol, bcol = f"_bw{seed}", f"_bwd{seed}", f"_bp{seed}"
        out = (
            out.withColumn(bcol, pos)
            .join(
                F.broadcast(
                    bloom.select(
                        F.col("word_idx").alias(widx),
                        F.col("word").alias(wcol),
                    )
                ),
                (F.col(bcol) / _WORD).cast("long") == F.col(widx),
                "left",
            )
            .where(
                F.expr(
                    f"(shiftright({wcol}, CAST({bcol} % {_WORD} AS INT)) & 1)"
                    " = 1"
                )
            )
            .drop(widx, wcol, bcol)
        )
    return out


def bloom_semi_join(
    big: DataFrame,
    small: DataFrame,
    big_key: str,
    small_key: str,
    num_bits: int = 1 << 17,
    num_hashes: int = 3,
) -> DataFrame:
    """EXACT left-semi join of ``big`` against ``small``'s keys, with a
    Bloom pre-filter ahead of the shuffle: build the filter from
    ``small`` (one bounded aggregate), broadcast it into ``big``'s scan,
    and semi-join only the surviving rows — the verifying join removes
    every false positive, so the result equals ``big.join(small,
    big_key == small_key, "left_semi")`` row for row. The filter frame
    is persisted because each of the
    ``num_hashes`` lookups broadcasts it.

    Build and probe hash through a COMMON canonical type derived from
    both schemas (:func:`canonical_hash_type`): `xxhash64` is
    physical-type-sensitive, so an int build key probed as bigint would
    otherwise hash to different positions and silently drop matching
    rows — a false negative the verifying join can never recover."""
    canon = canonical_hash_type(
        small.schema[small_key].dataType, big.schema[big_key].dataType
    )
    bloom = caching.persist(
        build_bloom(small, small_key, num_bits, num_hashes, canon),
    )
    pref = bloom_prefilter(big, big_key, bloom, num_bits, num_hashes, canon)
    return pref.join(
        small.select(F.col(small_key).alias("_sk")).distinct(),
        F.col(big_key) == F.col("_sk"),
        "left_semi",
    )
