"""Round-9 hardening tests: bloom key-type canonicalization, derived
offsets-frame sum types, empty-input guards and the adaptive enrichment
join-back."""

from __future__ import annotations

import decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vacancy_gpt_etl_pipeline_spark.operators.bloom import (
    bloom_semi_join,
    canonical_hash_type,
)
from vacancy_gpt_etl_pipeline_spark.operators.linalg import pca_model
from vacancy_gpt_etl_pipeline_spark.operators.ranking import offsets_frame, ranked_local


# ---------------------------------------------------------------- bloom


def _sorted_rows(df, *cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_bloom_semi_join_equals_left_semi_same_types(spark):
    big = spark.range(0, 1000).withColumnRenamed("id", "k")
    small = spark.range(0, 1000, 7).withColumnRenamed("id", "s")
    got = bloom_semi_join(big, small, "k", "s")
    want = big.join(small, F.col("k") == F.col("s"), "left_semi")
    assert _sorted_rows(got, "k") == _sorted_rows(want, "k")


def test_bloom_semi_join_mixed_int_bigint_keys(spark):
    # xxhash64(int) != xxhash64(bigint) for the same value: without the
    # canonical cast the filter built from int keys drops EVERY bigint
    # probe row — the false-negative class the r8 advice flagged
    big = spark.range(0, 500).select(F.col("id").cast("long").alias("k"))
    small = spark.range(0, 500, 5).select(F.col("id").cast("int").alias("s"))
    got = bloom_semi_join(big, small, "k", "s")
    want = big.join(small, F.col("k") == F.col("s"), "left_semi")
    want_rows = _sorted_rows(want, "k")
    assert len(want_rows) == 100
    assert _sorted_rows(got, "k") == want_rows


def test_bloom_semi_join_int_vs_decimal_keys(spark):
    big = spark.range(0, 300).select(F.col("id").cast("decimal(10,0)").alias("k"))
    small = spark.range(0, 300, 3).select(F.col("id").cast("int").alias("s"))
    got = bloom_semi_join(big, small, "k", "s")
    want = big.join(small, F.col("k") == F.col("s"), "left_semi")
    assert _sorted_rows(got, "k") == _sorted_rows(want, "k")


def test_canonical_hash_type_rules():
    assert canonical_hash_type(T.IntegerType(), T.IntegerType()) is None
    assert canonical_hash_type(T.IntegerType(), T.LongType()) == "long"
    assert canonical_hash_type(T.ShortType(), T.ByteType()) == "long"
    assert canonical_hash_type(T.LongType(), T.DecimalType(10, 0)) == "double"
    assert canonical_hash_type(T.FloatType(), T.DoubleType()) == "double"
    assert canonical_hash_type(T.StringType(), T.StringType()) is None
    with pytest.raises(ValueError, match="no canonical hash type"):
        canonical_hash_type(T.StringType(), T.LongType())


# ---------------------------------------------------------------- ranking


def test_offsets_frame_non_decimal_sum_col(spark):
    # r8 advice: hardcoded DecimalType(38,2) broke any non-decimal
    # sum_col on the public offsets_frame path
    df = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    local = ranked_local(df, [F.asc("k")])
    offs = offsets_frame(local, (), sum_col="v")
    rows = offs.collect()
    assert offs.schema["_gsum"].dataType == T.LongType()
    assert all(r["_gsum"] == 9900 for r in rows)


def test_offsets_frame_double_sum_col(spark):
    df = spark.range(0, 50).select(
        F.col("id").alias("k"), (F.col("id") * 0.5).alias("v")
    )
    local = ranked_local(df, [F.asc("k")])
    offs = offsets_frame(local, (), sum_col="v")
    assert offs.schema["_sum_off"].dataType == T.DoubleType()
    assert offs.count() >= 1


def test_offsets_frame_decimal_scale_preserved(spark):
    df = spark.range(0, 50).select(
        F.col("id").alias("k"),
        (F.col("id").cast("decimal(12,4)") / 7).cast("decimal(12,4)").alias("v"),
    )
    local = ranked_local(df, [F.asc("k")])
    offs = offsets_frame(local, (), sum_col="v")
    assert offs.schema["_gsum"].dataType == T.DecimalType(38, 4)


def test_offsets_frame_all_null_partition_sum(spark):
    # an all-NULL partition sum used to emit int 0 into the decimal
    # field and fail createDataFrame schema verification
    df = spark.range(0, 40).select(
        F.col("id").alias("k"),
        F.when(F.col("id") < 9999, F.lit(None))
        .otherwise(F.lit(1))
        .cast("decimal(10,2)")
        .alias("v"),
    )
    local = ranked_local(df, [F.asc("k")])
    offs = offsets_frame(local, (), sum_col="v")
    rows = offs.collect()
    assert rows, "offsets frame must materialize"
    for r in rows:
        assert r["_sum_off"] is None or isinstance(r["_sum_off"], decimal.Decimal)


# ------------------------------------------------------- empty-input guards


def test_pareto_empty_orders_returns_empty_frame(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from vacancy_gpt_etl_pipeline_spark.queries import REGISTRY

    empty = pa.table(
        {
            "o_custkey": pa.array([], type=pa.int64()),
            "o_totalprice": pa.array([], type=pa.float64()),
        }
    )
    pq.write_table(empty, str(tmp_path / "orders.parquet"))
    out = REGISTRY["pareto_revenue_concentration"].spark(spark, str(tmp_path))
    assert out.count() == 0
    assert out.columns == [
        "customers_for_80pct",
        "n_customers",
        "customer_share",
        "revenue_share_at_cut",
    ]


def test_pca_model_empty_gram_raises(spark):
    gram = spark.createDataFrame(
        [], "i int, j int, gram double, sum_i double, sum_j double, n_vectors long"
    )
    with pytest.raises(ValueError, match="gram frame is empty"):
        pca_model(gram, k=2)


# ------------------------------------------------- adaptive enrichment join


def test_enrichment_join_back_adapts_to_key_count(spark):
    from mock_enrichers import FlakyEnricher

    from vacancy_gpt_etl_pipeline_spark.operators.enrichment import (
        _mapping_fits_broadcast,
        enrich_column,
    )

    # unit rule: 100 M keys never fit the default 10 MB threshold
    assert _mapping_fits_broadcast(spark, 1_000, 2)
    assert not _mapping_fits_broadcast(spark, 100_000_000, 2)

    df = spark.createDataFrame(
        [(f"title {i}",) for i in range(60)], "title string"
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # 60 keys × 2 cols × 64 B = 7680 B > 1024 B → must NOT broadcast
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1024")
        out = enrich_column(df, "title", FlakyEnricher())
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert "ResolvedHint" not in plan and "broadcast" not in plan.lower()
        # and far above the threshold the hint appears
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10MB")
        out2 = enrich_column(df, "title", FlakyEnricher())
        plan2 = out2._jdf.queryExecution().analyzed().toString()
        assert "broadcast" in plan2.lower()
        # results identical either way
        assert sorted(map(tuple, out.collect())) == sorted(
            map(tuple, out2.collect())
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_parse_size_bytes():
    from vacancy_gpt_etl_pipeline_spark.session import parse_size_bytes

    assert parse_size_bytes("10485760") == 10 << 20
    assert parse_size_bytes("10MB") == 10 << 20
    assert parse_size_bytes("512k") == 512 << 10
    assert parse_size_bytes("1g") == 1 << 30
    assert parse_size_bytes("-1") == -1
    assert parse_size_bytes("1.5g") == 3 << 29
    assert parse_size_bytes("128MB") == 128 << 20


# ------------------------------------------------- exact-substring dedup


def test_exact_substring_dedup_closed_form(spark):
    from vacancy_gpt_etl_pipeline_spark.operators.dedup import (
        exact_substring_dedup,
    )

    # doc 1: two identical 4-token blocks (within-doc repeat);
    # doc 2: copies doc 1's first block (cross-doc repeat) + own block;
    # doc 3: fully unique
    docs = spark.createDataFrame(
        [
            (1, "a b c d a b c d"),
            (2, "a b c d x y z w"),
            (3, "p q r s t u v w"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in exact_substring_dedup(docs, block_tokens=4).collect()
    }
    assert out[1]["n_blocks"] == 2 and out[1]["n_kept"] == 1
    assert out[1]["text_dedup"] == "a b c d"
    assert out[2]["n_blocks"] == 2 and out[2]["n_kept"] == 1
    assert out[2]["text_dedup"] == "x y z w"
    assert out[3]["n_kept"] == 2
    assert out[3]["text_dedup"] == "p q r s t u v w"


def test_exact_substring_dedup_fully_duplicated_doc(spark):
    from vacancy_gpt_etl_pipeline_spark.operators.dedup import (
        exact_substring_dedup,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r
        for r in exact_substring_dedup(docs, block_tokens=4).collect()
    }
    # doc 2's only block occurred in doc 1 — comes back empty, not absent
    assert out[2]["n_kept"] == 0 and out[2]["text_dedup"] == ""
    assert out[1]["n_kept"] == 1


def test_exact_substring_dedup_validates_block_tokens(spark):
    from vacancy_gpt_etl_pipeline_spark.operators.dedup import (
        exact_substring_dedup,
    )

    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="block_tokens"):
        exact_substring_dedup(docs, block_tokens=0)
