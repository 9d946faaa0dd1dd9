"""The payload-map harness contract (operators/payloads.py), Spark-free:
what ``payload_frame`` builds from a parse function's rows is exactly
what ``map_payloads`` hands to Arrow."""

from __future__ import annotations

from pyspark.sql import types as T

from vacancy_gpt_etl_pipeline_spark.operators.payloads import payload_frame

SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("n", T.IntegerType()),
        T.StructField("total", T.LongType()),
    ]
)


def _parse(b: bytes) -> list[dict]:
    if not b:
        return [{"fmt": "empty"}]  # quarantine row: other fields null
    if b == b"drop":
        return []
    return [{"total": len(b), "n": k, "fmt": "x"} for k in range(len(b))]


def test_rows_ids_nulls_and_column_order():
    out = payload_frame([7, 8, 9], [b"ab", None, b"drop"], _parse, SCHEMA)
    assert list(out.columns) == ["asset_id", "fmt", "n", "total"]
    assert out["asset_id"].tolist() == [7, 7, 8]  # 1→N, null→b"", dropped
    assert out["fmt"].tolist() == ["x", "x", "empty"]
    assert out["n"].tolist()[:2] == [0, 1] and out["n"].isna().tolist()[2]
    assert [str(out[c].dtype) for c in ("asset_id", "n", "total")] == [
        "Int64",
        "Int32",
        "Int64",
    ]


def test_long_next_to_null_stays_exact():
    """An int next to a None no longer rides through float64, which
    rounds above 2**53."""
    big = 2**53 + 1

    def parse(b: bytes) -> list[dict]:
        return [{"total": big}, {}]

    out = payload_frame([1], [b"x"], parse, SCHEMA)
    assert out["total"].tolist()[0] == big and out["total"].isna().tolist()[1]


def test_empty_batch_has_the_schema_columns():
    out = payload_frame([], [], _parse, SCHEMA)
    assert list(out.columns) == SCHEMA.fieldNames() and len(out) == 0


def test_int_past_its_column_is_null():
    """An int outside its column's range reads null (the harness's one
    fit rule, whichever parser produced it); the range ends still fit."""
    vals = [2**31 - 1, -(2**31), 2**31, -(2**31) - 1, 2**32 - 1]
    totals = [2**63 - 1, -(2**63), 2**63, -(2**63) - 1, 0]

    def parse(b: bytes) -> list[dict]:
        return [{"n": n, "total": t} for n, t in zip(vals, totals)]

    out = payload_frame([1], [b"x"], parse, SCHEMA)
    assert out["n"].tolist()[:2] == vals[:2]
    assert out["n"].isna().tolist() == [False, False, True, True, True]
    assert out["total"].tolist()[:2] == totals[:2]
    assert out["total"].isna().tolist() == [False, False, True, True, False]
