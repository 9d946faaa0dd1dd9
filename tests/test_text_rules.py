"""The text-dedup rules have one home (functions/text.py): what a word is
(``tokens``), what a word n-gram is (``gram_starts``/``gram_at``) and what
a content key is (``fingerprint``). MinHash and SimHash run one hash
family, and their default arguments are the path the DuckDB oracles
verify."""

from __future__ import annotations

import os

import duckdb
import pytest

from vacancy_gpt_etl_pipeline_spark.operators.dedup import (
    minhash_near_duplicates,
    simhash_near_duplicates,
)
from vacancy_gpt_etl_pipeline_spark.queries import MINHASH_LSH_SQL, SIMHASH_SQL

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "vacancy_gpt_etl_pipeline_spark",
)
# the tokenizer and the content-key normalization, as written inline
TEXT_RULE_COPIES = ("F.split(F.lower(F.trim(", "F.lower(F.regexp_replace(F.trim(")


def _text_rule_copies() -> list[str]:
    """``file:line`` of every inline tokenizer or content-key
    normalization in the package outside ``functions/text.py``."""
    found = []
    for root, _, files in os.walk(PKG):
        for name in files:
            path = os.path.join(root, name)
            rel = os.path.relpath(path, PKG)
            if not name.endswith(".py") or rel == os.path.join(
                "functions", "text.py"
            ):
                continue
            with open(path, encoding="utf-8") as f:
                for lineno, line in enumerate(f, 1):
                    if any(c in line for c in TEXT_RULE_COPIES):
                        found.append(f"{rel}:{lineno}")
    return found


def test_text_rules_have_one_home():
    assert _text_rule_copies() == []


def test_gram_starts_is_empty_below_n(spark):
    from pyspark.sql import functions as F

    from vacancy_gpt_etl_pipeline_spark.functions.text import (
        gram_at,
        gram_starts,
        tokens,
    )

    df = spark.createDataFrame(
        [(1, ""), (2, "a"), (3, "A b"), (4, " a  B c ")], "id long, text string"
    ).select("id", tokens("text").alias("t"))
    grams = F.transform(gram_starts("t", 2), lambda i: gram_at("t", i, 2))
    got = {r.id: r.g for r in df.select("id", grams.alias("g")).collect()}
    assert got == {1: [], 2: [], 3: ["a b"], 4: ["a b", "b c"]}


def _sorted_rows(rows) -> list[tuple]:
    # the oracle suite compares floats to 1e-9; rounding to the 6 digits
    # both engines already round the Jaccard to does the same here
    return sorted((a, b, round(score, 6)) for a, b, score in rows)


@pytest.mark.parametrize(
    "op, oracle, score",
    [
        (minhash_near_duplicates, MINHASH_LSH_SQL, "jaccard"),
        (simhash_near_duplicates, SIMHASH_SQL, "hamming"),
    ],
    ids=["minhash", "simhash"],
)
def test_default_arguments_are_the_verified_path(spark, sf_dir, op, oracle, score):
    """Called with default arguments, each near-dup operator returns the
    rows its registry entry's DuckDB oracle computes."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    got = op(docs, "text", "doc_id").select("id_a", "id_b", score).collect()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    want = con.execute(f"SELECT id_a, id_b, {score} FROM ({oracle})").fetchall()
    con.close()
    assert want, "the fixture must hold near-duplicate pairs"
    assert _sorted_rows(got) == _sorted_rows(want)
