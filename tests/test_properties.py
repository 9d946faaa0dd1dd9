"""Property-based tests (SURVEY.md §5: enrichment totality/idempotence,
dedup invariants, parser robustness).

Hypothesis drives the pure-Python layers hard (hundreds of examples); the
Spark-level invariants run a bounded number of examples per property since
each example is a distributed job.
"""

from __future__ import annotations

import json
from collections import Counter

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from vacancy_gpt_etl_pipeline_spark.functions.json_parse import safe_json_parse_text
from vacancy_gpt_etl_pipeline_spark.operators.dedup import dedup_exact
from vacancy_gpt_etl_pipeline_spark.operators.enrichment import (
    UNDEFINED,
    Enricher,
    _process_chunk,
)
from vacancy_gpt_etl_pipeline_spark.operators.relational import (
    bucket_pairs,
    cap_buckets,
    top_k_per_group,
)

# ---------------------------------------------------------------------------
# parser: never raises, returns list-or-None
# ---------------------------------------------------------------------------


@given(st.text(max_size=300))
@settings(max_examples=300)
def test_parser_total_on_arbitrary_text(text):
    out = safe_json_parse_text(text)
    assert out is None or isinstance(out, list)


@given(
    st.lists(
        st.fixed_dictionaries(
            {"original": st.text(min_size=1, max_size=20), "normalized_title": st.text(max_size=20)}
        ),
        max_size=10,
    ),
    st.sampled_from(["%s", "```json\n%s\n```", "prefix %s suffix", "```\n%s\n```"]),
)
@settings(max_examples=200)
def test_parser_recovers_wrapped_json(items, template):
    payload = json.dumps(items, ensure_ascii=False)
    # the DOTALL array-extraction fallback needs a [{...}] shape; empty lists
    # only survive the direct-parse path
    if "%s" != template and not items:
        return
    out = safe_json_parse_text(template % payload)
    if items and all("\n" not in json.dumps(i) for i in items):
        assert out == items


# ---------------------------------------------------------------------------
# enrichment chunk: totality + idempotence under arbitrary failure behavior
# ---------------------------------------------------------------------------


class ArbitraryBehavior(Enricher):
    """Deterministic pseudo-random behavior per (key, attempt): resolve,
    drop, hallucinate, or garbage — a worst-case-but-repeatable LLM."""

    output_cols = ("normalized_title",)
    retry_values = frozenset({UNDEFINED})

    def __init__(self, salt):
        self.salt = salt

    def respond(self, keys, attempt):
        h = lambda k: hash((self.salt, k, attempt)) % 5  # noqa: E731
        items = []
        for k in keys:
            mode = h(k)
            if mode == 0:
                continue  # dropped
            if mode == 1:
                items.append({"original": k + "_HALLUCINATED", "normalized_title": "X"})
            elif mode == 2:
                items.append({"original": k, "normalized_title": UNDEFINED})
            else:
                items.append({"original": k, "normalized_title": f"OK:{k}"})
        if h("__garbage__") == 4:
            return "```json\n" + json.dumps(items, ensure_ascii=False)[:-2] + "\n```"  # truncated
        return json.dumps(items, ensure_ascii=False)


keys_strategy = st.lists(
    st.text(
        alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd")),
        min_size=1,
        max_size=12,
    ),
    min_size=1,
    max_size=25,
    unique=True,
)


@given(
    keys=keys_strategy,
    salt=st.integers(0, 1000),
    retries=st.integers(0, 3),
    batch=st.integers(1, 30),
)
@settings(max_examples=150, suppress_health_check=[HealthCheck.too_slow])
def test_chunk_totality_and_idempotence(keys, salt, retries, batch):
    enricher = ArbitraryBehavior(salt)
    defaults = {"normalized_title": UNDEFINED}
    rows = _process_chunk(keys, enricher, batch, retries, defaults, sleep_s=0)
    # totality: every input key exactly once, in order
    assert [r["original"] for r in rows] == keys
    # values are either real resolutions or the fallback stub — never None,
    # never hallucinated keys
    for r in rows:
        assert r["normalized_title"] == UNDEFINED or r["normalized_title"] == f"OK:{r['original']}"
    # idempotence: pure function of (keys, enricher behavior)
    rows2 = _process_chunk(keys, ArbitraryBehavior(salt), batch, retries, defaults, sleep_s=0)
    assert rows == rows2


# ---------------------------------------------------------------------------
# dedup invariants on Spark (bounded examples)
# ---------------------------------------------------------------------------

small_rows = st.lists(
    st.tuples(st.integers(0, 5), st.integers(0, 3)), min_size=0, max_size=30
)


@given(rows=small_rows)
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
def test_dedup_count_and_idempotence(spark, rows):
    df = spark.createDataFrame(rows, "k int, v int") if rows else spark.createDataFrame([], "k int, v int")
    out = dedup_exact(df)
    n = out.count()
    assert n <= max(len(rows), 0)
    assert n == len(set(rows))
    assert dedup_exact(out).count() == n  # idempotent


@given(rows=small_rows.filter(lambda r: len(r) > 0))
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
def test_keep_first_is_deterministic_min(spark, rows):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(rows, "k int, v int")
    out = top_k_per_group(df, ["k"], [F.asc("v")])
    got = {r["k"]: r["v"] for r in out.collect()}
    expect = {}
    for k, v in rows:
        expect[k] = min(expect.get(k, v), v)
    assert got == expect


@given(
    rows=small_rows.filter(lambda r: len(r) > 0),
    k=st.integers(1, 4),
    rank_col=st.sampled_from([None, "rank"]),
)
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
def test_top_k_per_group_bounded_and_partitioning_free(spark, rows, k, rank_col):
    """For ANY rows and k: at most k rows per group, exactly the k
    smallest (v, i) per key, the same rows after a repartition, and the
    rank column kept only when asked for."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(kk, v, i) for i, (kk, v) in enumerate(rows)], "k int, v int, i int"
    )
    order = [F.asc("v"), F.asc("i")]  # total: i is unique
    out = top_k_per_group(df, ["k"], order, k, rank_col=rank_col)
    assert out.columns == ["k", "v", "i"] + ([rank_col] if rank_col else [])
    got = sorted(tuple(r) for r in out.collect())
    again = top_k_per_group(df.repartition(3), ["k"], order, k, rank_col=rank_col)
    assert sorted(tuple(r) for r in again.collect()) == got
    groups: dict = {}
    for i, (kk, v) in enumerate(rows):
        groups.setdefault(kk, []).append((v, i))
    expect = sorted(
        (kk, v, i, *([rank] if rank_col else []))
        for kk, members in groups.items()
        for rank, (v, i) in enumerate(sorted(members)[:k], start=1)
    )
    assert max(Counter(r[0] for r in got).values()) <= k
    assert got == expect


bucket_rows = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 1), st.integers(0, 3)),
    min_size=0,
    max_size=20,
)
bucket_keys = st.sampled_from([["a"], ["a", "b"]])
bucket_cap = st.one_of(st.none(), st.integers(1, 4))


def _bucket_frame(spark, rows):
    """(a, b, v, i) rows: bucket keys a/b, a carried value v, unique id i."""
    return spark.createDataFrame(
        [(a, b, v, i) for i, (a, b, v) in enumerate(rows)],
        "a int, b int, v int, i int",
    )


def _kept(rows, keys, cap):
    """The rows a cap of ``cap`` keeps, computed in Python."""
    key = lambda r: tuple(r[c] for c in keys)  # noqa: E731
    recs = [dict(a=a, b=b, v=v, i=i) for i, (a, b, v) in enumerate(rows)]
    size = Counter(key(r) for r in recs)
    return key, [r for r in recs if cap is None or size[key(r)] <= cap]


@given(rows=bucket_rows, keys=bucket_keys, cap=bucket_cap)
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
def test_cap_buckets_keeps_exactly_the_small_buckets(spark, rows, keys, cap):
    """For ANY rows, keys and cap: exactly the rows of buckets with at
    most ``cap`` rows survive, with the input's columns, the same rows
    after a repartition, and ``cap=None`` is the frame itself."""
    df = _bucket_frame(spark, rows)
    out = cap_buckets(df, keys, cap)
    if cap is None:
        assert out is df
    assert out.columns == df.columns
    got = sorted(tuple(r) for r in out.collect())
    again = cap_buckets(df.repartition(3), keys, cap)
    assert sorted(tuple(r) for r in again.collect()) == got
    _, kept = _kept(rows, keys, cap)
    assert got == sorted((r["a"], r["b"], r["v"], r["i"]) for r in kept)


@given(rows=bucket_rows, keys=bucket_keys, cap=bucket_cap)
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
def test_bucket_pairs_is_every_same_bucket_pair_once(spark, rows, keys, cap):
    """For ANY rows, keys and cap: the self-join of the capped frame is
    exactly the same-bucket pairs with id_a < id_b, each once, with the
    carried column from each side."""
    capped = cap_buckets(_bucket_frame(spark, rows), keys, cap)
    out = bucket_pairs(capped, keys, "i", ["v"])
    assert out.columns == ["id_a", "id_b", "v_a", "v_b"]
    got = sorted(tuple(r) for r in out.collect())
    key, kept = _kept(rows, keys, cap)
    expect = sorted(
        (x["i"], y["i"], x["v"], y["v"])
        for x in kept
        for y in kept
        if key(x) == key(y) and x["i"] < y["i"]
    )
    assert got == expect


# ---------------------------------------------------------------------------
# boilerplate removal invariants on Spark (bounded examples)
# ---------------------------------------------------------------------------

word = st.sampled_from(["alpha", "beta", "gamma", "delta", "epsilon", "zeta"])
docs_strategy = st.lists(
    st.lists(word, min_size=1, max_size=12).map(" ".join),
    min_size=1,
    max_size=8,
)


@given(texts=docs_strategy, min_df=st.integers(2, 4))
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
def test_boilerplate_removal_totality_and_subsequence(spark, texts, min_df):
    """For ANY corpus: every doc comes back exactly once; n_kept <=
    n_tokens; and the cleaned text is a SUBSEQUENCE of the original
    tokens (removal never reorders or invents tokens)."""
    from vacancy_gpt_etl_pipeline_spark.operators.curation import (
        remove_boilerplate_ngrams,
    )

    rows = list(enumerate(texts))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in remove_boilerplate_ngrams(
            df, n=3, min_doc_frequency=min_df
        ).collect()
    }
    assert set(out) == {i for i, _ in rows}
    for i, text in rows:
        r = out[i]
        toks = text.split()
        assert r["n_tokens"] == len(toks)
        assert 0 <= r["n_kept"] <= r["n_tokens"]
        kept = r["cleaned_text"].split() if r["cleaned_text"] else []
        assert len(kept) == r["n_kept"]
        it = iter(toks)
        assert all(any(t == k for t in it) for k in kept), (
            f"cleaned text is not a subsequence: {kept} vs {toks}"
        )


# ---------------------------------------------------------------------------
# snapshot_diff: applying the diff to old reconstructs new exactly
# ---------------------------------------------------------------------------


@given(
    st.dictionaries(st.integers(0, 12), st.integers(0, 3), max_size=8),
    st.dictionaries(st.integers(0, 12), st.integers(0, 3), max_size=8),
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_snapshot_diff_roundtrip(spark, old_map, new_map):
    from vacancy_gpt_etl_pipeline_spark.operators.diff import snapshot_diff

    schema = "k int, v int"
    old = spark.createDataFrame(list(old_map.items()) or [], schema)
    new = spark.createDataFrame(list(new_map.items()) or [], schema)
    diff = snapshot_diff(old, new, ["k"], ["v"]).collect()
    # replay the diff over old_map
    replayed = dict(old_map)
    for r in diff:
        if r["change_type"] == "removed":
            replayed.pop(r["k"], None)
        else:
            replayed[r["k"]] = r["new_v"]
    assert replayed == new_map
    # unchanged keys never appear
    for r in diff:
        if r["change_type"] == "changed":
            assert old_map[r["k"]] != new_map[r["k"]]


# ---------------------------------------------------------------------------
# skyline: idempotent, and every dropped point is dominated by a survivor
# ---------------------------------------------------------------------------


@given(
    st.lists(
        st.tuples(st.integers(0, 20), st.integers(0, 20)),
        min_size=1,
        max_size=25,
    )
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_skyline_dominance_and_idempotence(spark, pts):
    from vacancy_gpt_etl_pipeline_spark.operators.skyline import skyline2d

    df = spark.createDataFrame(
        [(float(x), float(y)) for x, y in pts], "x double, y double"
    )
    sky = skyline2d(df, "x", "y", buckets=5)
    got = {(r["x"], r["y"]) for r in sky.collect()}
    # no survivor dominates another survivor
    for p in got:
        for q in got:
            assert not (
                q[0] <= p[0] and q[1] <= p[1] and (q[0] < p[0] or q[1] < p[1])
            )
    # every dropped point is dominated by some survivor
    for p in {(float(x), float(y)) for x, y in pts} - got:
        assert any(
            q[0] <= p[0] and q[1] <= p[1] and (q[0] < p[0] or q[1] < p[1])
            for q in got
        )
    # idempotence: skyline(skyline) == skyline
    again = {(r["x"], r["y"]) for r in skyline2d(sky, "x", "y", buckets=5).collect()}
    assert again == got


# ---------------------------------------------------------------------------
# distributed ranking ≡ window NTILE on arbitrary shapes (bounded examples:
# each is a Spark job)
# ---------------------------------------------------------------------------


@given(
    data=st.lists(
        st.tuples(st.sampled_from("xyz"), st.integers(0, 50)),
        min_size=1,
        max_size=60,
        unique=True,
    ),
    k=st.integers(2, 8),
    parts=st.integers(1, 9),
)
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_grouped_ntile_equals_window_ntile_property(spark, data, k, parts):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from vacancy_gpt_etl_pipeline_spark.operators.ranking import grouped_ntile

    rows = [(g, key, (key * 31 + ord(g)) % 7) for g, key in data]
    df = spark.createDataFrame(rows, ["g", "key", "v"])
    got = grouped_ntile(
        df,
        [F.asc("v"), F.asc("key")],
        k,
        "bucket",
        group_cols=["g"],
        num_partitions=parts,
    )
    w = Window.partitionBy("g").orderBy("v", "key")
    want = df.withColumn("bucket", F.ntile(k).over(w))
    assert {(r.g, r.key, r.bucket) for r in got.collect()} == {
        (r.g, r.key, r.bucket) for r in want.collect()
    }
    spark.catalog.clearCache()
