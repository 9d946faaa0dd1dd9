"""Enrichment failure paths under test (VERDICT round-1 gap #4).

The reference's hardest-won logic is its failure handling
(dag/vacancy_pipline_gpt_rerty.py): fenced/malformed JSON recovery
(:251-265), retry-with-residue (:284-302), fallback-stub totality
(:320-325), anti-hallucination filtering (:590-603), per-batch keep-first
dedup (:360-366). Round 1 implemented all of it but only ever drove the
clean-JSON happy path; these tests take every branch with adversarial mock
enrichers.
"""

from __future__ import annotations

import json

import pytest

from vacancy_gpt_etl_pipeline_spark.functions.json_parse import safe_json_parse_text
from vacancy_gpt_etl_pipeline_spark.operators.enrichment import (
    UNDEFINED,
    UNSPECIFIED,
    Enricher,
    KeywordRule,
    MockKeywordEnricher,
    _process_chunk,
    enrich_column,
)


class ScriptedEnricher(Enricher):
    """Returns scripted raw responses per attempt; records every call."""

    def __init__(self, script, output_cols=("normalized_title",), retry_values=None):
        self.script = script  # attempt -> str | callable(keys)->str | Exception
        self.output_cols = tuple(output_cols)
        if retry_values is not None:
            self.retry_values = frozenset(retry_values)
        self.calls: list[tuple[int, tuple[str, ...]]] = []

    def respond(self, keys, attempt):
        self.calls.append((attempt, tuple(keys)))
        step = self.script[min(attempt, len(self.script) - 1)]
        if isinstance(step, Exception):
            raise step
        if callable(step):
            return step(keys)
        return step


def _ok(keys, **extra):
    return json.dumps(
        [{"original": k, "normalized_title": f"T:{k}", **extra} for k in keys],
        ensure_ascii=False,
    )


# ---------------------------------------------------------------------------
# safe_json_parse_text: F6 (fence strip) / F7 (regex extract) / F8 (parse)
# ---------------------------------------------------------------------------


def test_parse_clean_json():
    assert safe_json_parse_text('[{"original": "a"}]') == [{"original": "a"}]


def test_parse_markdown_fenced():
    raw = '```json\n[{"original": "a", "normalized_title": "X"}]\n```'
    assert safe_json_parse_text(raw) == [{"original": "a", "normalized_title": "X"}]


def test_parse_bare_fence():
    raw = '```\n[{"original": "a"}]\n```'
    assert safe_json_parse_text(raw) == [{"original": "a"}]


def test_parse_array_embedded_in_prose():
    raw = 'Вот результат классификации:\n[{"original": "a",\n "normalized_title": "X"}]\nНадеюсь, помог!'
    assert safe_json_parse_text(raw) == [{"original": "a", "normalized_title": "X"}]


def test_parse_truncated_returns_none():
    assert safe_json_parse_text('[{"original": "a", "normalized_ti') is None


def test_parse_empty_and_none():
    assert safe_json_parse_text("") is None
    assert safe_json_parse_text(None) is None
    assert safe_json_parse_text("no json here at all") is None


def test_parse_non_list_json_returns_none():
    assert safe_json_parse_text('{"original": "a"}') is None


# ---------------------------------------------------------------------------
# _process_chunk: the retry-residue loop
# ---------------------------------------------------------------------------

DEFAULTS = {"normalized_title": UNDEFINED}


def test_totality_on_clean_response():
    e = ScriptedEnricher([_ok])
    rows = _process_chunk(["a", "b", "c"], e, batch_size=15, max_retries=2, defaults=DEFAULTS, sleep_s=0)
    assert [r["original"] for r in rows] == ["a", "b", "c"]
    assert all(r["normalized_title"] == f"T:{r['original']}" for r in rows)
    assert len(e.calls) == 1  # no retries needed


def test_fenced_response_is_recovered():
    e = ScriptedEnricher([lambda keys: f"```json\n{_ok(keys)}\n```"])
    rows = _process_chunk(["a", "b"], e, batch_size=15, max_retries=0, defaults=DEFAULTS, sleep_s=0)
    assert {r["original"]: r["normalized_title"] for r in rows} == {
        "a": "T:a",
        "b": "T:b",
    }


def test_truncated_then_clean_retries_residue():
    e = ScriptedEnricher(['[{"original": "a", "normalized_ti', _ok])
    rows = _process_chunk(["a", "b"], e, batch_size=15, max_retries=2, defaults=DEFAULTS, sleep_s=0)
    assert all(r["normalized_title"].startswith("T:") for r in rows)
    # attempt 0 got everything, attempt 1 retried the full residue
    assert e.calls == [(0, ("a", "b")), (1, ("a", "b"))]


def test_partial_failure_resends_only_residue():
    def first(keys):  # resolves only 'a'; 'b','c' missing from response
        return json.dumps([{"original": "a", "normalized_title": "T:a"}])

    e = ScriptedEnricher([first, _ok])
    rows = _process_chunk(["a", "b", "c"], e, batch_size=15, max_retries=2, defaults=DEFAULTS, sleep_s=0)
    assert {r["original"]: r["normalized_title"] for r in rows} == {
        "a": "T:a", "b": "T:b", "c": "T:c",
    }
    # U2 set difference: the retry carries ONLY the unresolved residue
    assert e.calls == [(0, ("a", "b", "c")), (1, ("b", "c"))]


def test_residues_of_two_batches_leave_in_one_retry():
    def first(keys):  # every request drops its middle key
        return _ok([k for k in keys if k not in ("b", "e")])

    e = ScriptedEnricher([first, _ok])
    rows = _process_chunk(
        list("abcdef"), e, batch_size=3, max_retries=1, defaults=DEFAULTS, sleep_s=0
    )
    assert all(r["normalized_title"] == f"T:{r['original']}" for r in rows)
    # attempt 0 sends full batches; the retry round pools both residues
    assert e.calls == [(0, ("a", "b", "c")), (0, ("d", "e", "f")), (1, ("b", "e"))]


def test_retry_round_rebatches_residue_and_sleeps_once(monkeypatch):
    from vacancy_gpt_etl_pipeline_spark.operators import enrichment

    sleeps = []
    monkeypatch.setattr(enrichment.time, "sleep", sleeps.append)
    e = ScriptedEnricher(["garbage", _ok])
    _process_chunk(list("abcde"), e, batch_size=2, max_retries=1, defaults=DEFAULTS, sleep_s=0.5)
    assert [(a, len(k)) for a, k in e.calls] == [(0, 2), (0, 2), (0, 1), (1, 2), (1, 2), (1, 1)]
    assert sleeps == [0.5]  # pacing once per retry round, not per request


def test_retry_values_requeue_primary_failures():
    def first(keys):
        return json.dumps(
            [{"original": k, "normalized_title": UNDEFINED if k == "b" else f"T:{k}"} for k in keys]
        )

    e = ScriptedEnricher([first, _ok], retry_values={UNDEFINED})
    rows = _process_chunk(["a", "b"], e, batch_size=15, max_retries=1, defaults=DEFAULTS, sleep_s=0)
    assert {r["original"]: r["normalized_title"] for r in rows} == {"a": "T:a", "b": "T:b"}
    assert e.calls == [(0, ("a", "b")), (1, ("b",))]


def test_exhausted_retries_fall_back_to_stub():
    e = ScriptedEnricher(["garbage", "also garbage"])
    rows = _process_chunk(["a", "b"], e, batch_size=15, max_retries=1, defaults=DEFAULTS, sleep_s=0)
    # totality invariant (dag/...py:320-325): every key exactly once, stubbed
    assert [r["original"] for r in rows] == ["a", "b"]
    assert all(r["normalized_title"] == UNDEFINED for r in rows)
    assert len(e.calls) == 2  # max_retries + 1 attempts


def test_exception_in_respond_is_survived():
    e = ScriptedEnricher([RuntimeError("HTTP 500"), _ok])
    rows = _process_chunk(["a"], e, batch_size=15, max_retries=1, defaults=DEFAULTS, sleep_s=0)
    assert rows == [{"original": "a", "normalized_title": "T:a"}]


def test_hallucinated_keys_are_filtered():
    def resp(keys):
        items = [{"original": k, "normalized_title": f"T:{k}"} for k in keys]
        items.append({"original": "INVENTED KEY", "normalized_title": "Разработчик"})
        return json.dumps(items)

    e = ScriptedEnricher([resp])
    rows = _process_chunk(["a"], e, batch_size=15, max_retries=0, defaults=DEFAULTS, sleep_s=0)
    # anti-hallucination (dag/...py:590-603): invented key never surfaces
    assert [r["original"] for r in rows] == ["a"]


def test_duplicate_originals_keep_first():
    def resp(keys):
        return json.dumps(
            [
                {"original": "a", "normalized_title": "FIRST"},
                {"original": "a", "normalized_title": "SECOND"},
            ]
        )

    e = ScriptedEnricher([resp])
    rows = _process_chunk(["a"], e, batch_size=15, max_retries=0, defaults=DEFAULTS, sleep_s=0)
    assert rows == [{"original": "a", "normalized_title": "FIRST"}]


def test_non_dict_items_ignored():
    e = ScriptedEnricher(['["just a string", 42, {"original": "a", "normalized_title": "X"}]'])
    rows = _process_chunk(["a"], e, batch_size=15, max_retries=0, defaults=DEFAULTS, sleep_s=0)
    assert rows == [{"original": "a", "normalized_title": "X"}]


# ---------------------------------------------------------------------------
# enrich_column end-to-end on Spark with a flaky enricher
# ---------------------------------------------------------------------------


from mock_enrichers import BatchSizeEcho, FlakyEnricher  # noqa: E402


def test_enrich_column_with_flaky_enricher(spark):
    df = spark.createDataFrame(
        [(i, f"title {i}") for i in range(20)], "id int, title string"
    )
    out = enrich_column(df, "title", FlakyEnricher(), batch_size=7, max_retries=1)
    rows = {r["id"]: r["normalized_title"] for r in out.collect()}
    assert len(rows) == 20
    assert all(v == f"T:title {k}" for k, v in rows.items())


def test_enrich_column_no_retry_stubs_failures(spark):
    df = spark.createDataFrame(
        [(i, f"title {i}") for i in range(20)], "id int, title string"
    )
    out = enrich_column(df, "title", FlakyEnricher(), batch_size=7, max_retries=0)
    rows = {r["id"]: r["normalized_title"] for r in out.collect()}
    assert rows[3] == UNDEFINED and rows[13] == UNDEFINED
    assert rows[4] == "T:title 4"


def test_enrich_column_null_and_empty_keys_get_defaults(spark):
    df = spark.createDataFrame(
        [(1, "spark job"), (2, None), (3, "   ")], "id int, title string"
    )
    enricher = MockKeywordEnricher(
        rules=[KeywordRule("spark", {"normalized_title": "Разработчик"})],
        outputs=("normalized_title",),
    )
    out = enrich_column(
        df, "title", enricher, batch_size=5, empty_key_default=UNSPECIFIED
    )
    rows = {r["id"]: r["normalized_title"] for r in out.collect()}
    assert rows == {1: "Разработчик", 2: UNSPECIFIED, 3: UNSPECIFIED}


def test_partition_cap_preserves_batch_size(spark):
    """VERDICT #9: partition count bounded, per-call batch size preserved."""
    df = spark.createDataFrame(
        [(i, f"k{i:04d}") for i in range(200)], "id int, title string"
    )
    out = enrich_column(
        df, "title", BatchSizeEcho(), batch_size=5, max_retries=0, max_partitions=4
    )
    sizes = [int(r["normalized_title"]) for r in out.collect()]
    # 200 keys / cap 4 partitions = 50 keys per task, cut to ≤5 per call
    assert max(sizes) <= 5
    assert sum(1 for s in sizes if s == 5) >= 190  # nearly all full batches


def test_mapping_cached_across_actions(spark, tmp_path):
    """Two actions over one enriched frame must NOT call the LLM twice —
    the mapping persists after the first action (cost idempotence)."""
    from mock_enrichers import CallCountingEnricher

    df = spark.createDataFrame(
        [(i, f"k{i}") for i in range(40)], "id int, title string"
    )
    out = enrich_column(
        df, "title", CallCountingEnricher(str(tmp_path)), batch_size=10, max_retries=0
    )
    out.count()
    calls_after_first = len(list(tmp_path.glob("*.call")))
    # ~40/10 calls; round-robin partitions aren't exactly even so a ragged
    # partition can add a short chunk
    assert 4 <= calls_after_first <= 8
    out.count()  # second action: served from the persisted mapping
    assert len(list(tmp_path.glob("*.call"))) == calls_after_first


def test_output_column_collision_raises(spark):
    df = spark.createDataFrame([(1, "x", "old")], "id int, title string, normalized_title string")
    with pytest.raises(ValueError, match="already exists"):
        enrich_column(df, "title", FlakyEnricher())


def test_keys_from_scopes_the_distinct_key_set(spark):
    # keys_from is the chained-enrichment pruning hook: the mapping is
    # built from keys_from's key column; df rows whose key is absent
    # there fall through to the default (they were never sent upstream)
    df = spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "id int, title string"
    )
    keys_src = spark.createDataFrame([("alpha",)], "title string")
    out = enrich_column(
        df,
        "title",
        FlakyEnricher(),
        batch_size=10,
        max_retries=0,
        keys_from=keys_src,
    ).collect()
    got = {r.id: r.normalized_title for r in out}
    assert got[1] == "T:alpha"  # in keys_from → enriched
    assert got[2] == UNDEFINED  # absent → default, never enriched
