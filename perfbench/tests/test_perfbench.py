"""The benchmark's own tests: generator and stub determinism, the output
checks, the event-log ledger, and fault injection through a real pipeline
run. Run from the checkout root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os

import duckdb
import pytest

import checks
import gen
import run
from stub_llm import StubLLM

SMALL = gen.VacancySpec(rows_per_file=300, title_pool=120, field_pool=60)


def _read_keys(paths):
    con = duckdb.connect()
    files = "[" + ", ".join(f"'{p}'" for p in paths) + "]"
    return con.execute(
        f"SELECT title, ai_field_of_activity FROM read_csv({files}, header = true, all_varchar = true)"
    ).fetchall()


# ---------------------------------------------------------------------------
# generator and stub
# ---------------------------------------------------------------------------

def test_same_seed_writes_byte_identical_csvs(tmp_path):
    a = gen.write_vacancy_csvs(str(tmp_path / "a"), 7, SMALL)
    b = gen.write_vacancy_csvs(str(tmp_path / "b"), 7, SMALL)
    c = gen.write_vacancy_csvs(str(tmp_path / "c"), 8, SMALL)
    assert [os.path.basename(p) for p in a] == [os.path.basename(p) for p in b]
    assert all(filecmp.cmp(x, y, shallow=False) for x, y in zip(a, b))
    assert not all(filecmp.cmp(x, y, shallow=False) for x, y in zip(a, c))


def test_generated_keys_never_contain_the_prompt_separator(tmp_path):
    rows = _read_keys(gen.write_vacancy_csvs(str(tmp_path), 3, SMALL))
    assert rows
    assert not any(", " in (v or "") for r in rows for v in r)
    titles = {r[0] for r in rows}
    # FIXTURES.md A1 shapes are all present
    assert None in titles and "   " in titles
    assert any(t and len(t) > 50 for t in titles)


def test_same_id_duplicates_never_share_a_file(tmp_path):
    paths = gen.write_vacancy_csvs(str(tmp_path), 5, SMALL)
    con = duckdb.connect()
    for p in paths:
        n, ids = con.execute(
            f"SELECT count(*), count(DISTINCT id) FROM (SELECT DISTINCT * FROM read_csv('{p}', header = true, all_varchar = true))"
        ).fetchone()
        assert n == ids, p


def test_stub_answers_are_a_function_of_seed_keys_and_attempt():
    keys = ["Senior Разработчик (Москва) №1", "Junior Маркетолог (Сочи) №2", "Курьер (Пермь) №3"]
    a, b = StubLLM(seed=1, delay_s=0), StubLLM(seed=1, delay_s=0)
    for attempt in (0, 1):
        for task in ("title", "field"):
            assert a.answer(task, keys, attempt) == b.answer(task, keys, attempt)
    answers = {StubLLM(seed=s, delay_s=0).answer("title", keys * 5, 0)[1] for s in range(20)}
    assert len(answers) > 1


def test_stub_faults_cover_every_kind():
    stub = StubLLM(seed=4, delay_s=0)
    keys = [f"Lead Аналитик данных (Казань) №{i}" for i in range(2000)]
    statuses, fenced, ghosts, omitted = set(), 0, 0, 0
    for i in range(0, len(keys), 15):
        batch = keys[i:i + 15]
        status, text, _, g = stub.answer("title", batch, 0)
        statuses.add(status)
        if status == 200:
            fenced += text.startswith("```")
            ghosts += len(g)
            omitted += len(batch) - (len(json.loads(text.strip("`\njson"))) - len(g))
    assert statuses == {200, 503}
    assert fenced and ghosts and omitted


# ---------------------------------------------------------------------------
# output checks
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def picked(tmp_path_factory):
    d = tmp_path_factory.mktemp("raw")
    return gen.write_vacancy_csvs(str(d), 11, SMALL)[-4:]


def _sink_from_expected(con, picked, path, edit=""):
    con.execute(f"COPY (SELECT * FROM ({checks.expected_sql(picked)}) {edit}) TO '{path}' (FORMAT parquet)")
    return f"SELECT * FROM read_parquet('{path}')"


def _checker(picked):
    from vacancy_gpt_etl_pipeline_spark.operators.enrichment import FIELD_TAXONOMY, TITLE_TAXONOMY

    return checks.PipelineChecker(picked, TITLE_TAXONOMY, FIELD_TAXONOMY)


def test_checks_accept_the_expected_output(picked, tmp_path):
    ck = _checker(picked)
    con = duckdb.connect()
    sink = _sink_from_expected(con, picked, tmp_path / "ok.parquet")
    n = con.execute(f"SELECT count(*) FROM ({sink})").fetchone()[0]
    assert ck.check(sink, n, ck.budget) == []


@pytest.mark.parametrize("edit, deduped_delta, expect", [
    ("UNION ALL (SELECT * FROM ({exp}) LIMIT 1)", 1, "duplicate ids"),
    ("WHERE id <> (SELECT min(id) FROM ({exp}))", 0, "output rows"),
])
def test_checks_reject_corrupted_results(picked, tmp_path, edit, deduped_delta, expect):
    ck = _checker(picked)
    con = duckdb.connect()
    exp = checks.expected_sql(picked)
    n = con.execute(f"SELECT count(*) FROM ({exp})").fetchone()[0]
    sink = _sink_from_expected(con, picked, tmp_path / "bad.parquet", edit.format(exp=exp))
    fails = ck.check(sink, n + deduped_delta, None)
    assert any(expect in f for f in fails), fails


def test_checks_reject_a_wrong_label_and_an_overspent_budget(picked, tmp_path):
    ck = _checker(picked)
    con = duckdb.connect()
    exp = checks.expected_sql(picked)
    n = con.execute(f"SELECT count(*) FROM ({exp})").fetchone()[0]
    path = tmp_path / "label.parquet"
    con.execute(f"""COPY (SELECT * REPLACE (CASE WHEN id = (SELECT min(id) FROM ({exp}))
                    THEN 'Маркетолог' ELSE normalized_title END AS normalized_title)
                    FROM ({exp})) TO '{path}' (FORMAT parquet)""")
    fails = ck.check(f"SELECT * FROM read_parquet('{path}')", n, ck.budget + 1)
    assert any("recompute" in f for f in fails)
    assert any("budget" in f for f in fails)
    con.execute(f"COPY (SELECT * REPLACE ('nonsense' AS category) FROM ({exp})) TO '{path}' (FORMAT parquet)")
    assert any("taxonomy" in f for f in ck.check(f"SELECT * FROM read_parquet('{path}')", n, None))


def test_registry_expected_hashes_match_the_duckdb_oracles(tmp_path):
    from vacancy_gpt_etl_pipeline_spark.queries import oracle_sql

    gen.write_registry_tables(str(tmp_path), run.REGISTRY_DATA_SEED, run.REGISTRY_SPEC)
    with open(run.REGISTRY_EXPECTED) as fh:
        stored = json.load(fh)
    assert stored["spec"] == run.REGISTRY_SPEC.__dict__
    assert checks.oracle_hashes(str(tmp_path), run.ALL_REGISTRY_ENTRIES, oracle_sql()) == stored["hashes"]


# ---------------------------------------------------------------------------
# Spark: the event-log ledger and a fault-injected pipeline run
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def session(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("work"))
    run.prepare_env(work)
    s = run.Session()
    s.start()
    yield s, work
    s.close()


def test_ledger_counts_jobs_and_tasks_per_group(session):
    from ledger import EventLogLedger, job_group, tracker_counts

    s, work = session
    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir)
    s.start(event_log_dir=log_dir)
    sc = s.spark.sparkContext
    with job_group(sc, "two"):
        sc.parallelize(range(30), 3).count()
        sc.parallelize(range(30), 3).count()
    with job_group(sc, "one"):
        sc.parallelize(range(30), 5).map(lambda x: x * 2).count()
    ledger = EventLogLedger(log_dir)
    st = sc.statusTracker()
    ledger.settle(st.getJobIdsForGroup("two") + st.getJobIdsForGroup("one"))
    assert (ledger.groups["two"]["jobs"], ledger.groups["two"]["tasks"]) == (2, 6)
    assert (ledger.groups["one"]["jobs"], ledger.groups["one"]["tasks"]) == (1, 5)
    assert ledger.groups["one"]["stages"] == 1
    assert tracker_counts(sc, "two") == (2, 6)
    assert tracker_counts(sc, "one") == (1, 5)
    assert ledger.groups["one"]["run_ms"] >= 0 and ledger.groups["two"]["cpu_ms"] > 0
    s.start()  # back to an untraced session


def test_fault_injection_reaches_the_retry_path(session):
    s, work = session
    spec = gen.VacancySpec(rows_per_file=1_500, title_pool=1_000, field_pool=500)
    bench = run.PipelineBench(5, os.path.join(work, "faults"), spec=spec, delay_s=0.0)
    bench.start()
    try:
        r = bench.run_once(s.spark)
        again = bench.run_once(s.spark)
    finally:
        bench.close()
    # "ok" includes the comparison with the DuckDB recompute, so no
    # hallucinated item changed a label
    assert r["ok"] and again["ok"], bench.failures
    st = r["stub"]
    # 503s are covered by test_stub_faults_cover_every_kind
    assert st.retry_requests > 0 and st.hallucinated > 0
    assert st.keys_resolved < st.keys_sent
    # the seeded stub makes the request count exact
    assert again["stub"].requests == st.requests
