"""HttpLLMEnricher against an in-process localhost HTTP server — covers the
real-API request shape (YandexGPT-style envelope, dag/...py:224-240), the
retry prompt mutation (:519), and error handling, with zero external network.
"""

from __future__ import annotations

import io
import json
import math
import re
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pandas as pd
import pytest

from vacancy_gpt_etl_pipeline_spark.__main__ import main
from vacancy_gpt_etl_pipeline_spark.operators.enrichment import (
    UNDEFINED,
    UNSPECIFIED,
    HttpLLMEnricher,
    _process_chunk,
    enrich_column,
)


class _FakeLLM(BaseHTTPRequestHandler):
    requests: list[dict] = []
    fail_first = False
    omit_first_item = False  # drop one key from every attempt-0 answer

    def do_POST(self):
        body = json.loads(self.rfile.read(int(self.headers["Content-Length"])))
        type(self).requests.append(
            {"body": body, "auth": self.headers.get("Authorization")}
        )
        if type(self).fail_first and len(type(self).requests) == 1:
            self.send_response(500)
            self.end_headers()
            return
        prompt = body["messages"][0]["text"]
        # echo classification: every item in the prompt's {items} list (after
        # the last "|" or "для:") gets a label in every output column
        tail = re.split(r"\||для:", prompt)[-1]
        items = [s.strip() for s in tail.split(",") if s.strip()]
        if type(self).omit_first_item and not prompt.startswith("ВНИМАНИЕ"):
            items = items[1:]
        payload = {
            "result": {
                "alternatives": [
                    {
                        "message": {
                            "text": "```json\n"
                            + json.dumps(
                                [
                                    {
                                        "original": k,
                                        "normalized_title": f"T:{k}",
                                        "category": f"C:{k}",
                                        "specialization": f"S:{k}",
                                    }
                                    for k in items
                                ],
                                ensure_ascii=False,
                            )
                            + "\n```"
                        }
                    }
                ]
            }
        }
        data = json.dumps(payload).encode("utf-8")
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.end_headers()
        self.wfile.write(data)

    def log_message(self, *args):
        pass


@pytest.fixture()
def llm_server():
    _FakeLLM.requests = []
    _FakeLLM.fail_first = False
    _FakeLLM.omit_first_item = False
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _FakeLLM)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_port}/v1/completion"
    srv.shutdown()


def _enricher(endpoint, output_cols=("normalized_title",)):
    return HttpLLMEnricher(
        endpoint=endpoint,
        api_key="test-key",
        prompt_template="classify | {items}",
        output_cols=output_cols,
        model="test-model",
        retry_values=frozenset({UNDEFINED}),
    )


def test_request_envelope_and_response_parse(llm_server):
    e = _enricher(llm_server)
    raw = e.respond(["аналитик", "devops"], attempt=0)
    assert "```json" in raw  # operator, not enricher, owns fence stripping
    req = _FakeLLM.requests[0]
    assert req["auth"] == "Api-Key test-key"
    assert req["body"]["modelUri"] == "test-model"
    assert req["body"]["completionOptions"] == {"temperature": 0.3, "maxTokens": 4000}
    assert req["body"]["messages"][0]["text"] == "classify | аналитик, devops"


def test_retry_mutates_prompt(llm_server):
    e = _enricher(llm_server)
    e.respond(["a"], attempt=1)
    prompt = _FakeLLM.requests[0]["body"]["messages"][0]["text"]
    assert prompt.startswith("ВНИМАНИЕ")  # dag/...py:519 warning injection


def test_http_500_flows_into_retry_residue(llm_server):
    _FakeLLM.fail_first = True
    e = _enricher(llm_server)
    rows = _process_chunk(
        ["x", "y"], e, batch_size=15, max_retries=1,
        defaults={"normalized_title": UNDEFINED}, sleep_s=0,
    )
    # attempt 0 got HTTP 500 (exception path), attempt 1 resolved everything
    assert {r["original"]: r["normalized_title"] for r in rows} == {
        "x": "T:x", "y": "T:y",
    }
    assert len(_FakeLLM.requests) == 2


def test_unreachable_endpoint_stubs_totally():
    e_down = _enricher("http://127.0.0.1:1/v1/completion")  # nothing listens
    rows = _process_chunk(
        ["x"], e_down, batch_size=15, max_retries=1,
        defaults={"normalized_title": UNDEFINED}, sleep_s=0,
    )
    assert rows == [{"original": "x", "normalized_title": UNDEFINED}]


def test_cli_http_pipeline_sends_requests_and_labels(spark, llm_server, tmp_path):
    raw = tmp_path / "raw"
    raw.mkdir()
    pd.DataFrame(
        [
            ["1", "Аналитик данных", "финансы", 100, "2024-01-01"],
            ["2", "Разработчик", "айти", 200, "2024-01-02"],
        ],
        columns=["id", "title", "ai_field_of_activity", "salary_to", "created_at"],
    ).to_csv(raw / "vacancies_20240101_000000.csv", index=False, encoding="utf-8-sig")
    buf = io.StringIO()
    argv = [
        "pipeline",
        "--input", str(raw),
        "--output", str(tmp_path / "out"),
        "--enricher", "http",
        "--api-url", llm_server,
        "--api-key", "test-key",
    ]
    assert main(argv, out=buf) == 0
    assert len(_FakeLLM.requests) > 0
    got = spark.read.option("header", True).csv(buf.getvalue().strip()).collect()
    fallbacks = {UNDEFINED, UNSPECIFIED}
    assert any(r["normalized_title"] not in fallbacks for r in got)
    assert {r["id"]: r["category"] for r in got} == {"1": "C:финансы", "2": "C:айти"}


def test_retry_residue_is_pooled_per_task(spark, llm_server):
    """Each enrichment task pools the residue of all its attempt-0
    requests into full retry requests, which keeps the pipeline inside
    BASELINE.md's request budget (⌈titles/15⌉ + ⌈fields/10⌉) × 2."""
    _FakeLLM.omit_first_item = True
    n_titles, n_fields = 300, 150
    df = spark.createDataFrame(
        [(i, f"title {i}", f"field {i % n_fields}") for i in range(n_titles)],
        "id int, title string, ai_field_of_activity string",
    )
    slots = spark.sparkContext.defaultParallelism
    total = budget = 0
    for key_col, n, batch, cols in (
        ("title", n_titles, 15, ("normalized_title",)),
        ("ai_field_of_activity", n_fields, 10, ("category", "specialization")),
    ):
        _FakeLLM.requests = []
        e = _enricher(llm_server, cols)
        out = enrich_column(df, key_col, e, batch_size=batch, max_retries=1)
        got = out.select(key_col, cols[0]).distinct().collect()
        assert len(got) == n
        assert all(r[cols[0]] != UNDEFINED for r in got)  # retries resolved all
        prompts = [r["body"]["messages"][0]["text"] for r in _FakeLLM.requests]
        retries = sum(p.startswith("ВНИМАНИЕ") for p in prompts)
        tasks = min(math.ceil(n / batch), slots)
        assert retries <= tasks, (key_col, retries, tasks)
        assert len(prompts) - retries <= math.ceil(n / batch) + tasks - 1
        total += len(prompts)
        budget += 2 * math.ceil(n / batch)
    assert total <= budget, (total, budget)
