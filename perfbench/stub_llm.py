"""In-process stub of the YandexGPT completion endpoint.

The stub answers the prompts built by the benchmark's ``HttpLLMEnricher``
instances (``PROMPTS`` below) with the label rules from ``gen.py``, after a
fixed service delay, on at most ``HANDLER_THREADS`` handler threads. It injects
faults that are a pure function of the seed, the batch's keys and the
attempt number, so the same seed gives the same answers:

- a key is left out of the attempt-0 answer (it comes back on the retry);
- the answer is wrapped in a ```json fence;
- the answer carries an extra item whose ``original`` is not in the batch;
- attempt 0 fails with HTTP 503.

Keys containing ``gen.POISON`` are answered "Не определена" on every
attempt, so they end at the operator's fallback.
"""

from __future__ import annotations

import hashlib
import json
import re
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from http.server import BaseHTTPRequestHandler, HTTPServer

import gen

# prompt templates for HttpLLMEnricher: ``{items}`` and ``{attempt}`` are
# filled by the enricher; the task tag tells the stub which taxonomy to use
PROMPTS = {
    "title": (
        "[task=title attempt={attempt}] Классифицируй названия вакансий. "
        'Верни JSON-массив {{"original": ..., "normalized_title": ...}} для: {items}'
    ),
    "field": (
        "[task=field attempt={attempt}] Классифицируй сферы деятельности. "
        'Верни JSON-массив {{"original": ..., "category": ..., '
        '"specialization": ...}} для: {items}'
    ),
}
_PROMPT_RE = re.compile(r"\[task=(\w+) attempt=(\d+)\].*?для: (.*)$", re.S)


# fault rates: per key for omissions, per batch for the others
OMIT_KEY = 0.03
FENCE = 0.25
HALLUCINATE = 0.15
SERVER_ERROR = 0.04
HANDLER_THREADS = 4


def _draw(seed: int, kind: str, token: str) -> float:
    """Deterministic uniform draw in [0, 1) for (seed, kind, token)."""
    h = hashlib.md5(f"{seed}|{kind}|{token}".encode()).digest()
    return int.from_bytes(h[:8], "big") / 2.0**64


@dataclass
class StubCounters:
    requests: int = 0
    retry_requests: int = 0
    keys_sent: int = 0
    keys_resolved: int = 0
    hallucinated: int = 0
    busy_s: float = 0.0
    inflight_max: int = 0


class StubLLM:
    """Owns the HTTP server and its handler pool; ``start``/``close``."""

    def __init__(self, seed: int, delay_s: float):
        self.seed = seed
        self.delay_s = delay_s
        self._lock = threading.Lock()
        self._inflight = 0
        self.counters = StubCounters()
        self._server: HTTPServer | None = None
        self._thread: threading.Thread | None = None

    # -- answers ---------------------------------------------------------
    def answer(self, task: str, keys: list[str], attempt: int) -> tuple[int, str, int, list[str]]:
        """(http status, completion text, keys resolved, hallucinated keys)
        for one request."""
        batch = "\x1f".join(keys)
        if attempt == 0 and _draw(self.seed, "5xx", f"{task}|{batch}") < SERVER_ERROR:
            return 503, "", 0, []
        items = []
        for k in keys:
            if attempt == 0 and _draw(self.seed, "omit", f"{task}|{k}") < OMIT_KEY:
                continue
            if task == "title":
                items.append({"original": k, "normalized_title": gen.classify_title(k)})
            else:
                cat, spec = gen.classify_field(k)
                items.append({"original": k, "category": cat, "specialization": spec})
        resolved = sum(1 for it in items if gen.UNDEFINED not in it.values())
        ghosts = []
        if keys and _draw(self.seed, "ghost", f"{task}|{batch}|{attempt}") < HALLUCINATE:
            ghost = keys[0] + " (уточнение)"
            ghosts.append(ghost)
            if task == "title":
                items.append({"original": ghost, "normalized_title": "Разработчик"})
            else:
                items.append({"original": ghost, "category": "IT", "specialization": "Backend"})
        text = json.dumps(items, ensure_ascii=False)
        if _draw(self.seed, "fence", f"{task}|{batch}|{attempt}") < FENCE:
            text = "```json\n" + text + "\n```"
        return 200, text, resolved, ghosts

    def _serve(self, body: bytes) -> tuple[int, bytes]:
        started = time.perf_counter()
        with self._lock:
            self._inflight += 1
            self.counters.inflight_max = max(self.counters.inflight_max, self._inflight)
        try:
            prompt = json.loads(body)["messages"][0]["text"]
            m = _PROMPT_RE.search(prompt)
            if m is None:
                return 400, b'{"error": "unrecognised prompt"}'
            task, attempt, items = m.group(1), int(m.group(2)), m.group(3)
            keys = items.split(", ") if items else []
            time.sleep(self.delay_s)
            status, text, resolved, ghosts = self.answer(task, keys, attempt)
            with self._lock:
                c = self.counters
                c.requests += 1
                c.retry_requests += attempt > 0
                c.keys_sent += len(keys)
                c.keys_resolved += resolved
                c.hallucinated += len(ghosts)
            if status != 200:
                return status, b'{"error": "overloaded"}'
            envelope = {
                "result": {
                    "alternatives": [{
                        "message": {"role": "assistant", "text": text},
                        "status": "ALTERNATIVE_STATUS_FINAL",
                    }],
                    "usage": {"inputTextTokens": str(len(prompt) // 4),
                              "completionTokens": str(len(text) // 4)},
                    "modelVersion": "stub",
                }
            }
            return 200, json.dumps(envelope, ensure_ascii=False).encode("utf-8")
        finally:
            with self._lock:
                self._inflight -= 1
                self.counters.busy_s += time.perf_counter() - started

    # -- lifecycle -------------------------------------------------------
    def start(self) -> str:
        stub = self

        class Handler(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.0"

            def do_POST(self):  # noqa: N802 (http.server API)
                body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
                status, payload = stub._serve(body)
                self.send_response(status)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(payload)))
                self.end_headers()
                self.wfile.write(payload)

            def log_message(self, *args):
                pass

        self._server = _PoolHTTPServer(("127.0.0.1", 0), Handler, HANDLER_THREADS)
        self._thread = threading.Thread(target=self._server.serve_forever,
                                        kwargs={"poll_interval": 0.05}, daemon=True)
        self._thread.start()
        host, port = self._server.server_address
        return f"http://{host}:{port}/foundationModels/v1/completion"

    def take_counters(self) -> StubCounters:
        """Return the counters since the last call and start new ones."""
        with self._lock:
            c, self.counters = self.counters, StubCounters()
        return c

    def close(self) -> None:
        if self._server is not None:
            self._server.shutdown()
            self._server.server_close()
            self._thread.join(timeout=10)
            self._server = None


class _PoolHTTPServer(HTTPServer):
    """HTTP server whose requests run on a fixed pool of handler threads."""

    request_queue_size = 128

    def __init__(self, addr, handler, threads: int):
        super().__init__(addr, handler)
        self._pool = ThreadPoolExecutor(max_workers=threads, thread_name_prefix="stub-llm")

    def process_request(self, request, client_address):
        self._pool.submit(self._handle, request, client_address)

    def _handle(self, request, client_address):
        try:
            self.finish_request(request, client_address)
        except Exception:  # one broken connection must not stop the server
            self.handle_error(request, client_address)
        finally:
            self.shutdown_request(request)

    def server_close(self):
        super().server_close()
        self._pool.shutdown(wait=True)
