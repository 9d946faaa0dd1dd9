"""The LLM enrichment operator — the reference's signature piece (SURVEY.md §2.10).

Reference parity (dag/vacancy_pipline_gpt_rerty.py):
- title enrichment  :136-436 — distinct titles → batches of 15 → 21-label
  taxonomy prompt → YandexGPT → ``normalized_title``.
- field enrichment  :439-801 — distinct fields → batches of 10 → 18-label
  taxonomy → ``category`` + ``specialization``.
- retry-with-residue loop (:284-302, :617-639), fallback stubs (:271-278),
  anti-hallucination membership filter (:590-603), keep-first per-batch
  dedup (:360-366), safe JSON parse (:251-265).

Spark-first plan (the one semantic rewrite Catalyst can never derive,
because the UDF is a black box to it):

    distinct(trim(key)) ──► one mapInPandas task per slot (full HTTP
    batches, retry-residue pooled across the task) ──► broadcast join back

Why this shape at 100 TB:
- Only DISTINCT keys ever reach the LLM — cost scales with key cardinality,
  not row count (the reference's own trick, :159, kept as an operator
  contract).
- Batches run in PARALLEL across executors (the reference loops batches
  sequentially on one worker — its dominant wall-clock cost).
- Each task owns one slot's share of the distinct keys and runs ONE
  retry-residue loop over all of them: attempt 0 sends full batches, and
  each retry round re-batches the whole task's residue. A task holding k
  keys sends at most ⌈k/batch⌉ requests per attempt (only the last one
  partial), so the column's first attempt costs at most ⌈n/batch⌉ +
  tasks − 1 requests, and a retry round whose residue fits one batch per
  task costs at most one request per task. Retries never re-plan the job.
- The UDF is a pure function of its task's keys (idempotent under Spark
  task retries); keep-first dedup + the final keys⟕mapping outer join make
  the output total and exactly-once per key. Precisely: enricher CALLS are
  at-least-once — a failed Spark task re-calls the LLM for its WHOLE
  partition, since its attempt may already have reached the LLM — but
  Spark discards a failed attempt's output wholesale, so the mapping rows
  are exactly-once per key — proven under injected first-attempt task
  crashes in tests/test_enrichment_retry_idempotence.py (local[4,2]).
- The mapping table is bounded by key cardinality → broadcast join back, no
  shuffle of the big side, while its estimated size fits
  ``spark.sql.autoBroadcastJoinThreshold``; above that the join back is a
  plain shuffle join.
"""

from __future__ import annotations

import json
import math
import time
from abc import ABC, abstractmethod
from collections.abc import Iterator
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vacancy_gpt_etl_pipeline_spark.functions.json_parse import safe_json_parse_text
from vacancy_gpt_etl_pipeline_spark.functions.scalars import non_empty
from vacancy_gpt_etl_pipeline_spark.operators import caching
from vacancy_gpt_etl_pipeline_spark.session import parse_size_bytes

# 21-label title taxonomy (dag/vacancy_pipline_gpt_rerty.py:187-209).
TITLE_TAXONOMY = (
    "Аналитик данных", "BI-аналитик", "Системный аналитик", "Бизнес аналитик",
    "Веб-аналитик", "Финансовый аналитик", "Продуктовый аналитик", "ML/AI-инженер",
    "Разработчик", "DevOps-инженер", "Директор по маркетингу", "Генеральный директор",
    "Коммерческий директор", "Директор по продукту", "Маркетолог", "Главный маркетолог",
    "Руководитель по контенту", "Директор по продажам", "Специалист по трафику",
    "Менеджер продукта", "Другое",
)

# 18-label field taxonomy (dag/vacancy_pipline_gpt_rerty.py:493-511).
FIELD_TAXONOMY = (
    "IT", "Финансы", "Ритейл", "E-commerce", "Производство", "Медицина",
    "Образование", "Маркетинг", "Логистика", "Туризм", "Телеком", "Недвижимость",
    "Энергетика", "Государственный сектор", "Консалтинг", "Развлечения",
    "Сфера услуг", "Другое",
)

UNDEFINED = "Не определена"   # fallback stub (dag/...py:271-278)
UNSPECIFIED = "Не указано"    # empty-input default (dag/...py:751-753)


class Enricher(ABC):
    """Pluggable key→labels enricher. ``respond`` returns the RAW response
    text (possibly fenced/malformed); the operator owns parsing, retries,
    anti-hallucination filtering and fallback totality."""

    #: names of the output columns this enricher produces
    output_cols: tuple[str, ...] = ("normalized_title",)
    #: primary-output values that count as failure → item re-queued for retry
    retry_values: frozenset[str] = frozenset({UNDEFINED})

    @abstractmethod
    def respond(self, keys: list[str], attempt: int) -> str:
        """Return raw response text for a batch of distinct keys."""


@dataclass
class KeywordRule:
    """First-match-wins keyword rule, mirroring the reference's taxonomy
    keyword conditions (dag/vacancy_pipline_gpt_rerty.py:493-511)."""

    keyword: str
    outputs: dict[str, str]


@dataclass
class MockKeywordEnricher(Enricher):
    """Deterministic enricher for tests/oracles: lowercase substring match,
    first matching rule wins, else defaults. Emits clean JSON; malformed-
    response paths are exercised separately in tests."""

    rules: list[KeywordRule] = field(default_factory=list)
    outputs: tuple[str, ...] = ("normalized_title",)
    defaults: dict[str, str] = field(default_factory=lambda: {"normalized_title": UNDEFINED})

    def __post_init__(self):
        self.output_cols = tuple(self.outputs)
        self.retry_values = frozenset()  # deterministic → retrying is pointless

    def classify(self, key: str) -> dict[str, str]:
        low = key.lower()
        for rule in self.rules:
            if rule.keyword in low:
                return {c: rule.outputs.get(c, self.defaults.get(c, UNDEFINED)) for c in self.output_cols}
        return {c: self.defaults.get(c, UNDEFINED) for c in self.output_cols}

    def respond(self, keys: list[str], attempt: int) -> str:
        return json.dumps(
            [{"original": k, **self.classify(k)} for k in keys], ensure_ascii=False
        )

    def case_sql(self, key_expr: str, output_col: str) -> str:
        """ANSI-SQL CASE equivalent of :meth:`classify` for one output column
        — runnable by both Spark SQL and DuckDB (used as correctness oracle)."""
        whens = "".join(
            f" WHEN position('{r.keyword}' IN lower({key_expr})) > 0 THEN '{r.outputs.get(output_col, self.defaults.get(output_col, UNDEFINED))}'"
            for r in self.rules
        )
        default = self.defaults.get(output_col, UNDEFINED)
        return f"CASE{whens} ELSE '{default}' END"


class HttpLLMEnricher(Enricher):
    """Real LLM-API enricher (YandexGPT-shaped request per
    dag/vacancy_pipline_gpt_rerty.py:224-240: temperature 0.3, maxTokens 4000,
    timeout 60 s). Network use is opt-in; tests always use the mock."""

    def __init__(
        self,
        endpoint: str,
        api_key: str,
        prompt_template: str,
        output_cols: tuple[str, ...],
        model: str = "",
        temperature: float = 0.3,
        max_tokens: int = 4000,
        timeout_s: float = 60.0,
        retry_values: frozenset[str] = frozenset({UNDEFINED}),
    ):
        self.endpoint = endpoint
        self.api_key = api_key
        self.prompt_template = prompt_template
        self.output_cols = output_cols
        self.model = model
        self.temperature = temperature
        self.max_tokens = max_tokens
        self.timeout_s = timeout_s
        self.retry_values = retry_values

    def respond(self, keys: list[str], attempt: int) -> str:
        import urllib.request

        prompt = self.prompt_template.format(items=", ".join(keys), attempt=attempt)
        if attempt > 0:
            # prompt mutates on retry (dag/...py:519 injects a warning)
            prompt = "ВНИМАНИЕ: предыдущий ответ был некорректен. " + prompt
        body = json.dumps(
            {
                "modelUri": self.model,
                "completionOptions": {
                    "temperature": self.temperature,
                    "maxTokens": self.max_tokens,
                },
                "messages": [{"role": "user", "text": prompt}],
            }
        ).encode("utf-8")
        req = urllib.request.Request(
            self.endpoint,
            data=body,
            headers={"Content-Type": "application/json", "Authorization": f"Api-Key {self.api_key}"},
        )
        with urllib.request.urlopen(req, timeout=self.timeout_s) as resp:
            payload = json.loads(resp.read().decode("utf-8"))
        return payload["result"]["alternatives"][0]["message"]["text"]


def _process_chunk(
    keys: list[str],
    enricher: Enricher,
    batch_size: int,
    max_retries: int,
    defaults: dict[str, str],
    sleep_s: float,
) -> list[dict]:
    """A task's keys through the retry-residue loop. Each attempt cuts the
    still-pending keys into ``batch_size`` requests, so attempt 0 sends
    full batches and a retry round pools the residue of every request
    before it: ⌈residue/batch_size⌉ retries, not one per failed batch.
    Pure function of its inputs (no external state) → idempotent under
    Spark task retries."""
    out_cols = list(enricher.output_cols)
    resolved: dict[str, dict] = {}
    pending = list(keys)
    for attempt in range(max_retries + 1):
        if not pending:
            break
        if attempt > 0 and sleep_s > 0:
            time.sleep(sleep_s)  # inter-retry pacing (dag/...py:305-306)
        for i in range(0, len(pending), batch_size):
            request = pending[i : i + batch_size]
            try:
                parsed = safe_json_parse_text(enricher.respond(request, attempt))
            except Exception:
                parsed = None  # error path → residue retried, then stubbed (:318)
            if parsed is None:
                continue
            key_set = set(request)
            for item in parsed:
                if not isinstance(item, dict):
                    continue
                orig = str(item.get("original", "")).strip()
                if orig not in key_set:
                    continue  # anti-hallucination filter (dag/...py:590-603)
                if orig in resolved:
                    continue  # keep-first dedup (dag/...py:360-366)
                vals = {c: str(item.get(c)) if item.get(c) is not None else None for c in out_cols}
                primary = vals.get(out_cols[0])
                if primary is None or primary in enricher.retry_values:
                    continue  # failure → stays in residue for next attempt
                resolved[orig] = vals
        pending = [k for k in pending if k not in resolved]  # U2 set difference
    rows = []
    for k in keys:  # totality: every input key gets exactly one output row
        vals = resolved.get(k) or {c: defaults.get(c, UNDEFINED) for c in out_cols}
        rows.append({"original": k, **vals})
    return rows


#: conservative per-cell estimate for the broadcast sizing below — short
#: labels/flags (the enrichment contract's outputs) average well under
#: this
_EST_CELL_BYTES = 64


def _mapping_fits_broadcast(spark: SparkSession, n_keys: int, n_cols: int) -> bool:
    """Whether the key→outputs mapping frame is safely broadcastable:
    ``n_keys × n_cols × ~64 B`` against the session's
    ``autoBroadcastJoinThreshold``. The mapping is a mapInPandas output
    so Catalyst has NO size statistics for it — this estimate is the
    adaptive stand-in, using the n_keys count the operator already paid
    for. Threshold ≤ 0 (broadcast disabled) → shuffle join."""
    try:
        raw = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        threshold = parse_size_bytes(raw)
    except Exception:
        threshold = 10 << 20  # Spark's default 10 MB
    return threshold > 0 and n_keys * n_cols * _EST_CELL_BYTES <= threshold


def enrich_column(
    df: DataFrame,
    key_col: str,
    enricher: Enricher,
    batch_size: int = 15,
    max_retries: int = 1,
    defaults: dict[str, str] | None = None,
    sleep_s: float = 0.0,
    empty_key_default: str | None = None,
    max_partitions: int | None = None,
    keys_from: DataFrame | None = None,
) -> DataFrame:
    """Enrich ``df`` with ``enricher.output_cols`` derived from ``key_col``.

    Plan: distinct(trim(key)) → repartition to min(⌈n/batch_size⌉,
    partition cap) → mapInPandas retry-residue loop per task → left join
    back → coalesce defaults. See module docstring for the 100 TB
    rationale.

    The join-back strategy is picked ADAPTIVELY from the already-counted
    ``n_keys``: broadcast while the estimated mapping size fits
    ``spark.sql.autoBroadcastJoinThreshold``, plain shuffle join above
    it. A static broadcast was the last scale-killer edge here — at
    100 M distinct keys the mapping is GBs and a forced broadcast OOMs
    the driver.

    The partition count is capped at ``max_partitions`` (default
    ``defaultParallelism``): one task per slot, each owning ~n/slots
    distinct keys. The task cuts its keys into ``batch_size`` requests
    and pools every request's residue into the retry rounds, so it sends
    at most ⌈k/batch_size⌉ requests per attempt for its k keys; only the
    last request of an attempt can be partial. A failed Spark task
    re-calls the LLM for its whole partition (calls at-least-once, rows
    exactly-once).

    ``keys_from``: when CHAINING enrichments, the distinct key set of a
    later stage would otherwise be computed over the already-enriched
    frame — executing every earlier stage's join just to read an
    untouched column. Pass the raw upstream frame here (the caller's
    assertion that ``key_col`` is identical in both); the distinct then
    prunes to a bare column scan. The join-back still applies to ``df``.
    """
    defaults = defaults or {c: UNDEFINED for c in enricher.output_cols}
    out_cols = list(enricher.output_cols)
    for c in out_cols:
        if c in df.columns:
            raise ValueError(f"output column {c!r} already exists on input")

    keyed = F.trim(F.col(key_col))
    # persist: the distinct set feeds BOTH the count below and the
    # mapInPandas scan — without it the full-table distinct shuffle runs
    # twice (SURVEY §4.3). Freed by the caller's CacheScope region.
    keys_df = caching.persist(
        (keys_from if keys_from is not None else df)
        .select(keyed.alias("original"))
        .where(non_empty(F.col("original")))
        .distinct()
    )
    n_keys = keys_df.count()  # action on the (small) distinct set only
    schema = T.StructType(
        [T.StructField("original", T.StringType())]
        + [T.StructField(c, T.StringType()) for c in out_cols]
    )
    if n_keys == 0:
        mapping = df.sparkSession.createDataFrame([], schema)
    else:
        n_parts = min(
            math.ceil(n_keys / batch_size),
            max_partitions or df.sparkSession.sparkContext.defaultParallelism,
        )

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            keys = [k for pdf in batches for k in pdf["original"].tolist()]
            if keys:
                yield pd.DataFrame(
                    _process_chunk(keys, enricher, batch_size, max_retries, defaults, sleep_s)
                )

        # round-robin repartition → one task per slot, each owning an even
        # share of the distinct keys and sending full batches. The mapping is
        # PERSISTED: every downstream action over the enriched frame would
        # otherwise re-run the mapInPandas stage — i.e. re-call the LLM —
        # once per action. Caching makes enrichment cost once-per-key, not
        # once-per-key-per-action (tested in test_enrichment_failures).
        mapping = caching.persist(
            keys_df.repartition(n_parts).mapInPandas(run, schema=schema)
        )

    fits = _mapping_fits_broadcast(df.sparkSession, n_keys, 1 + len(out_cols))
    joined = df.join(
        F.broadcast(mapping) if fits else mapping,
        keyed == mapping["original"],
        "left",
    ).drop("original")
    for c in out_cols:
        default = defaults.get(c, UNDEFINED)
        col = F.coalesce(F.col(c), F.lit(default))
        if empty_key_default is not None:
            # empty/whitespace key → 'Не указано' (dag/...py:751-753)
            col = F.when(~non_empty(F.col(key_col)), F.lit(empty_key_default)).otherwise(col)
        joined = joined.withColumn(c, col)
    return joined
