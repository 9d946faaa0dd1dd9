"""Seeded input generators.

Every generator is a pure function of its arguments: the same seed writes
byte-identical CSVs and identical parquet contents. The engine only ever
sees the files written here.

Vacancy CSVs follow FIXTURES.md A1: timestamp-named files (the pipeline
picks the newest ``latest_k``), exact duplicate rows, same-``id`` rows with
a different payload (always in a later file, so the keep-first survivor is
well defined), empty and whitespace titles, titles over 50 characters and
empty fields. No title or field contains a comma: ``HttpLLMEnricher`` joins
the keys of a batch with ", " in its prompt, and the stub splits on it.

Labels come from keyword rules shared by the stub LLM and the DuckDB
recompute in ``checks.py``: the first rule whose keyword is
a substring of the lower-cased key wins, keys containing ``POISON`` are
never classified (they end at the operator's fallback), anything else is
"Другое".
"""

from __future__ import annotations

import csv
import datetime as dt
import math
import os
import random
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

UNDEFINED = "Не определена"
UNSPECIFIED = "Не указано"
OTHER = "Другое"
POISON = "xq"

# (keyword, normalized_title); no keyword is a substring of another
TITLE_RULES = (
    ("аналитик данных", "Аналитик данных"),
    ("bi-аналитик", "BI-аналитик"),
    ("системный аналитик", "Системный аналитик"),
    ("бизнес-аналитик", "Бизнес аналитик"),
    ("веб-аналитик", "Веб-аналитик"),
    ("финансовый аналитик", "Финансовый аналитик"),
    ("продуктовый аналитик", "Продуктовый аналитик"),
    ("ml-инженер", "ML/AI-инженер"),
    ("разработчик", "Разработчик"),
    ("devops", "DevOps-инженер"),
    ("директор по маркетингу", "Директор по маркетингу"),
    ("генеральный директор", "Генеральный директор"),
    ("коммерческий директор", "Коммерческий директор"),
    ("директор по продукту", "Директор по продукту"),
    ("маркетолог", "Маркетолог"),
    ("руководитель контента", "Руководитель по контенту"),
    ("директор по продажам", "Директор по продажам"),
    ("трафик-менеджер", "Специалист по трафику"),
    ("менеджер продукта", "Менеджер продукта"),
)
TITLE_UNMATCHED = ("Курьер", "Повар", "Водитель", "Оператор склада")

# (keyword, category, specialization)
FIELD_RULES = (
    ("банк", "Финансы", "Банкинг"),
    ("страхов", "Финансы", "Страхование"),
    ("розниц", "Ритейл", "Офлайн"),
    ("маркетплейс", "E-commerce", "Маркетплейс"),
    ("завод", "Производство", "Промышленность"),
    ("клиник", "Медицина", "Клиники"),
    ("школ", "Образование", "EdTech"),
    ("реклам", "Маркетинг", "Digital"),
    ("логист", "Логистика", "Склад"),
    ("туроператор", "Туризм", "Путешествия"),
    ("связь", "Телеком", "B2B"),
    ("девелопер", "Недвижимость", "Коммерческая"),
    ("энерго", "Энергетика", "Генерация"),
    ("госуслуг", "Государственный сектор", "Госуслуги"),
    ("консалтинг", "Консалтинг", "Стратегия"),
    ("медиа", "Развлечения", "Медиа"),
    ("софт", "IT", "Backend"),
)
FIELD_UNMATCHED = ("Фермерское хозяйство", "Частная практика", "Некоммерческий фонд")

GRADES = ("Junior", "Middle", "Senior", "Lead", "Стажёр", "Ведущий", "Главный")
CITIES = ("Москва", "Казань", "Пермь", "Томск", "Сочи", "удалённо", "гибрид")
LONG_TAIL = " в крупную международную компанию с гибким графиком и ДМС"
FIELD_TAILS = ("холдинг", "группа компаний", "стартап", "агентство", "сеть")


def classify_title(key: str) -> str:
    low = key.lower()
    if POISON in low:
        return UNDEFINED
    for kw, label in TITLE_RULES:
        if kw in low:
            return label
    return OTHER


def classify_field(key: str) -> tuple[str, str]:
    low = key.lower()
    if POISON in low:
        return UNDEFINED, UNDEFINED
    for kw, cat, spec in FIELD_RULES:
        if kw in low:
            return cat, spec
    return OTHER, OTHER


@dataclass(frozen=True)
class VacancySpec:
    """Shape of one vacancy CSV set; ``rows_per_file`` × ``n_files`` rows,
    titles and fields drawn from pools of the given sizes."""

    rows_per_file: int
    title_pool: int
    field_pool: int
    n_files: int = 8
    poison_share: float = 0.01
    unmatched_share: float = 0.05
    exact_dup_share: float = 0.04
    id_dup_share: float = 0.03
    empty_title_share: float = 0.02
    blank_title_share: float = 0.01
    long_title_share: float = 0.10
    empty_field_share: float = 0.03


def _title_pool(rng: random.Random, n: int, spec: VacancySpec) -> list[str]:
    out = []
    for i in range(n):
        u = rng.random()
        if u < spec.poison_share:
            role = f"Специалист {POISON}-{rng.randrange(1000)}"
        elif u < spec.poison_share + spec.unmatched_share:
            role = rng.choice(TITLE_UNMATCHED)
        else:
            role = rng.choice(TITLE_RULES)[0].capitalize()
        title = f"{rng.choice(GRADES)} {role} ({rng.choice(CITIES)}) №{i}"
        if rng.random() < spec.long_title_share:
            title += LONG_TAIL
        out.append(title)
    return out


def _field_pool(rng: random.Random, n: int, spec: VacancySpec) -> list[str]:
    out = []
    for i in range(n):
        u = rng.random()
        if u < spec.poison_share:
            core = f"Сектор {POISON}-{rng.randrange(1000)}"
        elif u < spec.poison_share + spec.unmatched_share:
            core = rng.choice(FIELD_UNMATCHED)
        else:
            kw = rng.choice(FIELD_RULES)[0]
            core = f"{kw.capitalize()}овая отрасль"
        out.append(f"{core} {rng.choice(FIELD_TAILS)} №{i}")
    return out


def vacancy_file_names(n_files: int) -> list[str]:
    day = dt.date(2024, 3, 1)
    return [
        f"vacancies_{(day + dt.timedelta(days=i)):%Y%m%d}_060000.csv"
        for i in range(n_files)
    ]


def write_vacancy_csvs(out_dir: str, seed: int, spec: VacancySpec) -> list[str]:
    """Write ``spec.n_files`` CSVs into ``out_dir``; return their paths in
    name order."""
    rng = random.Random(seed)
    titles = _title_pool(rng, spec.title_pool, spec)
    fields = _field_pool(rng, spec.field_pool, spec)
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    earlier: list[list[str]] = []  # rows of earlier files, for same-id copies
    next_id = 0
    for f_idx, name in enumerate(vacancy_file_names(spec.n_files)):
        rows: list[list[str]] = []
        copied: set[str] = set()  # one same-id copy per id and file
        while len(rows) < spec.rows_per_file:
            u = rng.random()
            if rows and u < spec.exact_dup_share:
                rows.append(list(rng.choice(rows)))
                continue
            if earlier and u < spec.exact_dup_share + spec.id_dup_share:
                # same id as a row of an EARLIER file, different payload
                src = rng.choice(earlier)
                if src[0] in copied:
                    continue
                copied.add(src[0])
                rows.append([src[0], rng.choice(titles), rng.choice(fields),
                             src[3], src[4]])
                continue
            v = rng.random()
            if v < spec.empty_title_share:
                title = ""
            elif v < spec.empty_title_share + spec.blank_title_share:
                title = "   "
            else:
                title = titles[rng.randrange(len(titles))]
            field = "" if rng.random() < spec.empty_field_share else (
                fields[rng.randrange(len(fields))]
            )
            salary = "" if rng.random() < 0.1 else f"{rng.randrange(30_000, 400_000)}.00"
            created = dt.date(2024, 1, 1) + dt.timedelta(days=rng.randrange(60 + f_idx))
            rows.append([f"v{next_id:07d}", title, field, salary, created.isoformat()])
            next_id += 1
        path = os.path.join(out_dir, name)
        with open(path, "w", encoding="utf-8", newline="") as fh:
            w = csv.writer(fh, lineterminator="\n")
            w.writerow(["id", "title", "ai_field_of_activity", "salary_to", "created_at"])
            w.writerows(rows)
        earlier.extend(rows)
        paths.append(path)
    return paths


# ---------------------------------------------------------------------------
# Registry tables: the TPC-H-ish ``lineitem``, ``embeddings`` and
# ``documents``, with the column types of the repository's test fixtures.
# ---------------------------------------------------------------------------

EMB_DIM = 64


@dataclass(frozen=True)
class RegistrySpec:
    lineitem_rows: int
    embeddings: int
    n_orders: int
    n_parts: int
    n_supp: int
    documents: int


def _embeddings(rng: np.random.Generator, spec: RegistrySpec) -> pa.Table:
    centers = rng.standard_normal((10, EMB_DIM))
    labels = rng.integers(0, 10, spec.embeddings)
    vecs = centers[labels] * 0.5 + rng.standard_normal((spec.embeddings, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(spec.embeddings, dtype=np.int64)),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })


def _lineitem(rng: np.random.Generator, spec: RegistrySpec) -> pa.Table:
    n = spec.lineitem_rows
    flags = np.array(["A", "N", "R"])[rng.integers(0, 3, n)]
    status = np.array(["F", "O"])[rng.integers(0, 2, n)]
    start = np.datetime64("1995-01-02", "us")
    days = rng.integers(0, 2498, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, spec.n_orders, n, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, spec.n_parts, n, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, spec.n_supp, n, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(flags.tolist()),
        "l_linestatus": pa.array(status.tolist()),
        "l_shipdate": pa.array(start + days, pa.timestamp("us")),
    })


DOC_WORDS = (
    "the fast key order sort table scan merge part window small hash join batch "
    "stream spark dup group query row data slow filter customer line value agg "
    "column big a vector"
).split()
DOC_LANGS = ("en", "de", "es", "zh")


def _documents(rng: np.random.Generator, spec: RegistrySpec) -> pa.Table:
    """Short word-salad texts; one in ten is a one-word edit of an earlier
    document, so the near-duplicate entries find pairs."""
    docs: list[str] = []
    for _ in range(spec.documents):
        if docs and rng.random() < 0.1:
            words = docs[rng.integers(len(docs))].split()
            words[rng.integers(len(words))] = DOC_WORDS[rng.integers(len(DOC_WORDS))]
        else:
            words = [DOC_WORDS[i] for i in rng.integers(0, len(DOC_WORDS), rng.integers(5, 80))]
        docs.append(" ".join(words))
    n = spec.documents
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(docs),
        "lang": pa.array([DOC_LANGS[i] for i in rng.integers(0, len(DOC_LANGS), n)]),
        "source": pa.array([f"src{i % 7}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(d) for d in docs], dtype=np.int64)),
    })


REGISTRY_TABLES = ("documents", "embeddings", "lineitem")


def write_registry_tables(out_dir: str, seed: int, spec: RegistrySpec) -> dict[str, int]:
    """Write the ``REGISTRY_TABLES`` parquet files; return their row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    tables = {"embeddings": _embeddings(rng, spec), "lineitem": _lineitem(rng, spec),
              "documents": _documents(rng, spec)}
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def request_budget(n_titles: int, n_fields: int) -> int:
    """BASELINE.md's LLM budget: one request per 15 titles and per 10 fields,
    at most two attempts each."""
    return (math.ceil(n_titles / 15) + math.ceil(n_fields / 10)) * 2
