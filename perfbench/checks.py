"""Output checks. Each returns a list of failure messages; empty means the
run's output is correct.

Pipeline outputs are compared with a DuckDB recompute over the same picked
CSVs: exact-duplicate removal, keep-first per ``id`` by file name, and the
label rules of ``gen.py`` written as SQL ``CASE`` expressions (the pattern
of ``MockKeywordEnricher.case_sql``). Registry outputs are compared by value
hash with the hashes of their DuckDB oracles.
"""

from __future__ import annotations

import hashlib

import duckdb

import gen

OUT_COLS = ("id", "title", "ai_field_of_activity", "normalized_title", "category", "specialization")


def _lit(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _case(key: str, empty: str, rules) -> str:
    k = f"lower(trim({key}))"
    whens = "".join(f" WHEN position({_lit(kw)} IN {k}) > 0 THEN {_lit(label)}" for kw, label in rules)
    return (
        f"CASE WHEN {key} IS NULL OR trim({key}) = '' THEN {_lit(empty)}"
        f" WHEN position({_lit(gen.POISON)} IN {k}) > 0 THEN {_lit(gen.UNDEFINED)}"
        f"{whens} ELSE {_lit(gen.OTHER)} END"
    )


def expected_sql(picked: list[str]) -> str:
    """Expected pipeline output columns ``OUT_COLS`` over the picked CSVs."""
    files = "[" + ", ".join(_lit(p) for p in picked) + "]"
    title = _case("title", gen.UNDEFINED, gen.TITLE_RULES)
    cat = _case("ai_field_of_activity", gen.UNSPECIFIED, [(kw, c) for kw, c, _ in gen.FIELD_RULES])
    spec = _case("ai_field_of_activity", gen.UNSPECIFIED, [(kw, s) for kw, _, s in gen.FIELD_RULES])
    return f"""
    WITH raw AS (
      SELECT id, title, ai_field_of_activity, salary_to, created_at, filename
      FROM read_csv({files}, header = true, all_varchar = true, filename = true,
                    quote = '"', escape = '"')
    ),
    dd AS (
      SELECT id, title, ai_field_of_activity, salary_to, created_at, min(filename) AS fn
      FROM raw GROUP BY ALL
    ),
    kf AS (
      SELECT * FROM dd QUALIFY row_number() OVER (PARTITION BY id ORDER BY fn) = 1
    )
    SELECT id, title, ai_field_of_activity, {title} AS normalized_title,
           {cat} AS category, {spec} AS specialization
    FROM kf
    """


def _digest(con, sql: str) -> tuple[int, str]:
    """(rows, order-independent digest) of a query over ``OUT_COLS``;
    titles and fields are compared trimmed, with NULL read as ''."""
    norm = ", ".join(
        f"coalesce(trim({c}), '')" if c in ("title", "ai_field_of_activity") else c
        for c in OUT_COLS
    )
    rows = con.execute(f"SELECT {norm} FROM ({sql})").fetchall()
    h = hashlib.md5(repr(sorted(rows)).encode()).hexdigest()
    return len(rows), h


class PipelineChecker:
    """Checks pipeline runs over one set of picked CSVs. The expected output
    and its key counts are computed once, in DuckDB."""

    def __init__(self, picked: list[str], title_taxonomy, field_taxonomy):
        self.con = duckdb.connect()
        exp_sql = expected_sql(picked)
        self.expected = _digest(self.con, exp_sql)
        n_titles, n_fields, fb_t, fb_f = self.con.execute(f"""
            SELECT count(DISTINCT trim(title)) FILTER (WHERE trim(title) <> ''),
                   count(DISTINCT trim(ai_field_of_activity)) FILTER (WHERE trim(ai_field_of_activity) <> ''),
                   count(DISTINCT trim(title)) FILTER (WHERE trim(title) <> '' AND normalized_title = {_lit(gen.UNDEFINED)}),
                   count(DISTINCT trim(ai_field_of_activity)) FILTER (WHERE trim(ai_field_of_activity) <> '' AND category = {_lit(gen.UNDEFINED)})
            FROM ({exp_sql})""").fetchone()
        self.facts = {"distinct_titles": n_titles, "distinct_fields": n_fields,
                      "fallback_titles": fb_t, "fallback_fields": fb_f}
        self.budget = gen.request_budget(n_titles, n_fields)
        self.allowed = {
            "normalized_title": set(title_taxonomy) | {gen.UNDEFINED},
            "category": set(field_taxonomy) | {gen.UNDEFINED, gen.UNSPECIFIED},
        }

    def close(self) -> None:
        self.con.close()

    def check(self, sink_sql: str, deduped_count: int, llm_requests: int | None) -> list[str]:
        """Failures of one run whose sink rows ``sink_sql`` selects."""
        fails: list[str] = []
        con = self.con
        out = f"SELECT {', '.join(OUT_COLS)} FROM ({sink_sql})"
        n_out, n_ids = con.execute(f"SELECT count(*), count(DISTINCT id) FROM ({out})").fetchone()
        if n_out != deduped_count:
            fails.append(f"output rows {n_out} != observer deduped {deduped_count}")
        if n_ids != n_out:
            fails.append(f"{n_out - n_ids} duplicate ids in output")
        for col, allowed in self.allowed.items():
            bad = [v for (v,) in con.execute(f"SELECT DISTINCT {col} FROM ({out})").fetchall()
                   if v not in allowed]
            if bad:
                fails.append(f"{col} outside taxonomy: {bad[:3]}")
        if _digest(con, out) != self.expected:
            fails.append("output differs from the DuckDB recompute of the label rules")
        if llm_requests is not None and llm_requests > self.budget:
            fails.append(f"{llm_requests} LLM requests exceed the budget {self.budget}")
        return fails


def value_hash(cols, rows) -> str:
    """Order-independent value hash with columns sorted by name (the
    comparison ``oracle_self.py`` makes between a registry entry and its
    oracle)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return hashlib.md5(
        repr(sorted(tuple(repr(r[i]) for i in order) for r in rows)).encode()
    ).hexdigest()[:12]


def oracle_hashes(table_dir: str, names, oracle_sql: dict[str, str]) -> dict[str, str]:
    """Value hash of each entry's DuckDB oracle over the tables in ``table_dir``."""
    con = duckdb.connect()
    try:
        for t in gen.REGISTRY_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_dir}/{t}.parquet'")
        out = {}
        for name in names:
            res = con.execute(oracle_sql[name])
            out[name] = value_hash([d[0] for d in res.description], res.fetchall())
        return out
    finally:
        con.close()
