"""Local oracle attestation: run EVERY registry entry against its DuckDB
oracle at sf0.01 (the correctness-gate scale) or any other scale
factor and write the per-entry verdicts to ``ORACLE_SELF_<scale>.json``
(``<scale>`` is the basename of ``sf_dir``, so each scale factor keeps its
own attestation) — inspectable evidence that the full registry surface
was locally verified, not just the ~50 entries inside the correctness
window (VERDICT r6 item 8).

The comparison mirrors the driver gate: row count, column-name set, and
a value hash over rows with columns sorted BY NAME (so aliasing must
match, exactly like CORRECTNESS_r*.json).

Usage:  python oracle_self.py [sf_dir]     # default /root/testdata/sf0.01
Exit status is non-zero if any entry fails, so it doubles as a gate.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import traceback

import duckdb

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _vhash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    payload = repr(sorted(tuple(repr(r[i]) for i in order) for r in rows))
    return hashlib.md5(payload.encode()).hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from vacancy_gpt_etl_pipeline_spark.operators.caching import CacheScope
    from vacancy_gpt_etl_pipeline_spark.queries import REGISTRY
    from vacancy_gpt_etl_pipeline_spark.session import get_spark

    spark = get_spark(app_name="oracle-self")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    results: dict[str, dict] = {}
    n_fail = 0
    for name, spec in REGISTRY.items():
        entry: dict = {
            "rows_match": None,
            "schema_match": None,
            "hash_match": None,
            "spark_rows": None,
            "oracle_rows": None,
            "err": None,
        }
        try:
            with CacheScope(spark):
                sdf = spec.spark(spark, sf_dir)
                srows = [tuple(r) for r in sdf.collect()]
            entry["spark_rows"] = len(srows)
            res = con.execute(spec.oracle)
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
            entry["oracle_rows"] = len(drows)
            entry["rows_match"] = len(srows) == len(drows)
            entry["schema_match"] = sorted(sdf.columns) == sorted(dcols)
            entry["hash_match"] = _vhash(sdf.columns, srows) == _vhash(
                dcols, drows
            )
            ok = (
                entry["rows_match"]
                and entry["schema_match"]
                and entry["hash_match"]
            )
        except Exception as exc:  # noqa: BLE001 — attestation must record, not die
            entry["err"] = f"{type(exc).__name__}: {exc}"[:300]
            traceback.print_exc(file=sys.stderr)
            ok = False
        if not ok:
            n_fail += 1
        results[name] = entry
        status = "ok" if ok else "FAIL"
        print(f"[oracle-self] {name}: {status}", file=sys.stderr)

    scale = os.path.basename(os.path.normpath(sf_dir))
    out_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), f"ORACLE_SELF_{scale}.json"
    )
    with open(out_path, "w") as f:
        json.dump(
            {
                "sf_dir": sf_dir,
                "n_entries": len(results),
                "n_fail": n_fail,
                "entries": results,
            },
            f,
            indent=1,
            sort_keys=True,
        )
        f.write("\n")
    print(json.dumps({"entries": len(results), "failures": n_fail}))
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
