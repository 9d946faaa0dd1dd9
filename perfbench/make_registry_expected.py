#!/usr/bin/env python3
"""Regenerate ``registry_expected.json``: the DuckDB oracle value hash of each
``registry_mix`` entry over the benchmark's registry tables.

    python3 perfbench/make_registry_expected.py

Run it after changing ``gen.py``'s registry tables or ``REGISTRY_SPEC``.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import run  # sets sys.path to the checkout root

import checks
import gen


def main() -> int:
    from vacancy_gpt_etl_pipeline_spark.queries import oracle_sql

    work = os.path.join(run.ROOT, ".perfbench_work", "registry-expected")
    try:
        gen.write_registry_tables(work, run.REGISTRY_DATA_SEED, run.REGISTRY_SPEC)
        hashes = checks.oracle_hashes(work, run.ALL_REGISTRY_ENTRIES, oracle_sql())
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(run.REGISTRY_EXPECTED, "w") as fh:
        json.dump({"data_seed": run.REGISTRY_DATA_SEED,
                   "spec": run.REGISTRY_SPEC.__dict__, "hashes": hashes}, fh, indent=1)
        fh.write("\n")
    print(json.dumps(hashes, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
