"""Per-query profiling harness for the optimization rounds.

For each named registry query, measures with a warmed session:
  - build_s:   driver time to construct the DataFrame (py4j/plan assembly
               plus any eager jobs the builder runs, e.g. loop argmaxes)
  - jobs:      Spark job count the run launched, via the job-id counter
               delta (dagScheduler().nextJobId() — a PRIVATE JVM surface;
               if a Spark upgrade breaks it this tool fails loudly, the
               bench itself is unaffected)
  - exec_s:    noop-sink execution wall (includes analysis/optimization/
               codegen)

Usage:
    python tools/profile_query.py [--runs N] name [name ...]
    python tools/profile_query.py --all          # whole registry, 1 run

Prints one JSON line per query to stdout; chatter to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--all", action="store_true")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from bench import warm_session
    from vacancy_gpt_etl_pipeline_spark.queries import queries
    from vacancy_gpt_etl_pipeline_spark.session import get_spark

    registry = queries()
    names = list(registry) if args.all else args.names
    unknown = [n for n in names if n not in registry]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")

    spark = get_spark(app_name="profile")
    sc = spark.sparkContext

    warm_session(spark, sf_dir)

    for name in names:
        fn = registry[name]
        per_run = []
        for _ in range(args.runs):
            # job ids are global+monotonic; nextJobId is the counter
            j0 = sc._jsc.sc().dagScheduler().nextJobId()
            if not isinstance(j0, int):
                j0 = j0.get()
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t1 = time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
            t2 = time.perf_counter()
            j1 = sc._jsc.sc().dagScheduler().nextJobId()
            if not isinstance(j1, int):
                j1 = j1.get()
            per_run.append(
                {
                    "build_s": round(t1 - t0, 3),
                    "exec_s": round(t2 - t1, 3),
                    "jobs": j1 - j0,
                }
            )
            spark.catalog.clearCache()
            df = None
            import gc as _gc

            _gc.collect()
        best = min(per_run, key=lambda d: d["exec_s"])
        print(
            json.dumps({"name": name, "best": best, "runs": per_run}),
            flush=True,
        )


if __name__ == "__main__":
    main()
