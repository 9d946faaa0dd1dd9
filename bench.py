"""Per-query benchmark harness.

Times every registry query at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints exactly ONE
JSON line:

    {"metric": "registry_wall_total", "value": <sec>, "unit": "sec",
     "queries": {"q1_pricing_summary": <sec>, ...}, "sf": 0.1}

Execution is forced through the noop sink (full plan runs, nothing is
collected to the driver), so the timing reflects the distributed work, not
driver materialization. Each query is timed ``$SPARK_GRAFT_BENCH_RUNS``
times (default 2) and reports the MIN — one-off JVM artifacts (GC pause,
JIT recompile) otherwise inflate a random query per run 2-4×. All
diagnostic chatter goes to stderr; stdout carries only the JSON line the
driver parses.
"""

from __future__ import annotations

import glob
import json
import os
import re
import subprocess
import sys
import time
import traceback

REGRESSION_FACTOR = 1.5
# ignore ratio noise on queries this fast — at sub-200ms, JVM/GC jitter
# alone exceeds 1.5×
REGRESSION_FLOOR_SEC = 0.2
# the driver parses only the LAST 2000 chars of stdout; a longer line is
# cut mid-JSON and parses as null
STDOUT_BUDGET = 2000
# slowest entries kept on stdout however tight the budget gets
SLOWEST_FLOOR = 5


def _baseline_texts(repo_dir: str):
    """``(name, JSON text)`` baseline candidates, newest first:
    BENCH_SELF.json as committed at HEAD, then the driver-recorded
    BENCH_r*.json history. The committed stamp, not the working copy:
    every run rewrites the working copy, so reading it would compare a
    run against the last uncommitted run instead of the baseline.
    Round-stamped archive copies (BENCH_SELF_r*.json) are for the
    judge, not the baseline — they would shadow newer runs."""
    try:
        committed = subprocess.run(
            ["git", "show", "HEAD:./BENCH_SELF.json"],
            cwd=repo_dir,
            capture_output=True,
            text=True,
            check=True,
        ).stdout
    except (OSError, subprocess.CalledProcessError):
        committed = None  # not a git checkout, or no committed stamp
    if committed is not None:
        yield "BENCH_SELF.json@HEAD", committed
    for path in sorted(
        glob.glob(os.path.join(repo_dir, "BENCH_r*.json")),
        key=lambda p: int(re.search(r"BENCH_r(\d+)", p).group(1)),
        reverse=True,
    ):
        try:
            with open(path) as f:
                yield os.path.basename(path), f.read()
        except OSError:
            continue


def _load_previous(repo_dir: str, sf) -> tuple[str, dict[str, float]] | None:
    """The newest baseline (see :func:`_baseline_texts`) with a per-query
    map at the SAME sf.

    Cross-sf ratios are meaningless (an sf0.001 smoke run would flag every
    query against the driver's sf0.1 record), so only a matching scale
    factor counts as a baseline.
    """
    for name, text in _baseline_texts(repo_dir):
        try:
            data = json.loads(text)
            parsed = data.get("parsed") if isinstance(data.get("parsed"), dict) else data
            queries = parsed.get("queries")
            prev_sf = parsed.get("sf", data.get("sf"))
            if isinstance(queries, dict) and queries and prev_sf == sf:
                return name, {k: float(v) for k, v in queries.items()}
        except (ValueError, AttributeError):
            continue
    return None


def _compare(prev_name, prev, timings) -> list[str]:
    """Per-query delta table (stderr) + list of >1.5× regressed names."""
    regressions = []
    print(f"[bench] delta vs {prev_name}:", file=sys.stderr)
    for name, now in timings.items():
        before = prev.get(name)
        if before is None or before <= 0 or now <= 0:
            tag = "new" if before is None else "n/a"
            print(f"[bench]   {name}: {now:.3f}s ({tag})", file=sys.stderr)
            continue
        ratio = now / before
        flag = ""
        if ratio > REGRESSION_FACTOR and now > REGRESSION_FLOOR_SEC:
            flag = "  <-- REGRESSION"
            regressions.append(name)
        print(
            f"[bench]   {name}: {now:.3f}s (was {before:.3f}s, {ratio:.2f}x){flag}",
            file=sys.stderr,
        )
    return regressions


def _stdout_line(head: dict, slowest: dict, changed: dict, failed: dict) -> str:
    """The one stdout JSON line, trimmed to fit ``STDOUT_BUDGET``: drop the
    changed entries (smallest change first), then the slowest entries down
    to ``SLOWEST_FLOOR`` (fastest first), then the failed entries.
    ``head["n_failed"]`` keeps the full failure count either way."""
    slow, moved, fails = (list(d.items()) for d in (slowest, changed, failed))
    while True:
        line = json.dumps(
            {**head, "queries": dict(slow + moved + fails)}, separators=(",", ":")
        )
        if len(line) <= STDOUT_BUDGET:
            return line
        if moved:
            moved.pop()
        elif len(slow) > SLOWEST_FLOOR:
            slow.pop()
        elif fails:
            fails.pop()
        else:
            return line


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from vacancy_gpt_etl_pipeline_spark.operators.caching import CacheScope
    from vacancy_gpt_etl_pipeline_spark.queries import queries
    from vacancy_gpt_etl_pipeline_spark.session import get_spark

    spark = get_spark(app_name="bench")
    warm_session(spark, sf_dir)

    def _jvm_gc_ms() -> int:
        """Cumulative JVM GC wall-time — lets each timing carry the GC
        share it absorbed, so a run-to-run inflated line can be
        ATTRIBUTED to a collection pause instead of hand-waved as
        session noise (the r5-r8 pattern: one different query per run
        inflated 3-8 s on an otherwise idle box)."""
        beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans)

    # min-of-N: one-off JVM artifacts (a GC pause, a JIT recompile, a
    # lazily-initialized codec) inflate a SINGLE run of a single query
    # 2-4× on an otherwise idle box — the r5-r8 pattern, most recently
    # profile_columns at 8.96 s driver vs 2.58 s self with zero code
    # change. The min of two runs is the plan's cost; the max and the
    # per-run GC attribution stay in BENCH_SELF for diagnosis.
    #
    # The N runs are INTERLEAVED across the registry (full pass A over
    # every query, then pass B, min per query) rather than back-to-back
    # per query — r9 lesson: a multi-second machine-contention window
    # hit BOTH adjacent runs of cms_frequency/scd2_history, so even
    # min-of-2 recorded 4.7 s for 0.5 s plans. With passes ~190 s apart
    # a single contention window can only poison one sample of a query.
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2")))
    registry = queries()
    runs: dict[str, list[float]] = {name: [] for name in registry}
    gc_ms: dict[str, list[int]] = {name: [] for name in registry}
    for pass_idx in range(n_runs):
        print(f"[bench] --- pass {pass_idx + 1}/{n_runs} ---", file=sys.stderr)
        for name, fn in registry.items():
            if runs[name] and runs[name][-1] < 0:
                continue  # a failed query stays failed; don't re-run it
            t0 = time.perf_counter()
            g0 = _jvm_gc_ms()
            # the region frees every persist and checkpoint the query
            # made, so each measurement is independent — accumulated
            # storage + GC pressure inflated late-registry queries ~2×
            # (22.7s vs 11.1s standalone for dedup_simhash at sf0.1)
            try:
                with CacheScope(spark):
                    fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
                    runs[name].append(round(time.perf_counter() - t0, 3))
                    gc_ms[name].append(_jvm_gc_ms() - g0)
            except Exception:
                print(f"[bench] {name}: FAILED", file=sys.stderr)
                traceback.print_exc(file=sys.stderr)
                runs[name].append(-1.0)
    timings: dict[str, float] = {}
    total = 0.0
    for name, per_run in runs.items():
        ok = [t for t in per_run if t >= 0]
        if ok and len(ok) == len(per_run):
            timings[name] = min(ok)
            total += timings[name]
            print(
                f"[bench] {name}: {timings[name]:.3f}s "
                f"(runs {per_run}, gc {gc_ms[name]}ms)",
                file=sys.stderr,
            )
        else:
            timings[name] = -1.0

    # regression comparison goes to STDERR ONLY — round 3 lesson: appending
    # baseline_round/regressions to the stdout JSON pushed the line past the
    # driver's 2000-char stdout tail buffer, truncating it mid-line and
    # yielding parsed:null in BENCH_r03.json
    previous = _load_previous(os.path.dirname(os.path.abspath(__file__)), sf)
    if previous is not None:
        prev_name, prev_queries = previous
        _compare(prev_name, prev_queries, timings)

    # the driver parses the LAST ≤2000 chars of stdout. At 140 registry
    # entries the full per-query map cannot fit that tail at ANY precision
    # (r6 lesson: BENCH_r06.json came back parsed:null even at int
    # seconds), so stdout now carries only the total plus the 15 slowest
    # queries (~600 chars) and the FULL float-precision map is written to
    # BENCH_SELF.json in the repo dir, which the end-of-round snapshot
    # commit preserves as the per-round record.
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    full = {
        "metric": "registry_wall_total",
        "value": round(total, 3),
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        "n_failed": sum(1 for v in timings.values() if v < 0),
        "queries": timings,
        # per-run detail (timings = min over runs) + per-run JVM GC
        # wall-time absorbed (ms) — BENCH_SELF only, never on stdout
        # (driver tail-buffer contract)
        "runs": runs,
        "n_runs": n_runs,
        "gc_ms": gc_ms,
    }
    with open(os.path.join(repo_dir, "BENCH_SELF.json"), "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)
        f.write("\n")

    slowest = dict(
        sorted(
            ((k, v) for k, v in timings.items() if v >= 0),
            key=lambda kv: kv[1],
            reverse=True,
        )[:15]
    )
    failed = {k: v for k, v in timings.items() if v < 0}
    # r15 verdict item 9 (reporting breadth, ADDITIONS-ONLY): the
    # slowest-15 window hides mid-pack entries whose time moved — the
    # r15 widen family's claimed wins were builder-evidenced only
    # because none of the 13 entries was slow enough to surface. Also
    # report the entries that changed >25% vs the committed baseline
    # (either direction), capped at 10 by |log ratio| and floored at
    # 0.2 s (sub-200 ms ratios are JVM jitter, same floor as the
    # regression flag); _stdout_line drops them first if the line would
    # overflow the driver's tail buffer. Existing keys are never
    # removed or renamed; the timing methodology is untouched.
    import math

    changed: dict[str, float] = {}
    if previous is not None:
        _, prev_q = previous
        ratios = []
        for k, v in timings.items():
            b = prev_q.get(k)
            if (
                k in slowest
                or v < 0
                or not b
                or b <= 0
                or max(v, b) <= REGRESSION_FLOOR_SEC
            ):
                continue
            r = v / b
            if r > 1.25 or r < 0.8:
                ratios.append((abs(math.log(r)), k, v))
        ratios.sort(reverse=True)
        changed = {k: v for _, k, v in ratios[:10]}
    head = {
        "metric": "registry_wall_total",
        "value": round(total, 3),
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        "n_failed": len(failed),
    }
    print(_stdout_line(head, slowest, changed, failed))


def warm_session(spark, sf_dir: str) -> None:
    """Warm the JVM paths the queries use (parquet reader, shuffle, noop
    sink, codegen incl. window + broadcast-join stages, the documents
    scan) so the FIRST timed query doesn't absorb session cold-start —
    measured: without the window/broadcast warmers the first registry
    entry (a WindowGroupLimit over documents) absorbed 3-5 s of one-time
    JIT that its standalone warm time (0.5 s) doesn't have."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    warm = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    warm.groupBy("l_returnflag").count().write.mode("overwrite").format(
        "noop"
    ).save()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    wspec = Window.partitionBy("source").orderBy("doc_id")
    (
        docs.withColumn("_rn", F.row_number().over(wspec))
        .where(F.col("_rn") <= 3)
        .join(F.broadcast(docs.select("doc_id").limit(100)), "doc_id")
        .write.mode("overwrite")
        .format("noop")
        .save()
    )
    spark.catalog.clearCache()


if __name__ == "__main__":
    main()
