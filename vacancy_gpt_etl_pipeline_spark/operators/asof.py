"""As-of (temporal) join — match each left row to the most recent right row
at or before its timestamp, per key.

Scale extension (north star): the canonical event-attribution /
dimension-versioning primitive (purchase → latest prior signup, reading →
prevailing config). Spark has no ASOF JOIN; the naive rewrites are a range
join (quadratic explosion on hot keys) or a per-key collect (driver-bound).

The Spark-first shape used here is the union + last(ignorenulls) window:
tag both sides, union them, and for each left row take the last non-null
right payload in (ts, side) order within the key partition. ONE shuffle of
left+right fixed-width rows, no pair explosion, no Python — the same plan
shape Flink's temporal join and kdb's aj compile to on sorted streams.

Tie semantics: a right row at exactly left.ts MATCHES (backward as-of is
``right.ts <= left.ts``) — the union orders (ts, side) with right rows
first at equal ts. Right-side duplicates per (key, ts) are resolved before
the window (keep the row with the highest ``seq_col``) so results are
deterministic and oracle-comparable — DuckDB's ASOF JOIN leaves the pick
among equal timestamps unspecified.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from vacancy_gpt_etl_pipeline_spark.operators.relational import top_k_per_group


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    ts_col: str,
    payload_cols: list[str],
    seq_col: str | None = None,
    payload_prefix: str = "asof_",
) -> DataFrame:
    """Backward as-of join: every ``left`` row, plus ``payload_cols`` (and
    the timestamp, as ``<prefix><ts_col>``) from the latest ``right`` row
    with ``right.ts_col <= left.ts_col`` and equal ``on`` keys; nulls when
    no such row exists (left-join semantics).
    """
    out_ts = f"{payload_prefix}{ts_col}"
    outs = [f"{payload_prefix}{c}" for c in payload_cols]

    r = right
    if seq_col is not None:
        r = top_k_per_group(r, [*on, ts_col], [F.desc(seq_col)])
    r_tagged = r.select(
        *on,
        F.col(ts_col),
        F.lit(0).alias("_side"),
        F.col(ts_col).alias(out_ts),
        *[F.col(c).alias(o) for c, o in zip(payload_cols, outs)],
        *[F.lit(None).alias(f"_l_{c}") for c in left.columns if c not in on and c != ts_col],
    )
    l_tagged = left.select(
        *on,
        F.col(ts_col),
        F.lit(1).alias("_side"),
        F.lit(None).cast(r.schema[ts_col].dataType).alias(out_ts),
        *[F.lit(None).cast(r.schema[c].dataType).alias(o) for c, o in zip(payload_cols, outs)],
        *[F.col(c).alias(f"_l_{c}") for c in left.columns if c not in on and c != ts_col],
    )
    u = r_tagged.unionByName(l_tagged)
    # right rows sort before left rows at equal ts → "<=" match semantics
    w = (
        Window.partitionBy(*on)
        .orderBy(F.col(ts_col).asc(), F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = u.select(
        *on,
        ts_col,
        "_side",
        *[F.last(c, ignorenulls=True).over(w).alias(c) for c in [out_ts, *outs]],
        *[F.col(f"_l_{c}") for c in left.columns if c not in on and c != ts_col],
    )
    return filled.where(F.col("_side") == 1).select(
        *on,
        ts_col,
        *[F.col(f"_l_{c}").alias(c) for c in left.columns if c not in on and c != ts_col],
        out_ts,
        *outs,
    )


def point_in_time_join(
    facts: DataFrame,
    history: DataFrame,
    key_cols: list[str],
    ts_col: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    how: str = "left",
) -> DataFrame:
    """Point-in-time (AS OF) join of facts against an SCD2 validity
    history: each fact row picks up the dimension state whose half-open
    [valid_from, valid_to) interval contains the fact timestamp — the
    feature-store primitive that prevents TRAINING LEAKAGE (joining
    tomorrow's attribute onto today's example).

    Scale shape: the equi-keys carry the shuffle; the validity window
    rides as a join residual, exactly the q4 EXISTS pattern — no
    time-bucket explosion needed because the key is already selective.
    The SCD2 invariant (non-overlapping runs per key) guarantees at most
    ONE match per fact, so the join never fans out. ``valid_to`` NULL
    means the open current run.
    """
    from functools import reduce

    # rename the history-side keys BEFORE the join: with a plain drop
    # after the fact, Spark's dataset-id disambiguation can pick the
    # wrong copy when facts and history share lineage (both derived
    # from the same source), silently dropping the facts' keys instead.
    # Renaming first means there is never an ambiguous reference at all;
    # the callers' bare key columns are always the facts' values.
    h = history
    for k in key_cols:
        h = h.withColumnRenamed(k, f"_pit_{k}")
    keys = reduce(
        lambda a, b: a & b,
        [facts[k] == h[f"_pit_{k}"] for k in key_cols],
    )
    in_window = (h[valid_from] <= facts[ts_col]) & (
        h[valid_to].isNull() | (facts[ts_col] < h[valid_to])
    )
    return facts.join(h, keys & in_window, how).drop(
        *[f"_pit_{k}" for k in key_cols]
    )
