"""Relational helper operators (SURVEY.md §2.2-2.7).

Thin, intention-revealing wrappers over built-in DataFrame ops — the point
is the CONTRACT (deterministic tie-breaks, scale notes), not reimplementing
what Catalyst already optimizes.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from vacancy_gpt_etl_pipeline_spark.functions.scalars import non_empty


def distinct_values(df: DataFrame, col: str, alias: str = "original") -> DataFrame:
    """A3 (dag/...py:159, :463): distinct trimmed non-empty values — the
    dedup-before-expensive-work contract of the enrichment operator."""
    c = F.trim(F.col(col)).alias(alias)
    return df.select(c).where(non_empty(F.col(col))).distinct()


def frequency(df: DataFrame, col: str | Column, desc: bool = True) -> DataFrame:
    """A4 (dag/...py:406): group-by count, ordered."""
    c = F.col(col) if isinstance(col, str) else col
    out = df.groupBy(c).agg(F.count("*").alias("count"))
    order = [F.desc("count")] + [F.asc(x) for x in out.columns if x != "count"]
    return out.orderBy(*order if desc else [F.asc(x) for x in out.columns])


def top_k_by_count(df: DataFrame, col: str, k: int) -> DataFrame:
    """T2 (dag/...py:409): most_common(k) with deterministic value tie-break.
    Plans as TakeOrderedAndProject — no full sort at scale."""
    return frequency(df, col).limit(k)


def top_k_per_group(
    df: DataFrame,
    by: list,
    order: list,
    k: int = 1,
    rank_col: str | None = None,
) -> DataFrame:
    """The first ``k`` rows of every ``by`` group under ``order``: keyed
    keep-first dedup (k = 1; the reference's keep='first'
    ``drop_duplicates(subset=['id'])``, dag/vacancy_pipline_gpt_rerty.py:125)
    and every per-group or per-query top-k.

    ``order`` must be a total order within a group (end it with a unique
    key): with ties the survivors depend on the partitioning. The
    ``row_number`` + ``<= k`` filter shape is what lets Spark plan
    ``WindowGroupLimit`` — a map-side per-group limit ahead of the
    exchange, so the shuffle carries at most k rows per group per map
    task. With ``rank_col`` the 1-based rank is kept (appended) under
    that name; otherwise it is dropped."""
    rank = rank_col or "_rn"
    w = Window.partitionBy(*by).orderBy(*order)
    out = df.withColumn(rank, F.row_number().over(w)).where(F.col(rank) <= k)
    return out if rank_col else out.drop(rank)


def cap_buckets(df: DataFrame, keys: list, cap: int | None) -> DataFrame:
    """The rows of every ``keys`` bucket that holds at most ``cap`` rows:
    the fan-out cap of the near-dup candidate rule. A bucket with s rows
    makes s²/2 candidate pairs, so a degenerate one (a shingle in every
    doc, one logo re-encoded a million times) is dropped from PAIR
    generation instead of exploding the join; its members can still meet
    through their other buckets. ``cap=None`` returns ``df`` itself.

    A partitioned window count (one shuffle on the keys), not a groupBy
    joined back, and no ``collect_list``: no bucket is ever held in memory
    as one value."""
    if cap is None:
        return df
    w = Window.partitionBy(*keys)
    return (
        df.withColumn("_bc", F.count(F.lit(1)).over(w))
        .where(F.col("_bc") <= cap)
        .drop("_bc")
    )


def bucket_pairs(
    df: DataFrame, keys: list, id_col: str, carry: list | tuple = ()
) -> DataFrame:
    """Every pair of rows that share a ``keys`` bucket, once per bucket,
    as ``(id_a, id_b, <c>_a, <c>_b for c in carry)`` with ``id_a <
    id_b``: the self-join of the near-dup candidate rule. ``carry``
    columns ride along from each side so the caller scores the pair
    without joining back by id. A pair that shares several buckets comes
    out once per bucket; the caller's dedup or groupBy collapses it."""
    on = reduce(
        operator.and_,
        [F.col(f"l.{k}") == F.col(f"r.{k}") for k in keys]
        + [F.col(f"l.{id_col}") < F.col(f"r.{id_col}")],
    )
    sides = (("l", "a"), ("r", "b"))
    return df.alias("l").join(df.alias("r"), on).select(
        F.col(f"l.{id_col}").alias("id_a"),
        F.col(f"r.{id_col}").alias("id_b"),
        *[F.col(f"{s}.{c}").alias(f"{c}_{x}") for c in carry for s, x in sides],
    )


def ratio_of_total(
    count_col: str = "count", out_col: str = "pct", ndigits: int = 1
) -> Column:
    """W1/A7 (vacancy_analysis.sql:27): share of unpartitioned total.

    The empty-frame window collapses to ONE partition — acceptable only
    because it runs over already-aggregated (group-cardinality-sized) data;
    never apply to raw rows at scale.
    """
    total = F.sum(count_col).over(Window.partitionBy())
    return F.round(F.col(count_col) * 100.0 / total, ndigits).alias(out_col)


def conditional_success_counts(
    df: DataFrame, col: str, failure_values: tuple[str, ...]
) -> DataFrame:
    """A6 (dag/...py:414-416): total vs successfully-classified counts."""
    return df.agg(
        F.count("*").alias("total"),
        F.sum(F.when(~F.col(col).isin(*failure_values), 1).otherwise(0)).alias(
            "successes"
        ),
    )


def grouped_stats(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    avg_digits: int = 0,
) -> DataFrame:
    """A5 (vacancy_analysis.sql:11-18): count + rounded average per group.
    Partial aggregation (map-side combine) is automatic for count/avg."""
    return df.groupBy(*group_cols).agg(
        F.count("*").alias("vacancy_count"),
        F.round(F.avg(value_col), avg_digits).alias("avg_value"),
    )


def merge_upsert(
    snapshot: DataFrame,
    updates: DataFrame,
    key_cols: list[str],
    version_col: str,
) -> DataFrame:
    """Latest-wins keyed merge (SCD type-1 upsert): union snapshot and
    updates, keep one row per key — highest ``version_col`` wins, ties
    break to the updates side. The incremental-load primitive the
    reference approximates with pandas keep-first dedup after concat
    (dag/vacancy_pipline_gpt_rerty.py:117-125), generalized to versioned
    upserts.

    Scale shape: ONE shuffle on the merge keys (the window). No join —
    a join-based MERGE shuffles both sides too, but then needs a second
    pass to union the not-matched rows; union+window does it in one.
    """
    tagged = snapshot.withColumn("_src", F.lit(0)).unionByName(
        updates.withColumn("_src", F.lit(1))
    )
    return top_k_per_group(
        tagged, key_cols, [F.desc(version_col), F.desc("_src")]
    ).drop("_src")


def scd2_history(
    df: DataFrame,
    key_cols: list[str],
    state_cols: list[str],
    ts_col: str,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Collapse a change/event log into SCD Type-2 history: one row per
    (key, contiguous state run) with ``valid_from`` / ``valid_to``
    validity bounds, a per-key ``version`` ordinal, and ``is_current``.
    The dimension-history primitive of every warehouse ETL — the
    reference's pipeline truncates-and-reloads its sink each run
    (dag/vacancy_pipline_gpt_rerty.py), losing history; this keeps it.

    Semantics: rows are ordered per key by ``(ts_col, *tiebreak_cols)``
    (pass tiebreaks that make the order total — e.g. an event id — or
    runs that tie on the timestamp are partition-order dependent). A row
    opens a new version iff any ``state_cols`` value differs null-safely
    from the previous row's. ``valid_to`` is the NEXT version's
    ``valid_from`` (half-open intervals, no gaps or overlaps); the last
    version per key has ``valid_to`` null and ``is_current`` true.

    Scale shape: ONE shuffle. Both windows (the lag that finds change
    points and the lead/row_number that closes intervals) partition on
    the same keys, so the second window reuses the first's
    hashpartitioning — the filter between them is narrow. At 100 TB the
    shuffle carries (key, state, ts) only; no join, no self-join against
    the history table.
    """
    ties = list(tiebreak_cols or [])
    order = [F.col(ts_col)] + [F.col(c) for c in ties]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    changed = F.lit(False)
    for c in state_cols:
        changed = changed | ~F.lag(F.col(c)).over(w).eqNullSafe(F.col(c))
    # lag(ts) IS NULL ⇔ first row per key — always a change point
    first_row = F.lag(F.col(ts_col)).over(w).isNull()
    points = df.select(
        *key_cols, *state_cols, *ties,
        F.col(ts_col).alias("valid_from"),
        (first_row | changed).alias("_chg"),
    ).where(F.col("_chg"))
    # the tiebreaks ride along so this order stays TOTAL even when two
    # change points share a timestamp
    w2 = Window.partitionBy(*key_cols).orderBy(
        *([F.col("valid_from")] + [F.col(c) for c in ties])
    )
    return points.select(
        *key_cols,
        *state_cols,
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
        F.row_number().over(w2).alias("version"),
        F.lead("valid_from").over(w2).isNull().alias("is_current"),
    )


def incremental_rollup(
    prev: DataFrame,
    delta: DataFrame,
    group_cols: list[str],
    aggs: dict[str, tuple[Column, Column]],
) -> DataFrame:
    """Incremental aggregate maintenance: merge an EXISTING rollup with
    freshly aggregated delta rows instead of rescanning history — the
    pattern that turns a daily 100 TB full-table rollup into a
    yesterday's-summary + today's-partition job. The reference rescans
    its full sink for every analysis run (SURVEY §2.1 S4); this is the
    at-scale replacement.

    ``aggs`` maps output name → (aggregate over raw delta rows, merge
    over summary rows) — the salted_agg contract, reused: any aggregate
    whose partials merge associatively (count/sum/min/max, sketches)
    qualifies; averages must be carried as (sum, count) pairs and
    divided at read time. ``prev`` must already have the output schema
    (group_cols + agg names) — i.e. be a previous output of this
    function or of the same groupBy.

    Scale shape: the delta aggregates map-side-combine down to its key
    count before the union; the merge groupBy shuffles summary-sized
    frames only (keys × 2 rows worst case), never history rows. Keys
    absent from the delta pass through the merge unchanged.
    """
    stage1 = [expr.alias(name) for name, (expr, _) in aggs.items()]
    merge = [m.alias(name) for name, (_, m) in aggs.items()]
    delta_rollup = delta.groupBy(*group_cols).agg(*stage1)
    cols = group_cols + list(aggs)
    return (
        prev.select(*cols)
        .unionByName(delta_rollup.select(*cols))
        .groupBy(*group_cols)
        .agg(*merge)
    )
