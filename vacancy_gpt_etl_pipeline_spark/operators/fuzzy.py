"""Blocked fuzzy matching — the entity-resolution join.

Naive fuzzy matching is the textbook scale-killer: levenshtein across all
pairs is O(n²) comparisons of an O(L²) dynamic program. The standard fix
(record-linkage practice since Fellegi-Sunter; same shape Dedupe/Splink
use) is BLOCK → VERIFY:

1. **Blocking**: cheap deterministic keys partition the corpus; only
   same-block pairs are candidates. The equi-join on the block key is a
   plain shuffled hash join — no cross product anywhere.
2. **Verification**: exact ``levenshtein`` (JVM built-in) on candidate
   pairs only, filtered to ``max_distance``.

Precision is EXACT (every emitted pair satisfies the distance bound);
recall is the blocking scheme's. Round 6 upgrades blocking to the
standard MULTI-PASS union: each pass blocks on a different key (prefix
pass + suffix pass by default), candidates are unioned before the single
verification/dedup stage. A single ≤``max_distance``-edit cluster at the
START of a string escapes the prefix pass but not the suffix pass and
vice versa, so any pair whose edits all fall within one end is recovered;
the only remaining misses are pairs with simultaneous prefix AND suffix
edits (distance ≥ 2 split across both ends) — asserted against an
unblocked exact join in tests/test_fuzzy.py. ``max_block`` caps each
(pass, key, length) block through ``relational.cap_buckets``, the fan-out
cap of the near-dup family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vacancy_gpt_etl_pipeline_spark.operators.relational import (
    bucket_pairs,
    cap_buckets,
)

BLOCK_PASSES = ("prefix", "suffix")


def _norm(col):
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def fuzzy_self_join(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_distance: int = 2,
    prefix_len: int = 3,
    length_bucket: int = 4,
    max_block: int | None = 1000,
    passes: tuple[str, ...] = BLOCK_PASSES,
) -> DataFrame:
    """Near-match pairs ``(id_a, id_b, distance)`` with
    ``levenshtein(norm_a, norm_b) <= max_distance``.

    Candidates come from one blocking pass per entry in ``passes`` —
    ``"prefix"`` blocks on the first ``prefix_len`` normalized chars,
    ``"suffix"`` on the last ``prefix_len`` — each combined with a
    length÷``length_bucket`` bucket. All passes share ONE join: rows are
    tagged with a pass ordinal and the join key is (pass, block-key,
    length-bucket), so adding a pass adds map-side rows, not a second
    shuffle stage. The distance filter runs map-side in the join stage,
    so the final dedup shuffle carries only true matches.

    Pairs straddling a length-bucket edge are kept recall-safe: each row
    lands in its own bucket AND the next one when its length is within
    ``max_distance`` of the boundary, so a ≤``max_distance`` length
    difference can never separate a pair.
    """
    base = (
        df.select(F.col(id_col).alias("_id"), _norm(F.col(text_col)).alias("_t"))
        .where(F.length("_t") >= prefix_len)
        .select(
            "_id",
            "_t",
            F.floor(F.length("_t") / length_bucket).alias("_lb"),
            (F.length("_t") % length_bucket).alias("_lr"),
        )
    )
    keys = {
        "prefix": F.substring("_t", 1, prefix_len),
        "suffix": F.substring("_t", -prefix_len, prefix_len),
    }
    tagged = None
    for i, p in enumerate(passes):
        pf = base.select(
            "_id",
            "_t",
            F.lit(i).alias("_pass"),
            keys[p].alias("_bk"),
            "_lb",
            "_lr",
        )
        tagged = pf if tagged is None else tagged.unionByName(pf)
    # straddle duplication: a row near the TOP of its bucket also posts to
    # the next bucket, so pairs split by the boundary still co-block
    spill = tagged.where(
        F.col("_lr") >= F.lit(length_bucket - max_distance)
    ).withColumn("_lb", F.col("_lb") + 1)
    block = ["_pass", "_bk", "_lb"]
    blocked = cap_buckets(tagged.unionByName(spill).drop("_lr"), block, max_block)
    pairs = (
        bucket_pairs(blocked, block, "_id", ["_t"])
        .select("id_a", "id_b", F.levenshtein("_t_a", "_t_b").alias("distance"))
        # distance filter BEFORE dropDuplicates: map-side in the join
        # stage, so the dedup shuffle carries only true matches (straddle
        # and multi-pass duplication can emit a pair several times)
        .where(F.col("distance") <= max_distance)
        .dropDuplicates(["id_a", "id_b"])
    )
    return pairs
