"""Streaming incremental pHash gate (streaming/phash_gate.py):
bit-exact parity with the batch operator, a growing persisted
fingerprint index, exactly-once across runs via checkpoint, and
idempotent gating under duplicate index rows."""

from __future__ import annotations

from pyspark.sql import functions as F

from vacancy_gpt_etl_pipeline_spark.operators.multimodal import (
    synthesize_bmp_payload,
)
from vacancy_gpt_etl_pipeline_spark.operators.phash import (
    phash_bmp,
    phash_incremental,
)
from vacancy_gpt_etl_pipeline_spark.streaming.gate import read_index
from vacancy_gpt_etl_pipeline_spark.streaming.phash_gate import (
    BATCH_COL,
    INDEX_SCHEMA,
    write_stream_phash_gate,
)

_SCHEMA = "asset_id long, content binary"
# the fingerprint columns the gate keeps from its history read
_FP_COLS = ("asset_id", "b0", "b1", "b2", "b3")


def _drop_assets(spark, docs, src, name: str, relabel: int = 0):
    assets = synthesize_bmp_payload(docs, "doc_id").select(
        (F.col("asset_id") + relabel).alias("asset_id"), "content"
    )
    assets.write.mode("overwrite").parquet(str(src / name))


def _stream(spark, src):
    # one subdirectory per drop; the glob picks up new drops across runs
    return (
        spark.readStream.schema(_SCHEMA)
        .option("maxFilesPerTrigger", 1000)
        .parquet(str(src) + "/*")
    )


def _survivor_set(df):
    return sorted(
        (r["asset_id"], r["hash_hex"])
        for r in df.select("asset_id", "hash_hex").collect()
    )


def test_streaming_gate_parity_and_exactly_once(spark, sf_dir, tmp_path):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    src = tmp_path / "in"
    src.mkdir()
    out = str(tmp_path / "out")
    index = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")

    # run 1: history load — docs < 250 arrive as the first drop
    _drop_assets(spark, docs.where("doc_id < 250"), src, "a")
    write_stream_phash_gate(_stream(spark, src), out, index, ckpt)
    idx1 = spark.read.parquet(index)
    run1 = spark.read.parquet(out)
    # empty-history gate = keep-first reps of the batch
    direct1 = phash_incremental(
        phash_bmp(synthesize_bmp_payload(docs.where("doc_id < 250"), "doc_id")),
        read_index(spark, str(tmp_path / "nowhere"), INDEX_SCHEMA),
    )
    assert _survivor_set(run1) == _survivor_set(direct1)
    # band-exploded index layout: 4 rows (one per 16-bit band) per
    # surviving fingerprint, partitioned by (band_idx, pb)
    assert idx1.count() == 4 * run1.count()

    # run 2: docs >= 250 plus planted byte-copies of history assets
    _drop_assets(spark, docs.where("doc_id >= 250"), src, "b")
    _drop_assets(spark, docs.where("doc_id < 50"), src, "c", relabel=900000)
    write_stream_phash_gate(_stream(spark, src), out, index, ckpt)
    run2 = spark.read.parquet(out).where(f"{BATCH_COL} > 0")
    # parity: the batch operator over the same batch vs run-1's index
    batch_assets = synthesize_bmp_payload(
        docs.where("doc_id >= 250"), "doc_id"
    ).unionByName(
        synthesize_bmp_payload(docs.where("doc_id < 50"), "doc_id")
        .withColumn("asset_id", F.col("asset_id") + 900000)
    )
    direct2 = phash_incremental(phash_bmp(batch_assets), idx1)
    assert _survivor_set(run2) == _survivor_set(direct2)
    # plants are byte-copies of history → never survive
    assert run2.where("asset_id >= 900000").count() == 0
    # the index grew by exactly run 2's survivors (4 band rows each)
    assert (
        spark.read.parquet(index).count()
        == idx1.count() + 4 * run2.count()
    )

    # run 3: no new files → exactly-once appends nothing
    before = spark.read.parquet(out).count()
    write_stream_phash_gate(_stream(spark, src), out, index, ckpt)
    assert spark.read.parquet(out).count() == before


def test_gate_idempotent_under_duplicate_index_rows(spark, sf_dir):
    """At-least-once index appends (a retried micro-batch) must not
    change any gate decision: duplicating every history row leaves the
    survivor set identical."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    hist = phash_bmp(
        synthesize_bmp_payload(docs.where("doc_id < 250"), "doc_id")
    )
    batch = phash_bmp(
        synthesize_bmp_payload(docs.where("doc_id >= 250"), "doc_id")
    )
    once = _survivor_set(phash_incremental(batch, hist))
    doubled = _survivor_set(phash_incremental(batch, hist.unionAll(hist)))
    assert once == doubled


def test_gate_retry_is_idempotent_both_crash_orders(spark, sf_dir, tmp_path):
    """r12 advice: the two parquet sinks are not transactional, so the
    gate must converge under a retried micro-batch in EITHER crash
    order. (a) Full replay of the same batch id (commit-lost): output
    partition is overwritten, not duplicated, and decisions are
    unchanged. (b) Index-appended-but-output-lost: the retry excludes
    its own batch id from the history read, so its half-written
    fingerprints cannot veto it and the survivors still land."""
    from vacancy_gpt_etl_pipeline_spark.streaming.phash_gate import (
        apply_phash_gate_batch,
        index_rows,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = str(tmp_path / "out")
    index = str(tmp_path / "index")
    hist_batch = synthesize_bmp_payload(docs.where("doc_id < 100"), "doc_id")
    apply_phash_gate_batch(hist_batch, 0, out, index)
    base_out = _survivor_set(spark.read.parquet(out))
    base_idx = spark.read.parquet(index).count()

    # (a) commit lost AFTER both writes: replay batch 0 verbatim
    apply_phash_gate_batch(hist_batch, 0, out, index)
    assert _survivor_set(spark.read.parquet(out)) == base_out
    # output partition overwritten (no duplicate survivor rows)
    assert spark.read.parquet(out).count() == len(base_out)
    # index rows for batch 0 doubled — harmless by the distinct/groupBy
    # collapse, proven by the decisions below
    assert spark.read.parquet(index).count() == 2 * base_idx

    # (b) index written, output lost: pre-append batch 1's fingerprints
    # as if a previous attempt crashed between the two sinks
    batch1 = synthesize_bmp_payload(
        docs.where("doc_id >= 100 AND doc_id < 150"), "doc_id"
    )
    from vacancy_gpt_etl_pipeline_spark.operators.phash import phash_bmp

    index_rows(phash_bmp(batch1), 1).write.mode("append").partitionBy(
        "band_idx", "pb"
    ).parquet(index)
    apply_phash_gate_batch(batch1, 1, out, index)
    run1 = spark.read.parquet(out).where(f"{BATCH_COL} = 1")
    # survivors are NOT suppressed by the orphaned attempt-1 index rows
    direct = phash_incremental(
        phash_bmp(batch1),
        phash_bmp(synthesize_bmp_payload(docs.where("doc_id < 100"), "doc_id")),
    )
    assert _survivor_set(run1) == _survivor_set(direct)

    # batch 2 must gate against batch 1's survivors regardless of the
    # duplicated index rows
    copies = synthesize_bmp_payload(
        docs.where("doc_id >= 100 AND doc_id < 150"), "doc_id"
    ).withColumn("asset_id", F.col("asset_id") + 700000)
    apply_phash_gate_batch(copies, 2, out, index)
    assert spark.read.parquet(out).where(f"{BATCH_COL} = 2").count() == 0


def test_gate_history_read_is_partition_pruned(spark, sf_dir, tmp_path):
    """r12 verdict item 5: the gate reads only the (band_idx, pb)
    partitions its batch can touch. Pinned two ways: the scan's
    PartitionFilters clause is non-trivial, and a pruned read over a
    pair list disjoint from a fingerprint's bands excludes that
    fingerprint while the full read keeps it."""
    from vacancy_gpt_etl_pipeline_spark.operators.phash import phash_bmp
    from vacancy_gpt_etl_pipeline_spark.streaming.gate import read_history
    from vacancy_gpt_etl_pipeline_spark.streaming.phash_gate import (
        apply_phash_gate_batch,
        index_rows,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = str(tmp_path / "out")
    index = str(tmp_path / "index")
    apply_phash_gate_batch(
        synthesize_bmp_payload(docs.where("doc_id < 200"), "doc_id"),
        0,
        out,
        index,
    )
    batch = phash_bmp(
        synthesize_bmp_payload(
            docs.where("doc_id >= 200 AND doc_id < 220"), "doc_id"
        )
    )
    touched = index_rows(batch, 0).select("band_idx", "pb")
    pairs = [tuple(r) for r in touched.distinct().collect()]
    pruned = read_history(spark, index, INDEX_SCHEMA, touched, 1).select(
        *_FP_COLS
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m is not None and "band_idx" in m.group(1)
    # lossless for the gate: every full-read fingerprint sharing a band
    # prefix with the batch is present in the pruned read
    full = read_index(spark, index, INDEX_SCHEMA).select(*_FP_COLS)
    batch_pairs_set = set(pairs)

    def fps(df):
        return {
            (r["asset_id"], r["b0"], r["b1"], r["b2"], r["b3"])
            for r in df.distinct().collect()
        }

    expected = {
        f
        for f in fps(full)
        if any((k, f[1 + k] >> 8) in batch_pairs_set for k in range(4))
    }
    assert fps(pruned) == expected
    # disjoint pair list → empty history
    disjoint = spark.createDataFrame([(0, 9999)], "band_idx int, pb int")
    assert read_history(
        spark, index, INDEX_SCHEMA, disjoint, 1
    ).count() == 0


def test_compact_phash_index_preserves_gate_decisions(
    spark, sf_dir, tmp_path
):
    """Compaction collapses retry-duplicated rows to one per logical
    key, keeps the (band_idx, pb) partitioning, and leaves every gate
    decision unchanged."""
    from vacancy_gpt_etl_pipeline_spark.streaming.gate import read_history
    from vacancy_gpt_etl_pipeline_spark.streaming.phash_gate import (
        apply_phash_gate_batch,
        compact_phash_index,
        index_rows,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = str(tmp_path / "out")
    index = str(tmp_path / "index")
    compacted = str(tmp_path / "index_c")
    b0 = synthesize_bmp_payload(docs.where("doc_id < 150"), "doc_id")
    apply_phash_gate_batch(b0, 0, out, index)
    apply_phash_gate_batch(b0, 0, out, index)  # retry → duplicate rows
    raw = spark.read.parquet(index)
    assert raw.count() == 2 * raw.distinct().count()

    compact_phash_index(spark, index, compacted)
    comp = spark.read.parquet(compacted)
    assert comp.count() == raw.distinct().count()
    # partition layout preserved → pruned reads still work
    import os as _os

    assert any(
        d.startswith("band_idx=") for d in _os.listdir(compacted)
    )
    batch = phash_bmp(
        synthesize_bmp_payload(
            docs.where("doc_id >= 150 AND doc_id < 200"), "doc_id"
        ).unionByName(
            synthesize_bmp_payload(docs.where("doc_id < 30"), "doc_id")
            .withColumn("asset_id", F.col("asset_id") + 900000)
        )
    )
    touched = index_rows(batch, 0).select("band_idx", "pb")

    def history(path):
        return read_history(spark, path, INDEX_SCHEMA, touched, 1).select(
            *_FP_COLS
        )

    before_gate = _survivor_set(phash_incremental(batch, history(index)))
    after_gate = _survivor_set(phash_incremental(batch, history(compacted)))
    assert before_gate == after_gate
