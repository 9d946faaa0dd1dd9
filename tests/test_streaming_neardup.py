"""Streaming text incremental-dedup gate (streaming/neardup_gate.py):
bit-exact parity with the batch operators (incremental_dedup +
incremental_neardup at max_shingle_freq=None), growing persisted
hash/postings indexes, exactly-once across runs via checkpoint, and
retry idempotence in both crash orders — the text twin of
tests/test_streaming_phash.py."""

from __future__ import annotations

from pyspark.sql import functions as F

from vacancy_gpt_etl_pipeline_spark.operators.dedup import (
    incremental_dedup,
    incremental_neardup,
)
from vacancy_gpt_etl_pipeline_spark.streaming.neardup_gate import (
    BATCH_COL,
    apply_neardup_gate_batch,
    write_stream_neardup_gate,
)

_SCHEMA = "doc_id long, text string"


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )


def _drop(df, src, name: str):
    df.write.mode("overwrite").parquet(str(src / name))


def _stream(spark, src):
    return (
        spark.readStream.schema(_SCHEMA)
        .option("maxFilesPerTrigger", 100000)
        .parquet(str(src) + "/*")
    )


def _ids(df):
    return sorted(r["doc_id"] for r in df.select("doc_id").collect())


def _direct_gate(spark, batch, hist_texts, n=3, threshold=0.5):
    """The batch-operator composition the gate must match: exact
    incremental dedup, then raw-Jaccard incremental near-dup, matched
    docs anti-joined away."""
    fresh = incremental_dedup(batch, hist_texts)
    matched = incremental_neardup(
        fresh,
        hist_texts,
        n=n,
        threshold=threshold,
        max_shingle_freq=None,
    ).select(F.col("batch_id").alias("doc_id"))
    return fresh.join(matched, "doc_id", "left_anti")


def test_streaming_text_gate_parity_and_exactly_once(
    spark, sf_dir, tmp_path
):
    docs = _docs(spark, sf_dir)
    src = tmp_path / "in"
    src.mkdir()
    out = str(tmp_path / "out")
    hidx = str(tmp_path / "hash_index")
    pidx = str(tmp_path / "postings")
    ckpt = str(tmp_path / "ckpt")

    # run 1: history load — docs < 250 arrive as the first drop
    _drop(docs.where("doc_id < 250"), src, "a")
    write_stream_neardup_gate(_stream(spark, src), out, hidx, pidx, ckpt)
    run1 = spark.read.parquet(out)
    empty_hist = spark.createDataFrame([], _SCHEMA)
    direct1 = _direct_gate(spark, docs.where("doc_id < 250"), empty_hist)
    assert _ids(run1) == _ids(direct1)
    # hash index: one row per survivor; postings: one row per
    # (survivor, distinct shingle)
    assert spark.read.parquet(hidx).count() == run1.count()

    # run 2: docs >= 250, planted byte-copies of history (exact gate)
    # and planted appended-suffix near-copies (near gate)
    exact_plants = docs.where("doc_id < 40").select(
        (F.col("doc_id") + 900000).alias("doc_id"), "text"
    )
    near_plants = docs.where(
        "doc_id >= 40 AND doc_id < 80 AND text IS NOT NULL"
    ).select(
        (F.col("doc_id") + 800000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zq")).alias("text"),
    )
    batch2 = (
        docs.where("doc_id >= 250")
        .unionByName(exact_plants)
        .unionByName(near_plants)
    )
    _drop(batch2, src, "b")
    write_stream_neardup_gate(_stream(spark, src), out, hidx, pidx, ckpt)
    run2 = spark.read.parquet(out).where(f"{BATCH_COL} > 0")
    hist_texts = docs.where("doc_id < 250")
    # parity vs run-1's ACTUAL history (run-1 survivors)
    run1_hist = run1.select("doc_id", "text")
    direct2 = _direct_gate(spark, batch2, run1_hist)
    assert _ids(run2) == _ids(direct2)
    # byte-copies of history never survive the exact gate
    assert run2.where("doc_id >= 900000").count() == 0
    # long-doc near-copies are dropped by the near gate; at least the
    # clearly-overlapping plants must not survive in bulk
    n_near_surviving = run2.where(
        "doc_id >= 800000 AND doc_id < 900000"
    ).count()
    assert n_near_surviving < near_plants.count() / 2

    # run 3: no new files → exactly-once appends nothing
    before = spark.read.parquet(out).count()
    write_stream_neardup_gate(_stream(spark, src), out, hidx, pidx, ckpt)
    assert spark.read.parquet(out).count() == before


def test_text_gate_retry_idempotent_both_crash_orders(
    spark, sf_dir, tmp_path
):
    """The two index sinks are not transactional, so the gate must
    converge under a retried micro-batch in either crash order — the
    same contract as the image gate."""
    docs = _docs(spark, sf_dir)
    out = str(tmp_path / "out")
    hidx = str(tmp_path / "hash_index")
    pidx = str(tmp_path / "postings")

    b0 = docs.where("doc_id < 100")
    apply_neardup_gate_batch(b0, 0, out, hidx, pidx)
    base_out = _ids(spark.read.parquet(out))
    base_hidx = spark.read.parquet(hidx).count()

    # (a) commit lost AFTER both writes: replay batch 0 verbatim —
    # output partition overwritten, decisions unchanged
    apply_neardup_gate_batch(b0, 0, out, hidx, pidx)
    assert _ids(spark.read.parquet(out)) == base_out
    assert spark.read.parquet(out).count() == len(base_out)
    assert spark.read.parquet(hidx).count() == 2 * base_hidx

    # (b) index written, output lost: pre-append batch 1's hash rows as
    # if a previous attempt crashed between the sinks — the retry must
    # not be vetoed by its own fingerprints
    b1 = docs.where("doc_id >= 100 AND doc_id < 150")
    from vacancy_gpt_etl_pipeline_spark.functions.text import fingerprint

    (
        b1.select(
            fingerprint("text").alias("content_hash"),
            "doc_id",
            F.lit(1).cast("long").alias(BATCH_COL),
            F.substring(fingerprint("text"), 1, 2).alias("pb"),
        )
        .write.mode("append")
        .partitionBy("pb")
        .parquet(hidx)
    )
    apply_neardup_gate_batch(b1, 1, out, hidx, pidx)
    run1 = spark.read.parquet(out).where(f"{BATCH_COL} = 1")
    direct = _direct_gate(spark, b1, b0)
    assert _ids(run1) == _ids(direct)

    # batch 2 still gates against batch 1's survivors despite the
    # duplicated index rows
    copies = b1.select((F.col("doc_id") + 700000).alias("doc_id"), "text")
    apply_neardup_gate_batch(copies, 2, out, hidx, pidx)
    assert spark.read.parquet(out).where(f"{BATCH_COL} = 2").count() == 0


def test_text_gate_history_retry_duplicates_do_not_inflate_jaccard(
    spark, tmp_path
):
    """A retried EARLIER batch leaves duplicate (s_hash, doc_id) rows in
    the append-mode postings index until compaction. The intersection
    count is row-based, so without the history-side dedupe a later
    batch's Jaccard doubles (here 0.25 → 8/12 = 0.67) and a doc whose
    TRUE similarity is below threshold is falsely dropped — the
    converge-on-retry contract the module docstring promises."""
    out = str(tmp_path / "out")
    hidx = str(tmp_path / "hash_index")
    pidx = str(tmp_path / "postings")

    # history doc: 12 distinct words → 10 distinct 3-gram shingles
    hist_text = " ".join(f"w{i}" for i in range(12))
    # probe doc: shares the first 6 words then diverges → 10 shingles,
    # exactly 4 shared (grams fully inside w0..w5) → true J = 4/16 = 0.25
    probe_text = (
        " ".join(f"w{i}" for i in range(6))
        + " "
        + " ".join(f"x{i}" for i in range(6))
    )
    b0 = spark.createDataFrame([(1, hist_text)], _SCHEMA)
    apply_neardup_gate_batch(b0, 0, out, hidx, pidx)
    apply_neardup_gate_batch(b0, 0, out, hidx, pidx)  # retry: postings 2×
    raw = spark.read.parquet(pidx)
    assert raw.count() == 2 * raw.select("s_hash", "doc_id").distinct().count()

    b1 = spark.createDataFrame([(2, probe_text)], _SCHEMA)
    apply_neardup_gate_batch(b1, 1, out, hidx, pidx)
    survivors = _ids(spark.read.parquet(out).where(f"{BATCH_COL} = 1"))
    assert survivors == [2]
    # and full parity with the batch-operator composition over clean state
    assert survivors == _ids(_direct_gate(spark, b1, b0))


def test_text_gate_index_reads_are_partition_pruned(
    spark, sf_dir, tmp_path
):
    """Both index scans keep only the pb partitions the batch can
    touch (PartitionFilters non-trivial), and the shingle fan-out cap
    suppresses candidate generation from ubiquitous shingles."""
    import re

    from vacancy_gpt_etl_pipeline_spark.streaming.gate import read_history
    from vacancy_gpt_etl_pipeline_spark.streaming.neardup_gate import (
        HASH_INDEX_SCHEMA,
    )

    docs = _docs(spark, sf_dir)
    out = str(tmp_path / "out")
    hidx = str(tmp_path / "hash_index")
    pidx = str(tmp_path / "postings")
    apply_neardup_gate_batch(docs.where("doc_id < 200"), 0, out, hidx, pidx)

    def history(pbs):
        touched = spark.createDataFrame([(pb,) for pb in pbs], "pb string")
        return read_history(spark, hidx, HASH_INDEX_SCHEMA, touched, 1)

    pruned = history(["00", "01", "ff"])
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m is not None and "pb" in m.group(1)
    got = {r["pb"] for r in pruned.select("pb").distinct().collect()}
    assert got <= {"00", "01", "ff"}
    # disjoint prefix list → empty history
    assert history([]).count() == 0

    # fan-out cap: with max_shingle_fanout=0 every candidate is
    # suppressed, so even a byte-copy of history passes the NEAR gate
    # (it is still caught by the exact gate — drop a near-copy instead)
    near = docs.where("doc_id = 10 AND text IS NOT NULL").select(
        (F.col("doc_id") + 500000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zq")).alias("text"),
    )
    if near.count() == 1:
        apply_neardup_gate_batch(
            near, 1, out, hidx, pidx, max_shingle_fanout=0
        )
        assert (
            spark.read.parquet(out).where(f"{BATCH_COL} = 1").count() == 1
        )


def test_compact_neardup_indexes_preserve_gate_decisions(
    spark, sf_dir, tmp_path
):
    """Compacting both text-gate indexes collapses retry duplicates,
    keeps the pb partitioning, and leaves gate decisions unchanged."""
    from vacancy_gpt_etl_pipeline_spark.streaming.neardup_gate import (
        compact_neardup_indexes,
    )

    docs = _docs(spark, sf_dir)
    out = str(tmp_path / "out")
    hidx, pidx = str(tmp_path / "h"), str(tmp_path / "p")
    hc, pc = str(tmp_path / "hc"), str(tmp_path / "pc")
    b0 = docs.where("doc_id < 120")
    apply_neardup_gate_batch(b0, 0, out, hidx, pidx)
    apply_neardup_gate_batch(b0, 0, out, hidx, pidx)  # retry duplicates
    raw_h = spark.read.parquet(hidx)
    raw_p = spark.read.parquet(pidx)
    assert raw_h.count() == 2 * raw_h.select("content_hash").distinct().count()

    compact_neardup_indexes(spark, hidx, pidx, hc, pc)
    assert (
        spark.read.parquet(hc).count()
        == raw_h.select("content_hash").distinct().count()
    )
    assert (
        spark.read.parquet(pc).count()
        == raw_p.select("s_hash", "doc_id").distinct().count()
    )
    import os as _os

    assert any(d.startswith("pb=") for d in _os.listdir(pc))

    # identical decisions: run the same probe batch against original
    # and compacted state
    probe = docs.where("doc_id >= 120 AND doc_id < 160").unionByName(
        docs.where("doc_id < 20").select(
            (F.col("doc_id") + 900000).alias("doc_id"), "text"
        )
    )
    out_a, out_b = str(tmp_path / "oa"), str(tmp_path / "ob")
    # gates append to their index paths — run against copies so the
    # compacted originals stay pristine
    import shutil

    shutil.copytree(hc, hc + "_run")
    shutil.copytree(pc, pc + "_run")
    apply_neardup_gate_batch(probe, 1, out_a, hidx, pidx)
    apply_neardup_gate_batch(probe, 1, out_b, hc + "_run", pc + "_run")
    assert _ids(spark.read.parquet(out_a)) == _ids(
        spark.read.parquet(out_b)
    )


def test_all_digit_hash_prefixes_still_gate_later_batches(spark, tmp_path):
    """A hash index whose ``pb`` directories are all digits ("06") must
    still read its prefixes as strings. Spark would otherwise infer an
    int column, and a later batch with a "7a" prefix would fail its
    pruned read on every retry."""
    from vacancy_gpt_etl_pipeline_spark.functions.text import fingerprint

    cands = spark.createDataFrame(
        [(i, f"vacancy number {i} analyst role in fintech") for i in range(64)],
        _SCHEMA,
    )
    rows = cands.select(
        "text", fingerprint("text").alias("h")
    ).collect()
    digits = next(r.text for r in rows if r.h[:2].isdigit())
    letter = next(r.text for r in rows if not r.h[:2].isdigit())
    out = str(tmp_path / "out")
    hidx, pidx = str(tmp_path / "h"), str(tmp_path / "p")
    apply_neardup_gate_batch(
        spark.createDataFrame([(1, digits)], _SCHEMA), 0, out, hidx, pidx
    )
    b1 = spark.createDataFrame([(2, digits), (3, letter)], _SCHEMA)
    apply_neardup_gate_batch(b1, 1, out, hidx, pidx)
    assert _ids(spark.read.parquet(out).where(f"{BATCH_COL} = 1")) == [3]
