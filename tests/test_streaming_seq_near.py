"""Streaming sequence NEAR gate (streaming/seq_near_gate.py):
bit-exact parity with the batch operator (dedup.seq_near_veto), a
growing band-partitioned index, near-encode plants vetoed across
micro-batches, pruned history reads, short-sequence exact veto through
the index, retry idempotence, and compaction."""

from __future__ import annotations

from pyspark.sql import functions as F

from vacancy_gpt_etl_pipeline_spark.operators.audio_fp import (
    synthesize_tone_payload,
)
from vacancy_gpt_etl_pipeline_spark.operators.dedup import seq_near_veto
from vacancy_gpt_etl_pipeline_spark.streaming.gate import (
    read_history,
    read_index,
)
from vacancy_gpt_etl_pipeline_spark.streaming.seq_near_gate import (
    BATCH_COL,
    INDEX_SCHEMA,
    SEQ_COL,
    apply_seq_near_gate_batch,
    audio_fingerprinter,
    compact_seq_near_index,
    index_rows,
    write_stream_seq_near_gate,
)

_SCHEMA = "asset_id long, content binary"


def _drop_tones(spark, docs, src, name, relabel=0, near=False):
    assets = synthesize_tone_payload(docs, "doc_id", near_tail=near).select(
        (F.col("asset_id") + relabel).alias("asset_id"), "content"
    )
    assets.write.mode("overwrite").parquet(str(src / name))


def _stream(spark, src):
    return (
        spark.readStream.schema(_SCHEMA)
        .option("maxFilesPerTrigger", 1000)
        .parquet(str(src) + "/*")
    )


def _survivors(spark, out):
    return sorted(
        r["asset_id"]
        for r in spark.read.parquet(out).select("asset_id").collect()
    )


def test_streaming_near_gate_parity_and_plants_vetoed(
    spark, sf_dir, tmp_path
):
    """Run 1 loads history (docs < 16); run 2 delivers new clips
    (ids >= 250) PLUS a near-encode twin of every history clip
    (relabeled +700000). Streaming survivors must equal the batch
    operator's verdict on the same split — the audio_fp_near entry's
    semantics, arriving as micro-batches — and every plant is vetoed."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    src = tmp_path / "in"
    src.mkdir()
    out = str(tmp_path / "out")
    index = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")

    hist_docs = docs.where("doc_id < 16")
    _drop_tones(spark, hist_docs, src, "a")
    write_stream_seq_near_gate(
        _stream(spark, src), audio_fingerprinter, out, index, ckpt
    )
    run1 = _survivors(spark, out)
    assert run1  # history loaded through an empty index

    _drop_tones(spark, docs.where("doc_id >= 250"), src, "b")
    _drop_tones(spark, hist_docs, src, "c", relabel=700000, near=True)
    write_stream_seq_near_gate(
        _stream(spark, src), audio_fingerprinter, out, index, ckpt
    )
    got = _survivors(spark, out)
    assert all(a < 700000 for a in got)  # every near-encode vetoed

    # batch parity: same split through the batch operator directly
    hist_fps = audio_fingerprinter(
        synthesize_tone_payload(hist_docs, "doc_id")
    )
    batch_fps = audio_fingerprinter(
        synthesize_tone_payload(docs.where("doc_id >= 250"), "doc_id")
    ).unionByName(
        audio_fingerprinter(
            synthesize_tone_payload(hist_docs, "doc_id", near_tail=True)
        ).withColumn("asset_id", F.col("asset_id") + 700000)
    )
    want = sorted(
        r["asset_id"]
        for r in seq_near_veto(
            batch_fps, hist_fps, SEQ_COL, "asset_id"
        ).collect()
    )
    assert sorted(set(got) - set(run1)) == want

    # exactly-once: re-running over an unchanged source adds nothing
    write_stream_seq_near_gate(
        _stream(spark, src), audio_fingerprinter, out, index, ckpt
    )
    assert _survivors(spark, out) == got


def test_short_sequence_exact_veto_through_index(spark, tmp_path):
    """The subtle index-layout case: sequences with n <= max_diff are
    EXEMPT from the near veto but must still be exact-vetoed — so
    their bands must be indexed and retrievable through the pruned
    read (every sequence has a non-empty band 0)."""
    out = str(tmp_path / "out")
    index = str(tmp_path / "index")

    def fp(df):
        return df

    hist = spark.createDataFrame(
        [(1, "6-1"), (2, "3-4-5-2-7")], f"asset_id long, {SEQ_COL} string"
    )
    apply_seq_near_gate_batch(hist, 0, fp, out, index)
    batch = spark.createDataFrame(
        [
            (10, "6-1"),       # short exact copy -> vetoed via index
            (11, "6-2"),       # short, Hamming 1 but EXEMPT -> survives
            (12, "3-4-5-2-8"), # near history -> vetoed
            (13, "9-9-9-9-9"), # novel -> survives
        ],
        f"asset_id long, {SEQ_COL} string",
    )
    apply_seq_near_gate_batch(batch, 1, fp, out, index)
    got = sorted(
        r["asset_id"]
        for r in spark.read.parquet(out)
        .where(f"{BATCH_COL} = 1")
        .collect()
    )
    assert got == [11, 13]


def test_near_gate_history_read_is_partition_pruned(
    spark, sf_dir, tmp_path
):
    """The gate reads only the (band_idx, pb) partitions its batch's
    own bands hash into: PartitionFilters non-trivial, pruning
    lossless for the batch's working set, disjoint pairs -> empty."""
    import re

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = str(tmp_path / "out")
    index = str(tmp_path / "index")
    apply_seq_near_gate_batch(
        synthesize_tone_payload(docs.where("doc_id < 200"), "doc_id"),
        0,
        audio_fingerprinter,
        out,
        index,
    )
    batch = audio_fingerprinter(
        synthesize_tone_payload(
            docs.where("doc_id >= 200 AND doc_id < 220"), "doc_id"
        )
    )
    touched = index_rows(batch, 0).select("band_idx", "pb")
    pairs = [tuple(r) for r in touched.distinct().collect()]
    pruned = read_history(spark, index, INDEX_SCHEMA, touched, 1).select(
        "asset_id", SEQ_COL
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m is not None and "band_idx" in m.group(1)
    # lossless: every history sequence sharing a (band_idx, pb) with
    # the batch survives the pruned read
    full_rows = spark.read.parquet(index).collect()
    pairs_set = set(pairs)
    expected = {
        (r["asset_id"], r[SEQ_COL])
        for r in full_rows
        if (r["band_idx"], r["pb"]) in pairs_set
    }
    got = {
        (r["asset_id"], r[SEQ_COL])
        for r in pruned.distinct().collect()
    }
    assert got == expected and got
    disjoint = spark.createDataFrame([(0, 9999)], "band_idx int, pb int")
    assert (
        read_history(spark, index, INDEX_SCHEMA, disjoint, 1).count()
        == 0
    )


def test_near_gate_retry_is_idempotent(spark, tmp_path):
    """Replaying a batch id after the index append committed (the
    index-then-crash order) re-derives the identical survivor set —
    the batch's own half-written rows never veto it."""
    out = str(tmp_path / "out")
    index = str(tmp_path / "index")

    def fp(df):
        return df

    hist = spark.createDataFrame(
        [(1, "3-4-5-2-7")], f"asset_id long, {SEQ_COL} string"
    )
    apply_seq_near_gate_batch(hist, 0, fp, out, index)
    batch = spark.createDataFrame(
        [(10, "9-9-9-9-9"), (11, "3-4-5-2-8")],
        f"asset_id long, {SEQ_COL} string",
    )
    apply_seq_near_gate_batch(batch, 1, fp, out, index)
    first = sorted(
        r["asset_id"]
        for r in spark.read.parquet(out).where(f"{BATCH_COL}=1").collect()
    )
    # simulate the retry: same batch id again (index rows now present)
    apply_seq_near_gate_batch(batch, 1, fp, out, index)
    again = sorted(
        r["asset_id"]
        for r in spark.read.parquet(out).where(f"{BATCH_COL}=1").collect()
    )
    assert first == again == [10]


def test_compact_seq_near_index_preserves_decisions(spark, tmp_path):
    out = str(tmp_path / "out")
    index = str(tmp_path / "index")
    dest = str(tmp_path / "compacted")

    def fp(df):
        return df

    hist = spark.createDataFrame(
        [(1, "3-4-5-2-7"), (2, "6-1")], f"asset_id long, {SEQ_COL} string"
    )
    apply_seq_near_gate_batch(hist, 0, fp, out, index)
    # duplicate append (a retried batch) then compact
    apply_seq_near_gate_batch(hist, 0, fp, out, index)
    compact_seq_near_index(spark, index, dest)
    a = sorted(
        (r["asset_id"], r[SEQ_COL])
        for r in read_index(spark, index, INDEX_SCHEMA)
        .select("asset_id", SEQ_COL)
        .distinct()
        .collect()
    )
    b = sorted(
        (r["asset_id"], r[SEQ_COL])
        for r in read_index(spark, dest, INDEX_SCHEMA)
        .select("asset_id", SEQ_COL)
        .distinct()
        .collect()
    )
    assert a == b
    n_raw = spark.read.parquet(index).count()
    n_comp = spark.read.parquet(dest).count()
    assert n_comp < n_raw
