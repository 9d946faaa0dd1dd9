"""Streaming audio/video incremental fingerprint gates
(streaming/fp_gate.py): bit-exact parity with the batch operators,
growing persisted fingerprint indexes, exactly-once across runs via
checkpoint, retry idempotence in both crash orders, and compaction —
the audio/video twins completing the streaming-gate family."""

from __future__ import annotations

from pyspark.sql import functions as F

from vacancy_gpt_etl_pipeline_spark.operators.audio_fp import (
    audio_fp_incremental,
    fingerprint_wav,
    synthesize_tone_payload,
)
from vacancy_gpt_etl_pipeline_spark.operators.phash import (
    phash_y4m,
    video_phash_incremental,
)
from vacancy_gpt_etl_pipeline_spark.streaming.fp_gate import (
    BATCH_COL,
    _index_schema,
    apply_fp_gate_batch,
    compact_fp_index,
    write_stream_audio_fp_gate,
    write_stream_video_fp_gate,
)
from vacancy_gpt_etl_pipeline_spark.streaming.gate import read_history

_SCHEMA = "asset_id long, content binary"


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id"
    )


def _tone_assets(docs, relabel: int = 0):
    return synthesize_tone_payload(docs, "doc_id").select(
        (F.col("asset_id") + relabel).alias("asset_id"), "content"
    )


def _stream(spark, src):
    return (
        spark.readStream.schema(_SCHEMA)
        .option("maxFilesPerTrigger", 1000)
        .parquet(str(src) + "/*")
    )


def _ids(df):
    return sorted(r["asset_id"] for r in df.select("asset_id").collect())


def test_streaming_audio_gate_parity_and_exactly_once(
    spark, sf_dir, tmp_path
):
    docs = _docs(spark, sf_dir)
    src = tmp_path / "in"
    src.mkdir()
    out = str(tmp_path / "out")
    idx = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")

    # run 1: history load — docs < 48 (the tone fingerprint is a
    # function of doc_id % 64, so a 64+-doc history would cover every
    # class and make later batches vacuously empty)
    _tone_assets(docs.where("doc_id < 48")).write.mode(
        "overwrite"
    ).parquet(str(src / "a"))
    write_stream_audio_fp_gate(_stream(spark, src), out, idx, ckpt)
    run1 = spark.read.parquet(out)
    hist_fps = fingerprint_wav(
        synthesize_tone_payload(docs.where("doc_id < 48"), "doc_id")
    )
    direct1 = audio_fp_incremental(
        hist_fps, hist_fps.where(F.lit(False))
    )
    assert _ids(run1) == _ids(direct1)
    # index: one row per survivor
    assert spark.read.parquet(idx).count() == run1.count()

    # run 2: new ids + relabeled byte-copies of history recordings —
    # every copy must be vetoed by the persisted index
    _tone_assets(docs.where("doc_id >= 200 AND doc_id < 400")).write.mode(
        "overwrite"
    ).parquet(str(src / "b"))  # classes 48..63 are fresh → survivors
    _tone_assets(docs.where("doc_id < 30"), relabel=900000).write.mode(
        "overwrite"
    ).parquet(str(src / "c"))
    write_stream_audio_fp_gate(_stream(spark, src), out, idx, ckpt)
    run2 = spark.read.parquet(out).where(f"{BATCH_COL} > 0")
    batch_fps = fingerprint_wav(
        _tone_assets(
            docs.where("doc_id >= 200 AND doc_id < 400")
        ).unionByName(
            _tone_assets(docs.where("doc_id < 30"), relabel=900000)
        )
    )
    direct2 = audio_fp_incremental(
        batch_fps, run1.select("asset_id", "fingerprint")
    )
    ids2 = _ids(run2)
    assert ids2 == _ids(direct2)
    assert ids2, "run 2 must have survivors (fresh fp classes 48..63)"
    assert run2.where("asset_id >= 900000").count() == 0

    # run 3: no new files → exactly-once appends nothing
    before = spark.read.parquet(out).count()
    write_stream_audio_fp_gate(_stream(spark, src), out, idx, ckpt)
    assert spark.read.parquet(out).count() == before


def test_audio_gate_retry_idempotent_both_crash_orders(
    spark, sf_dir, tmp_path
):
    docs = _docs(spark, sf_dir)
    out = str(tmp_path / "out")
    idx = str(tmp_path / "index")

    def gate(batch_df, batch_id):
        apply_fp_gate_batch(
            batch_df,
            batch_id,
            out,
            idx,
            fingerprint_wav,
            audio_fp_incremental,
            "fingerprint",
        )

    b0 = _tone_assets(docs.where("doc_id < 40"))
    gate(b0, 0)
    base = _ids(spark.read.parquet(out))
    base_idx = spark.read.parquet(idx).count()

    # (a) commit lost AFTER both writes: replay batch 0 verbatim
    gate(b0, 0)
    assert _ids(spark.read.parquet(out)) == base
    assert spark.read.parquet(idx).count() == 2 * base_idx

    # (b) index written, output lost: pre-append batch 1's fingerprints
    # as if a previous attempt crashed between the sinks
    # classes (120..159) % 64 = 56..63 and 0..31: a non-empty survivor
    # set AND a non-empty vetoed set
    b1 = _tone_assets(docs.where("doc_id >= 120 AND doc_id < 160"))
    fps1 = fingerprint_wav(b1)
    (
        fps1.select(
            "fingerprint",
            "asset_id",
            F.lit(1).cast("long").alias(BATCH_COL),
            F.pmod(F.xxhash64("fingerprint"), F.lit(256))
            .cast("int")
            .alias("pb"),
        )
        .write.mode("append")
        .partitionBy("pb")
        .parquet(idx)
    )
    gate(b1, 1)
    run1 = spark.read.parquet(out).where(f"{BATCH_COL} = 1")
    hist_fps = fingerprint_wav(_tone_assets(docs.where("doc_id < 40")))
    direct = audio_fp_incremental(fps1, hist_fps)
    ids1 = _ids(run1)
    assert ids1 == _ids(direct)
    assert ids1, "batch 1 must have survivors despite its own pre-append"

    # batch 2 still gates against batch 1's survivors despite the
    # duplicated index rows
    copies = _tone_assets(
        docs.where("doc_id >= 120 AND doc_id < 160"), relabel=700000
    )
    gate(copies, 2)
    assert spark.read.parquet(out).where(f"{BATCH_COL} = 2").count() == 0


def test_audio_index_read_is_partition_pruned(spark, sf_dir, tmp_path):
    import re

    docs = _docs(spark, sf_dir)
    out = str(tmp_path / "out")
    idx = str(tmp_path / "index")
    apply_fp_gate_batch(
        _tone_assets(docs.where("doc_id < 150")),
        0,
        out,
        idx,
        fingerprint_wav,
        audio_fp_incremental,
        "fingerprint",
    )
    touched = spark.createDataFrame([(0,), (1,), (2,)], "pb int")
    pruned = read_history(
        spark, idx, _index_schema("fingerprint"), touched, 1
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m is not None and "pb" in m.group(1)
    got = {r["pb"] for r in pruned.select("pb").distinct().collect()}
    assert got <= {0, 1, 2}


def test_compact_fp_index_preserves_decisions(spark, sf_dir, tmp_path):
    import shutil

    docs = _docs(spark, sf_dir)
    out = str(tmp_path / "out")
    idx = str(tmp_path / "index")
    comp = str(tmp_path / "compact")

    def gate(batch_df, batch_id, o, i):
        apply_fp_gate_batch(
            batch_df,
            batch_id,
            o,
            i,
            fingerprint_wav,
            audio_fp_incremental,
            "fingerprint",
        )

    b0 = _tone_assets(docs.where("doc_id < 40"))
    gate(b0, 0, out, idx)
    gate(b0, 0, out, idx)  # retry duplicates
    raw = spark.read.parquet(idx)
    assert raw.count() == 2 * raw.select("fingerprint").distinct().count()

    compact_fp_index(spark, idx, comp, "fingerprint")
    assert (
        spark.read.parquet(comp).count()
        == raw.select("fingerprint").distinct().count()
    )
    import os

    assert any(d.startswith("pb=") for d in os.listdir(comp))

    # identical decisions against original vs compacted state
    # classes 56..63 survive; classes 0..31 and the relabeled copies
    # are vetoed — both populations non-empty against either state
    probe = _tone_assets(
        docs.where("doc_id >= 120 AND doc_id < 160")
    ).unionByName(_tone_assets(docs.where("doc_id < 20"), relabel=900000))
    shutil.copytree(comp, comp + "_run")
    out_a, out_b = str(tmp_path / "oa"), str(tmp_path / "ob")
    gate(probe, 1, out_a, idx)
    gate(probe, 1, out_b, comp + "_run")
    assert _ids(spark.read.parquet(out_a)) == _ids(
        spark.read.parquet(out_b)
    )


def test_streaming_video_gate_parity(spark, sf_dir, tmp_path):
    from vacancy_gpt_etl_pipeline_spark.operators.multimodal import (
        synthesize_y4m_payload,
    )

    docs = _docs(spark, sf_dir)
    src = tmp_path / "in"
    src.mkdir()
    out = str(tmp_path / "out")
    idx = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")

    def assets(dsub, relabel=0):
        return synthesize_y4m_payload(dsub, "doc_id").select(
            (F.col("asset_id") + relabel).alias("asset_id"), "content"
        )

    assets(docs.where("doc_id < 200")).write.mode("overwrite").parquet(
        str(src / "a")
    )
    write_stream_video_fp_gate(_stream(spark, src), out, idx, ckpt)
    run1 = spark.read.parquet(out)

    # run 2: new clips + relabeled byte-copies of history clips
    assets(docs.where("doc_id >= 200 AND doc_id < 350")).write.mode(
        "overwrite"
    ).parquet(str(src / "b"))
    assets(docs.where("doc_id < 30"), relabel=900000).write.mode(
        "overwrite"
    ).parquet(str(src / "c"))
    write_stream_video_fp_gate(_stream(spark, src), out, idx, ckpt)
    run2 = spark.read.parquet(out).where(f"{BATCH_COL} > 0")
    batch_fps = phash_y4m(
        assets(docs.where("doc_id >= 200 AND doc_id < 350")).unionByName(
            assets(docs.where("doc_id < 30"), relabel=900000)
        )
    )
    direct2 = video_phash_incremental(
        batch_fps, run1.select("asset_id", "video_fp")
    )
    assert _ids(run2) == _ids(direct2)
    assert run2.where("asset_id >= 900000").count() == 0
