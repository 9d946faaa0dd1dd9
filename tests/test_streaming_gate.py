"""The streaming dedup gates' shared protocol (streaming/gate.py): an
index directory a crashed first append left without data files reads
as empty history, every gate micro-batch (plus the incremental BPE
trainer) frees the RDD blocks it created, and compaction never writes
over an existing directory."""

from __future__ import annotations

import os

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from vacancy_gpt_etl_pipeline_spark.operators.audio_fp import (
    audio_fp_incremental,
    fingerprint_wav,
    synthesize_tone_payload,
)
from vacancy_gpt_etl_pipeline_spark.operators.multimodal import (
    synthesize_bmp_payload,
)
from vacancy_gpt_etl_pipeline_spark.operators.tokenize import (
    bpe_learn_merges_incremental,
)
from vacancy_gpt_etl_pipeline_spark.streaming.fp_gate import (
    apply_fp_gate_batch,
    compact_fp_index,
)
from vacancy_gpt_etl_pipeline_spark.streaming.neardup_gate import (
    apply_neardup_gate_batch,
    compact_neardup_indexes,
)
from vacancy_gpt_etl_pipeline_spark.streaming.phash_gate import (
    apply_phash_gate_batch,
    compact_phash_index,
)
from vacancy_gpt_etl_pipeline_spark.streaming.semdedup_gate import (
    apply_semdedup_gate_batch,
)
from vacancy_gpt_etl_pipeline_spark.streaming.seq_near_gate import (
    apply_seq_near_gate_batch,
    audio_fingerprinter,
    compact_seq_near_index,
)


def _tones(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return synthesize_tone_payload(docs.where("doc_id < 48"), "doc_id").select(
        "asset_id", "content"
    )


def _bmps(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return synthesize_bmp_payload(docs.where("doc_id < 100"), "doc_id").select(
        "asset_id", "content"
    )


def _texts(spark, sf_dir):
    return (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where("doc_id < 100")
        .select("doc_id", "text")
    )


def _vecs(spark, sf_dir):
    return (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .where("vec_id < 200")
        .select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias(
                "embedding"
            ),
        )
    )


# (batch builder, survivor id column, index directory names, the gate's
# one micro-batch as fn(batch, out, *index_paths))
GATES = {
    "audio_fp": (
        _tones,
        "asset_id",
        ("index",),
        lambda b, out, idx: apply_fp_gate_batch(
            b, 0, out, idx, fingerprint_wav, audio_fp_incremental, "fingerprint"
        ),
    ),
    "phash": (
        _bmps,
        "asset_id",
        ("index",),
        lambda b, out, idx: apply_phash_gate_batch(b, 0, out, idx),
    ),
    "seq_near": (
        _tones,
        "asset_id",
        ("index",),
        lambda b, out, idx: apply_seq_near_gate_batch(
            b, 0, audio_fingerprinter, out, idx
        ),
    ),
    "neardup": (
        _texts,
        "doc_id",
        ("hash_index", "postings"),
        lambda b, out, hidx, pidx: apply_neardup_gate_batch(
            b, 0, out, hidx, pidx
        ),
    ),
    "semdedup": (
        _vecs,
        "vec_id",
        ("index", "centroids"),
        lambda b, out, idx, cents: apply_semdedup_gate_batch(
            b, 0, out, idx, cents, dim=64
        ),
    ),
}


def _survivor_ids(spark, out, id_col):
    return sorted(
        r[id_col] for r in spark.read.parquet(out).select(id_col).collect()
    )


@pytest.mark.parametrize("gate", sorted(GATES))
def test_empty_index_directory_reads_as_no_history(
    spark, sf_dir, tmp_path, gate
):
    """A failed first index append leaves an index directory with no
    data files. Reading it must give the survivors of a run with no
    index at all — not UNABLE_TO_INFER_SCHEMA on every retry, which
    would stall the stream on that batch forever."""
    make_batch, id_col, index_names, run = GATES[gate]
    batch = make_batch(spark, sf_dir)

    fresh = tmp_path / "fresh"
    run(batch, str(fresh / "out"), *(str(fresh / n) for n in index_names))

    crashed = tmp_path / "crashed"
    for n in index_names:
        os.makedirs(crashed / n)
    run(batch, str(crashed / "out"), *(str(crashed / n) for n in index_names))

    got = _survivor_ids(spark, str(crashed / "out"), id_col)
    assert got == _survivor_ids(spark, str(fresh / "out"), id_col)
    assert got


def _persistent_rdd_ids(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


@pytest.mark.parametrize("gate", sorted(GATES))
def test_gate_batch_frees_its_blocks(spark, sf_dir, tmp_path, gate):
    """Each micro-batch localCheckpoints its intermediates; all of
    those blocks are released before the batch returns, so a long
    drain does not pin one RDD per micro-batch."""
    make_batch, _, index_names, run = GATES[gate]
    batch = make_batch(spark, sf_dir)
    before = _persistent_rdd_ids(spark)
    run(batch, str(tmp_path / "out"), *(str(tmp_path / n) for n in index_names))
    assert _persistent_rdd_ids(spark) == before


# each compactor as fn(spark, index_path, dest_path)
COMPACTORS = {
    "fp": lambda spark, src, dest: compact_fp_index(
        spark, src, dest, "fingerprint"
    ),
    "phash": compact_phash_index,
    "seq_near": compact_seq_near_index,
    "neardup": lambda spark, src, dest: compact_neardup_indexes(
        spark, src, src, dest, dest
    ),
}


@pytest.mark.parametrize("compactor", sorted(COMPACTORS))
def test_compaction_refuses_existing_destination(spark, tmp_path, compactor):
    """Compaction writes a NEW directory, so readers of an earlier one
    stay consistent: an existing destination is an error and is left
    as it was."""
    dest = tmp_path / "dest"
    dest.mkdir()
    (dest / "keep").write_text("earlier compaction")
    with pytest.raises(AnalysisException):
        COMPACTORS[compactor](spark, str(tmp_path / "index"), str(dest))
    assert os.listdir(dest) == ["keep"]


def test_incremental_bpe_trainer_frees_its_blocks(spark):
    df = spark.createDataFrame(
        [("low lower lowest newer wider",), ("newest widest low",)] * 3,
        "text string",
    )
    before = _persistent_rdd_ids(spark)
    merges = bpe_learn_merges_incremental(df, 6, checkpoint_every=2)
    assert merges
    assert _persistent_rdd_ids(spark) == before
