"""Streaming incremental semantic-dedup gate
(streaming/semdedup_gate.py): parity with the batch operator, stable
bootstrapped quantizer, exactly-once across runs, retry idempotence in
both crash orders, cell-pruned index reads — the embedding twin of
tests/test_streaming_phash.py / test_streaming_neardup.py."""

from __future__ import annotations

from pyspark.sql import functions as F

from vacancy_gpt_etl_pipeline_spark.operators.similarity import (
    sampled_centroids,
    semdedup_incremental,
)
from vacancy_gpt_etl_pipeline_spark.streaming.gate import read_history
from vacancy_gpt_etl_pipeline_spark.streaming.semdedup_gate import (
    BATCH_COL,
    INDEX_SCHEMA,
    apply_semdedup_gate_batch,
    write_stream_semdedup_gate,
)

_SCHEMA = "vec_id long, embedding array<double>"
_DIM = 64


def _vecs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )


def _near_copies(df, lo, hi, relabel):
    return df.where(f"vec_id >= {lo} AND vec_id < {hi}").select(
        (F.col("vec_id") + relabel).alias("vec_id"),
        F.transform(
            "embedding", lambda x: x * F.lit(2.0) + F.lit(0.001)
        ).alias("embedding"),
    )


def _ids(df):
    return sorted(r["vec_id"] for r in df.select("vec_id").collect())


def test_streaming_semdedup_gate_parity_and_exactly_once(
    spark, sf_dir, tmp_path
):
    vecs = _vecs(spark, sf_dir)
    src = tmp_path / "in"
    src.mkdir()
    out = str(tmp_path / "out")
    index = str(tmp_path / "index")
    cents_path = str(tmp_path / "cents")
    ckpt = str(tmp_path / "ckpt")

    def _stream():
        return (
            spark.readStream.schema(_SCHEMA)
            .option("maxFilesPerTrigger", 100000)
            .parquet(str(src) + "/*")
        )

    # run 1: corpus load
    vecs.where("vec_id < 300").write.parquet(str(src / "a"))
    write_stream_semdedup_gate(
        _stream(), out, index, cents_path, ckpt, dim=_DIM
    )
    run1 = spark.read.parquet(out)
    cents = spark.read.parquet(cents_path)
    # bootstrap quantizer == stride sample of the first batch
    direct_cents = sampled_centroids(vecs.where("vec_id < 300"), 8, 37)
    assert sorted(r["cell"] for r in cents.collect()) == sorted(
        r["cell"] for r in direct_cents.collect()
    )
    direct1 = semdedup_incremental(
        vecs.where("vec_id < 300"),
        vecs.where("vec_id < 0"),
        cents,
        dim=_DIM,
    )
    assert _ids(run1) == _ids(direct1)

    # run 2: fresh vectors + near-copies of the corpus
    batch2 = vecs.where("vec_id >= 300").unionByName(
        _near_copies(vecs, 0, 25, 1000000)
    )
    batch2.write.parquet(str(src / "b"))
    write_stream_semdedup_gate(
        _stream(), out, index, cents_path, ckpt, dim=_DIM
    )
    run2 = spark.read.parquet(out).where(f"{BATCH_COL} > 0")
    hist = run1.select("vec_id").join(vecs, "vec_id")
    direct2 = semdedup_incremental(batch2, hist, cents, dim=_DIM)
    assert _ids(run2) == _ids(direct2)
    # most near-copies are vetoed (cell co-assignment is high but not
    # perfect — the operator's documented recall shape)
    planted_surviving = run2.where("vec_id >= 1000000").count()
    assert planted_surviving < 13

    # run 3: no new files → nothing appended
    before = spark.read.parquet(out).count()
    write_stream_semdedup_gate(
        _stream(), out, index, cents_path, ckpt, dim=_DIM
    )
    assert spark.read.parquet(out).count() == before


def test_semdedup_gate_retry_idempotent_both_crash_orders(
    spark, sf_dir, tmp_path
):
    vecs = _vecs(spark, sf_dir)
    out = str(tmp_path / "out")
    index = str(tmp_path / "index")
    cents_path = str(tmp_path / "cents")
    b0 = vecs.where("vec_id < 200")
    apply_semdedup_gate_batch(b0, 0, out, index, cents_path, dim=_DIM)
    base_out = _ids(spark.read.parquet(out))
    base_idx = spark.read.parquet(index).count()

    # (a) commit lost after both writes: full replay of batch 0 —
    # output overwritten (not duplicated), bootstrap rewritten
    # identically, index rows doubled but harmless
    apply_semdedup_gate_batch(b0, 0, out, index, cents_path, dim=_DIM)
    assert _ids(spark.read.parquet(out)) == base_out
    assert spark.read.parquet(out).count() == len(base_out)
    assert spark.read.parquet(index).count() == 2 * base_idx

    # (b) index written, output lost: orphaned batch-1 index rows must
    # not veto the retry
    b1 = vecs.where("vec_id >= 200 AND vec_id < 250")
    from vacancy_gpt_etl_pipeline_spark.operators.similarity import (
        ivf_assign,
    )

    cents = spark.read.parquet(cents_path)
    (
        ivf_assign(b1, cents, dim=_DIM)
        .select(
            "vec_id",
            "embedding",
            F.lit(1).cast("long").alias(BATCH_COL),
            "cell",
        )
        .write.mode("append")
        .partitionBy("cell")
        .parquet(index)
    )
    apply_semdedup_gate_batch(b1, 1, out, index, cents_path, dim=_DIM)
    run1 = spark.read.parquet(out).where(f"{BATCH_COL} = 1")
    direct = semdedup_incremental(b1, b0, cents, dim=_DIM)
    assert _ids(run1) == _ids(direct)

    # batch 2: near-copies of batch 1's survivors are vetoed despite
    # the duplicated index rows
    copies = _near_copies(vecs, 200, 250, 700000)
    apply_semdedup_gate_batch(copies, 2, out, index, cents_path, dim=_DIM)
    run2 = spark.read.parquet(out).where(f"{BATCH_COL} = 2")
    # copies of VETOED batch-1 vectors may survive (their source is
    # not in the index — family semantics); copies of SURVIVORS can't,
    # unless cell-misrouted
    surv1 = set(_ids(run1))
    bad = [
        r
        for r in run2.collect()
        if (r["vec_id"] - 700000) in surv1
    ]
    direct2 = semdedup_incremental(
        copies, b1.join(run1.select("vec_id"), "vec_id"), cents, dim=_DIM
    )
    assert _ids(run2) == _ids(direct2)
    assert len(bad) == len(
        [v for v in _ids(direct2) if (v - 700000) in surv1]
    )


def test_semdedup_gate_index_read_is_cell_pruned(spark, sf_dir, tmp_path):
    import re

    vecs = _vecs(spark, sf_dir)
    out = str(tmp_path / "out")
    index = str(tmp_path / "index")
    cents_path = str(tmp_path / "cents")
    apply_semdedup_gate_batch(
        vecs.where("vec_id < 300"), 0, out, index, cents_path, dim=_DIM
    )
    idx = spark.read.parquet(index)
    some_cells = [
        r["cell"] for r in idx.select("cell").distinct().limit(2).collect()
    ]
    touched = spark.createDataFrame([(c,) for c in some_cells], "cell long")
    pruned = read_history(spark, index, INDEX_SCHEMA, touched, 1)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m is not None and "cell" in m.group(1)
    got = {r["cell"] for r in pruned.select("cell").distinct().collect()}
    assert got == set(some_cells)


def test_cells_past_int32_still_gate_later_batches(spark, tmp_path):
    """A cell is its centroid's vec_id, so an index whose vec_ids pass
    2^31 has ``cell=`` directories past the int range. The declared
    index schema must read them, or every later batch with history
    fails its read on every retry."""
    base = 3_000_000_000
    out = str(tmp_path / "out")
    index, cents = str(tmp_path / "index"), str(tmp_path / "cents")
    b0 = spark.createDataFrame(
        [(base, [1.0, 0.0, 0.0, 0.0]), (base + 1, [0.0, 1.0, 0.0, 0.0])],
        _SCHEMA,
    )
    apply_semdedup_gate_batch(
        b0, 0, out, index, cents, n_centroids=2, stride=1, dim=4
    )
    b1 = spark.createDataFrame(
        [
            (base + 10, [1.0, 0.01, 0.0, 0.0]),
            (base + 11, [0.0, 0.0, 1.0, 0.0]),
        ],
        _SCHEMA,
    )
    apply_semdedup_gate_batch(
        b1, 1, out, index, cents, n_centroids=2, stride=1, dim=4
    )
    assert _ids(spark.read.parquet(out).where(f"{BATCH_COL} = 1")) == [
        base + 11
    ]
