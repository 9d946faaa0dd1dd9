"""Document chunking: fixed-size token windows with overlap — the 1→N
expansion every RAG/pretraining pipeline runs before tokenization proper.

Pure JVM: split → slice windows via a higher-order transform over window
starts → posexplode. Deterministic per document (chunk boundaries depend
only on content), so it is oracle-checkable and partitioning-independent —
unlike greedy cross-document bin packing, which trades determinism for
packing efficiency and belongs in a final repartitionByRange pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vacancy_gpt_etl_pipeline_spark.functions.text import tokens


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 32,
    stride: int = 24,
) -> DataFrame:
    """Explode each document into overlapping token windows.

    Window starts are 1, 1+stride, 1+2·stride, … while a full-or-final
    window remains; the last window is the tail (may be shorter). Output:
    (id, chunk_idx, chunk_text, n_tokens). At 100 TB this is a narrow map
    stage — no shuffle; the output inherits the input partitioning.
    """
    if stride <= 0 or stride > chunk_tokens:
        raise ValueError("require 0 < stride <= chunk_tokens")
    toks = df.select(
        F.col(id_col).alias("_id"), tokens(text_col).alias("_toks")
    ).where(F.size("_toks") > 0)
    n = F.size("_toks")
    # number of windows: 1 + ceil(max(n - chunk, 0) / stride)
    n_win = F.lit(1) + F.ceil(
        F.greatest(n - F.lit(chunk_tokens), F.lit(0)) / F.lit(stride)
    ).cast("int")
    starts = F.sequence(F.lit(0), n_win - 1)
    window = lambda w: F.concat_ws(  # noqa: E731
        " ", F.slice("_toks", w * stride + 1, chunk_tokens)
    )
    chunks = toks.select(
        "_id", F.posexplode(F.transform(starts, window)).alias("_idx", "chunk_text")
    )
    return chunks.select(
        F.col("_id").alias(id_col),
        F.col("_idx").alias("chunk_idx"),
        "chunk_text",
        F.size(F.split("chunk_text", r"\s+")).alias("n_tokens"),
    )
