"""Acoustic fingerprinting over real decoded PCM — the audio member of
the modality-complete near-dup family (text: ``operators/dedup.py``,
image: ``operators/phash.py``).

Algorithm (the public landmark/constellation idea of Wang's "An
Industrial-Strength Audio Search Algorithm", ISMIR 2003, reduced to
its deterministic core): decode PCM frames → short sliding analysis
windows → per-window DFT energy at a small bin bank → keep the PEAK
bin per window → the fingerprint is the peak-bin sequence. Because
scaling every sample by a gain scales every bin energy by gain² the
argmax is untouched: the fingerprint is AMPLITUDE-INVARIANT, so
volume-normalized / re-mastered re-encodes of the same recording
collapse to one fingerprint — the audio analogue of pHash's
brightness invariance.

Cross-engine exactness (the same discipline as ``operators/phash.py``):
the DFT uses INTEGER cosine/sine tables (``FP_COS16``/``FP_SIN16``,
the real values scaled by 4096 and rounded ONCE); energies are exact
int64 ``re² + im²``; the peak is argmax with a fixed smallest-bin tie
break. The DuckDB oracle embeds THE SAME table literals, so both
engines do identical integer arithmetic.

Scale shape: fingerprinting is one parse function per payload under
:func:`operators.payloads.map_payloads` (a 16×8 int64 matmul per
window — microseconds per asset); duplicate grouping is one
map-side-combinable groupBy on the fingerprint string. The raw PCM
column never crosses a shuffle.

Reference parity: the reference pipeline has no audio surface — §8
extension inventory.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .multimodal import WAV_HEADER_LEN, _le32_hex, _parse_wav_header
from .payloads import map_payloads

# cos/sin(2*pi*j/16) * 4096, rounded — shared with the DuckDB oracle
# (queries.py builds its VALUES list from these constants).
FP_COS16: tuple[int, ...] = (
    4096, 3784, 2896, 1567, 0, -1567, -2896, -3784,
    -4096, -3784, -2896, -1567, 0, 1567, 2896, 3784,
)
FP_SIN16: tuple[int, ...] = (
    0, 1567, 2896, 3784, 4096, 3784, 2896, 1567,
    0, -1567, -2896, -3784, -4096, -3784, -2896, -1567,
)

FP_WINDOW = 16
FP_HOP = 8
FP_BINS = 8

AUDIO_FP_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("n_windows", T.IntegerType()),
        T.StructField("fingerprint", T.StringType()),
    ]
)

# DFT basis as (bins x window) int64 matrices: row b-1 holds
# cos/sin(2*pi*b*k/16) for k in 0..15 via index (b*k) mod 16
_COS_M = np.array(
    [[FP_COS16[(b * k) % 16] for k in range(FP_WINDOW)]
     for b in range(1, FP_BINS + 1)],
    dtype=np.int64,
)
_SIN_M = np.array(
    [[FP_SIN16[(b * k) % 16] for k in range(FP_WINDOW)]
     for b in range(1, FP_BINS + 1)],
    dtype=np.int64,
)


def fingerprint_pcm(samples: np.ndarray) -> tuple[int, str]:
    """(n_windows, fingerprint) of an int array of PCM samples —
    windows of 16 hop 8; per window the peak of 8 DFT bin energies
    (ties → smallest bin). Fewer than 16 samples → 0 windows and the
    empty fingerprint."""
    s = samples.astype(np.int64)
    tops = []
    start = 0
    while start + FP_WINDOW <= len(s):
        w = s[start : start + FP_WINDOW]
        re = _COS_M @ w
        im = _SIN_M @ w
        e = re * re + im * im
        tops.append(int(np.argmax(e)) + 1)  # np.argmax: first max wins
        start += FP_HOP
    return len(tops), "-".join(map(str, tops))


def _fingerprint_rows(b: bytes) -> list[dict]:
    """The fingerprint row of a canonical mono 16-bit PCM WAV; any
    other payload is dropped."""
    fmt, channels, _rate, bits, _ = _parse_wav_header(b)
    if fmt != "wav" or channels != 1 or bits != 16:
        return []
    data_size = int.from_bytes(b[40:44], "little")
    pcm = b[WAV_HEADER_LEN : WAV_HEADER_LEN + data_size]
    samples = np.frombuffer(pcm[: len(pcm) // 2 * 2], dtype="<i2")
    n_windows, fp = fingerprint_pcm(samples)
    return [dict(n_samples=len(samples), n_windows=n_windows, fingerprint=fp)]


def fingerprint_wav(
    df: DataFrame, id_col: str = "asset_id", content_col: str = "content"
) -> DataFrame:
    """Fingerprint canonical mono 16-bit PCM WAV payloads by decoding
    the real bytes (:func:`operators.payloads.map_payloads`). Non-WAV /
    non-mono-16-bit payloads are dropped (quarantine-not-fail;
    ``decode_audio``'s census names them)."""
    return map_payloads(
        df, id_col, content_col, _fingerprint_rows, AUDIO_FP_SCHEMA
    )


def audio_fp_dup_groups(fps: DataFrame) -> DataFrame:
    """Duplicate-recording groups: one map-side-combinable groupBy on
    the fingerprint; survivor = min asset_id (keep-first, the family
    rule). Only groups with ≥2 members are returned."""
    return (
        fps.where(F.col("n_windows") >= 1)
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_assets"),
            F.min("asset_id").alias("keep_id"),
        )
        .where(F.col("n_assets") >= 2)
        .select(
            "fingerprint",
            "n_assets",
            "keep_id",
            (F.col("n_assets") - 1).alias("drop_count"),
        )
    )


def audio_fp_incremental(
    batch_fps: DataFrame, history_fps: DataFrame
) -> DataFrame:
    """Batch-vs-corpus incremental AUDIO gate — the audio member of
    the incremental family (text: ``dedup.incremental_dedup``; image:
    ``phash.phash_incremental``; embedding:
    ``similarity.semdedup_incremental``): a new recording survives
    only if its acoustic fingerprint is keep-first within the batch
    AND absent from history. The fingerprint is already
    gain-invariant (bin energies scale by gain², argmax unmoved), so
    exact key equality is the duplicate relation — no near tier, the
    r13-verdict symmetry-completion design. History is never
    re-deduped; its distinct fingerprints are the whole state
    (:func:`dedup.keyed_incremental_gate` scale notes apply)."""
    from vacancy_gpt_etl_pipeline_spark.operators.dedup import (
        keyed_incremental_gate,
    )

    return keyed_incremental_gate(
        batch_fps.where(F.col("n_windows") >= 1),
        history_fps,
        "fingerprint",
        "asset_id",
    )


def audio_fp_near_veto(
    batch_fps: DataFrame,
    history_fps: DataFrame,
    max_diff: int = 2,
    n_bands: int = 3,
    max_bucket: int = 10_000,
) -> DataFrame:
    """Batch-vs-corpus incremental audio gate WITH a near tier (r14
    verdict item 6 — the audio analogue of
    :func:`phash.phash_incremental`): the exact gate alone misses
    codec re-encodes that shift a few spectral peaks (the pHash
    Hamming-1 analogue), so a new recording survives only if (1) it is
    the keep-first representative of its fingerprint within the batch,
    (2) no history recording has the SAME fingerprint (left-anti — the
    exact gate), and (3) no history recording of the SAME length is
    within ``max_diff`` differing windows (the near veto).

    Near candidates come from band-LSH over the PER-WINDOW peak-bin
    sequence: the sequence splits into ``n_bands`` contiguous
    sub-sequences (band ``k`` = windows ``[k·n/B, (k+1)·n/B)``), and
    two equal-length sequences within ``max_diff < n_bands`` differing
    windows agree exactly on ≥1 NON-EMPTY band (pigeonhole: the diffs
    touch at most ``max_diff`` of the ``min(n, B) > max_diff``
    non-empty bands), so a join on (n_windows, band_idx, band_value)
    is exhaustive — never a cartesian product. Window Hamming is
    computed inline via ``zip_with`` on the split sequences (JVM-side,
    no UDF). Same-length-only is the honest relation: a re-encode
    preserves duration, so window counts match; clips with
    ``n_windows <= max_diff`` are EXEMPT from the near veto (a
    2-window clip one window away is 50% different audio, not a
    near-dup) and face the exact gate only.

    ``max_bucket`` caps fan-out on the HISTORY leg only (the
    :func:`phash.phash_incremental` direction: candidate volume stays
    ≤ B·|batch reps|·max_bucket — linear in the micro-batch; an
    over-full history bucket loses its veto, the family's documented
    conservative direction). History is never re-deduped; its
    distinct fingerprints are the whole state.

    Since r15 the banded veto itself lives in
    :func:`dedup.seq_near_veto` (the generic sequence gate the
    streaming twin shares); this wrapper contributes only the audio
    frame contract (``n_windows >= 1`` — empty fingerprints never
    reach the sequence machinery). Returns the surviving batch
    fingerprint rows."""
    from vacancy_gpt_etl_pipeline_spark.operators.dedup import (
        seq_near_veto,
    )

    return seq_near_veto(
        batch_fps.where(F.col("n_windows") >= 1),
        history_fps.where(F.col("n_windows") >= 1),
        "fingerprint",
        "asset_id",
        max_diff=max_diff,
        n_bands=n_bands,
        max_bucket=max_bucket,
    )


def synthesize_tone_payload(
    df: DataFrame, id_col: str = "doc_id", near_tail: bool = False
) -> DataFrame:
    """Deterministic mono 16-bit WAV whose samples are a REAL two-tone
    signal built from the fingerprint LUT itself, hex-assembled
    JVM-side. Closed forms for the oracle:

      * ``n = id % 32 + 32`` samples at 16000 Hz;
      * first half (``k < n // 2``) frequency bin ``f1 = 1 + id % 8``,
        second half ``f2 = 1 + (id // 8) % 8``;
      * amplitude ``1 + id % 3`` (fingerprints must collapse it);
      * sample ``k`` is ``amp · FP_COS16[(f·k) mod 16]``, stored
        little-endian two's-complement.

    ``near_tail=True`` emits the NEAR-ENCODE twin (r14 verdict item
    6): samples from ``cut = ((n-16)//8)·8 + 8`` onward — the back
    half of the LAST analysis window, touched by no other window —
    switch to bin ``f3 = 1 + (id+3) % 8``, the codec-re-encode
    analogue of pHash Hamming-1: at most ONE window's peak moves
    (sometimes none, when the old bin still dominates — exactly how a
    benign re-encode behaves)."""
    i = F.col(id_col).cast("bigint")
    n = (i % 32 + 32).cast("int")
    f1 = (1 + i % 8).cast("bigint")
    f2 = (1 + F.floor(i / 8) % 8).cast("bigint")
    f3 = (1 + (i + 3) % 8).cast("bigint")
    cut = (F.floor((n - 16) / 8) * 8 + 8).cast("bigint")
    amp = (1 + i % 3).cast("bigint")
    cos_arr = F.array(*[F.lit(v) for v in FP_COS16])

    def sample_hex(k: F.Column) -> F.Column:
        f = F.when(k < F.floor(n / 2), f1).otherwise(f2)
        if near_tail:
            f = F.when(k >= cut, f3).otherwise(f)
        val = amp * F.element_at(cos_arr, ((f * k) % 16 + 1).cast("int"))
        u = F.pmod(val, F.lit(65536)).cast("int")
        return F.concat(
            F.lpad(F.hex(u % 256), 2, "0"),
            F.lpad(F.hex(F.shiftright(u, 8) % 256), 2, "0"),
        )

    pcm_hex = F.array_join(
        F.transform(F.sequence(F.lit(0), n - 1), sample_hex), ""
    )
    data_size = (n * 2).cast("bigint")
    rate = F.lit(16000).cast("bigint")
    header_hex = F.concat(
        F.lit("52494646"),
        _le32_hex(data_size + 36),
        F.lit("57415645666D7420"),
        F.lit("10000000"),
        F.lit("0100"),          # PCM
        F.lit("0100"),          # mono
        _le32_hex(rate),
        _le32_hex(rate * 2),    # byte rate
        F.lit("0200"),          # block align
        F.lit("1000"),          # 16 bits
        F.lit("64617461"),
        _le32_hex(data_size),
    )
    return df.select(
        i.alias("asset_id"),
        F.unhex(F.concat(header_hex, pcm_hex)).alias("content"),
        F.lit("audio").alias("modality"),
        F.lit("audio/wav").alias("mime_type"),
    )
