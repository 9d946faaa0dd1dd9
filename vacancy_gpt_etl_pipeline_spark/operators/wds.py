"""WebDataset tar-shard ingestion — the container tier a large-scale
multimodal training pipeline actually reads (LAION-style corpora ship
as POSIX-tar shards whose members are ``{key}.{ext}`` files; samples
are member groups sharing a key; shards are the parallelism granule).

Shape: shards arrive as rows ``(shard_id, content binary)`` — on a
cluster each task parses whole shards independently, exactly how a
WebDataset reader scales to 100 TB (no intra-shard parallelism needed;
shard count >> executor count). The member walk is a hand-written
POSIX ustar parser (512-byte header blocks: 100-byte name, octal size,
checksum over the header with the checksum field blanked, typeflag,
``ustar`` magic; data padded to 512; archive ends at two zero blocks)
— stdlib ``tarfile`` is used only to SYNTHESIZE the deterministic
fixture, mirroring operators/epub.py's zipfile-for-synthesis pattern.
Malformed shards (bad magic, checksum mismatch, size overrun,
malformed pax records) quarantine WHOLE-SHARD: the shard contributes
ONLY its single quarantine row and none of its already-parsed
members. Tar has no resync point — unlike MP3 frame sync, a corrupt
header poisons everything after it, so a partial member list is
partial data a training run must not silently consume; the shard is
the re-fetch unit.

Real-world shards are rarely plain ustar: Python's ``tarfile`` has
defaulted to PAX since 3.8, and GNU tar emits its own long-name
scheme. The walker therefore consumes the three public long-name
mechanisms — the ustar ``prefix`` field (POSIX.1-1988 split paths),
pax extended headers (typeflag ``x`` per-member / ``g`` global:
``len key=value\\n`` records whose ``path``/``size`` override the
following header), and GNU ``L``/``K`` members (NUL-terminated
long name / linkname payload applying to the next member) — and
never emits the header members themselves as samples.
"""

from __future__ import annotations

import io
import tarfile

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .payloads import map_payloads

MEMBER_SCHEMA = T.StructType(
    [
        T.StructField("shard_id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("key", T.StringType()),
        T.StructField("ext", T.StringType()),
        T.StructField("size", T.LongType()),
        T.StructField("offset", T.LongType()),
        T.StructField("typeflag", T.StringType()),
        T.StructField("content", T.BinaryType()),
    ]
)


def _parse_pax_records(data: bytes) -> dict[str, str]:
    """Decode pax extended-header records (POSIX.1-2001:
    ``<len> <key>=<value>\\n`` where ``<len>`` counts the WHOLE record
    including its own digits); raises ValueError on malformed input."""
    out: dict[str, str] = {}
    i = 0
    while i < len(data):
        sp = data.find(b" ", i)
        if sp < 0:
            raise ValueError("pax record missing length delimiter")
        try:
            rlen = int(data[i:sp])
        except ValueError:
            raise ValueError("pax record length not decimal") from None
        if rlen <= sp - i + 1 or i + rlen > len(data):
            raise ValueError("pax record length out of range")
        if data[i + rlen - 1 : i + rlen] != b"\n":
            raise ValueError("pax record missing newline terminator")
        rec = data[sp + 1 : i + rlen - 1]
        eq = rec.find(b"=")
        if eq < 0:
            raise ValueError("pax record missing '='")
        out[rec[:eq].decode("utf-8", "replace")] = rec[eq + 1 :].decode(
            "utf-8", "replace"
        )
        i += rlen
    return out


def _parse_ustar(b: bytes):
    """Yield ``(name, size, offset, typeflag, payload)`` per LOGICAL
    member, or raise ValueError on a malformed header (bad magic /
    checksum / size overrun / malformed pax records). ``offset`` is
    the member's FIRST on-disk block — a preceding pax ``x`` or GNU
    ``L``/``K`` companion is part of the member's byte range, so
    seeking there re-reads the member with its overrides; a pax ``g``
    GLOBAL header is NOT (stdlib ``tarfile.TarInfo.offset`` semantics
    for all four cases; pinned against it in tests). Long-name mechanisms applied, in precedence order: pax
    per-member ``path`` > GNU longname > pax global ``path`` > ustar
    ``prefix`` + name. A pax per-member ``size`` record overrides the
    octal header size (the >8 GiB escape hatch)."""
    i = 0
    global_over: dict[str, str] = {}
    next_over: dict[str, str] = {}
    gnu_longname: str | None = None
    member_start: int | None = None  # first block incl. meta headers
    while i + 512 <= len(b):
        if member_start is None:
            member_start = i
        hdr = b[i : i + 512]
        if hdr == b"\x00" * 512:
            return  # end-of-archive marker
        if hdr[257:262] != b"ustar":
            raise ValueError(f"bad magic at {i}")
        stored = int(hdr[148:156].split(b"\x00")[0].strip() or b"0", 8)
        summed = sum(hdr[:148]) + 8 * 0x20 + sum(hdr[156:])
        if stored != summed:
            raise ValueError(f"checksum mismatch at {i}")
        name = hdr[0:100].split(b"\x00")[0].decode("utf-8", "replace")
        size = int(hdr[124:136].split(b"\x00")[0].strip() or b"0", 8)
        if size < 0:
            # int(b'-1750', 8) parses; a negative size would floor
            # `advance` BELOW i and walk the cursor backwards — the
            # same member yielded forever, an unbounded-buffer hang
            raise ValueError(f"negative size at {i}")
        typeflag = chr(hdr[156]) if hdr[156] else "0"
        if typeflag in ("x", "g") and "size" in next_over:
            raise ValueError(f"pax header chained to pax header at {i}")
        if typeflag == "0" and "size" in next_over:
            # pax size override wins over the octal field BEFORE the
            # data slice — the octal field may be zeroed/capped
            try:
                size = int(next_over["size"])
            except ValueError:
                raise ValueError(f"pax size not decimal at {i}") from None
            if size < 0:
                raise ValueError(f"negative pax size at {i}")
        data_start = i + 512
        if data_start + size > len(b):
            raise ValueError(f"member overruns shard at {i}")
        payload = b[data_start : data_start + size]
        advance = data_start + ((size + 511) // 512) * 512
        if advance <= i:
            # belt-and-braces: the walk must strictly progress; any
            # future size-derivation bug fails loudly, never hangs
            raise ValueError(f"non-advancing member at {i}")
        if typeflag == "x":  # pax per-member header → next member
            next_over = _parse_pax_records(payload)
            i = advance
            continue
        if typeflag == "g":  # pax global header → all following
            global_over.update(_parse_pax_records(payload))
            i = advance
            # stdlib propagates TarInfo.offset to the next member only
            # for x/L/K companions, NOT g — exclude the global header
            # block from the next member's byte range to match
            member_start = None
            continue
        if typeflag == "L":  # GNU longname → next member
            gnu_longname = payload.split(b"\x00")[0].decode(
                "utf-8", "replace"
            )
            i = advance
            continue
        if typeflag == "K":  # GNU long linkname — irrelevant metadata
            i = advance
            continue
        if "path" in next_over:
            name = next_over["path"]
        elif gnu_longname is not None:
            name = gnu_longname
        elif "path" in global_over:
            name = global_over["path"]
        else:
            prefix = hdr[345:500].split(b"\x00")[0].decode(
                "utf-8", "replace"
            )
            if prefix:
                name = prefix + "/" + name
        next_over = {}
        gnu_longname = None
        yield name, size, member_start, typeflag, payload
        member_start = None
        i = advance


def _member_rows(b: bytes) -> list[dict]:
    """One row per member of a tar shard, or — on any corruption — the
    shard's single all-null quarantine row (see :func:`tar_members`)."""
    rows = []
    try:
        for name, size, off, tf, payload in _parse_ustar(b):
            key, _, ext = name.rsplit("/", 1)[-1].partition(".")
            rows.append(dict(name=name, key=key, ext=ext, size=size,
                             offset=off, typeflag=tf, content=payload))
    except ValueError:
        return [{}]
    return rows


def tar_members(
    df: DataFrame,
    id_col: str = "shard_id",
    content_col: str = "content",
) -> DataFrame:
    """Explode tar shards into member rows
    (:func:`operators.payloads.map_payloads`; one task parses whole
    shards — the WebDataset granule). ``key``/``ext`` split
    WebDataset-style on the FIRST dot of the basename. Malformed shards
    quarantine WHOLE-SHARD: exactly one quarantine row (name NULL) and
    NONE of the members parsed before the corruption — a shard
    appearing in both the valid-member and quarantine populations would
    let consumers ingest its partial members as if clean (tar has no
    resync point; the shard is the re-fetch unit)."""
    return map_payloads(df, id_col, content_col, _member_rows, MEMBER_SCHEMA)


def wds_samples(members: DataFrame) -> DataFrame:
    """Group member rows into WebDataset samples: one row per
    (shard_id, key) with an ext→content map — the unit a training
    loader consumes. One shuffle on the composite key; map_from_entries
    keeps the pivot JVM-side."""
    return (
        members.where(F.col("name").isNotNull())
        .groupBy("shard_id", "key")
        .agg(
            F.map_from_entries(
                F.sort_array(
                    F.collect_list(F.struct("ext", "content"))
                )
            ).alias("parts"),
            F.count(F.lit(1)).alias("n_parts"),
        )
    )


def pack_wds_shards(
    samples: DataFrame,
    n_shards: int = 64,
    key_col: str = "key",
    parts_col: str = "parts",
    tar_format: str = "pax",
) -> DataFrame:
    """The SINK side of the WebDataset tier: pack sample rows
    (``key_col`` string + ``parts_col`` ext→content map — the
    :func:`wds_samples` shape) into tar shards, the layout a training
    loader streams at 100 TB. Inverse of :func:`tar_members` ∘
    :func:`wds_samples`; the pack→walk→regroup roundtrip is
    oracle-gated in the registry (``wds_pack_roundtrip``).

    Shard assignment is HASH-bucketed (``xxhash64(key) mod
    n_shards``), the production WebDataset convention — one shuffle on
    shard_id, one task per shard, no global ordering anywhere (a
    rank-based assignment would be a single-task global sort, the
    exact UnpartitionedWindow shape the plan budget bans). Determinism
    contract (what makes the roundtrip hashable): the hash is fixed,
    samples sort by key within their shard, members within a sample
    emit in ext order, and headers carry zeroed mtime/uid/gid —
    identical input always packs byte-identical shards. Size ``n_shards``
    so samples-per-shard lands near the loader's preference (and
    shard count >> executor count at scale). Default
    ``tar_format='pax'`` — what Python tarfile itself writes since
    3.8; member names are ``{key}.{ext}``, so long keys emit real pax
    path records the walker (:func:`tar_members`) round-trips."""
    if tar_format not in _TAR_FORMATS:
        raise ValueError(f"unknown tar_format {tar_format!r}")
    sharded = samples.select(
        F.col(key_col).alias("_key"),
        F.col(parts_col).alias("_parts"),
        F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_shards))
        .cast("long")
        .alias("shard_id"),
    )
    fmt = _TAR_FORMATS[tar_format]

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("_key")
        return pd.DataFrame(
            {
                "shard_id": [int(pdf["shard_id"].iloc[0])],
                "content": [_pack_samples_tar(pdf, fmt)],
                "n_samples": [len(pdf)],
            }
        )

    return sharded.groupBy("shard_id").applyInPandas(
        build, "shard_id long, content binary, n_samples int"
    )


def _pack_samples_tar(pdf: pd.DataFrame, fmt) -> bytes:
    """Pack a key-sorted sample frame (``_key``/``_parts`` columns)
    into one deterministic tar: ext-ordered members, zeroed
    mtime/uid/gid. Shared by both pack sinks — one byte layout, no
    drift between the count-bucketed and bytes-budget writers."""
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w", format=fmt) as tf:
        # column zip, not iterrows — per-row Series construction costs
        # ~100x the tuple iteration and this runs once per sample
        for key, parts in zip(pdf["_key"], pdf["_parts"]):
            # Arrow map columns arrive as key/value tuple lists
            parts = dict(parts)
            for ext in sorted(parts):
                data = bytes(parts[ext])
                info = tarfile.TarInfo(f"{key}.{ext}")
                info.size = len(data)
                info.mtime = 0
                info.mode = 0o644
                tf.addfile(info, io.BytesIO(data))
    return buf.getvalue()


def sized_shard_assignment(
    samples: DataFrame,
    shard_bytes: int,
    n_buckets: int,
    key_col: str = "key",
    parts_col: str = "parts",
) -> DataFrame:
    """The ASSIGNMENT stage of :func:`pack_wds_shards_sized`, exposed
    so invariant/stat consumers can aggregate over the cheap pre-pack
    frame instead of replaying the tar-build lineage: (_key, _parts,
    bucket, _est, sub, shard_id). ``_est`` = Σ members (512 header +
    512-padded payload); ``sub = floor(cum_before / shard_bytes)``
    over the key-ordered bucket stream (a PARTITIONED window)."""
    if shard_bytes <= 0:
        raise ValueError("shard_bytes must be positive")
    from pyspark.sql import Window

    est = F.aggregate(
        F.map_values(F.col("_parts")),
        F.lit(0).cast("long"),
        lambda acc, v: acc
        + F.lit(512)
        + F.floor((F.length(v) + F.lit(511)) / F.lit(512)).cast("long")
        * F.lit(512),
    )
    sharded = samples.select(
        F.col(key_col).alias("_key"),
        F.col(parts_col).alias("_parts"),
        F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets))
        .cast("long")
        .alias("bucket"),
    ).withColumn("_est", est)
    w = Window.partitionBy("bucket").orderBy("_key")
    return (
        sharded.withColumn(
            "_cum_before",
            F.coalesce(
                F.sum("_est").over(
                    w.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0).cast("long"),
            ),
        )
        .withColumn(
            "sub",
            F.floor(F.col("_cum_before") / F.lit(shard_bytes)).cast(
                "long"
            ),
        )
        .withColumn(
            "shard_id",
            F.col("bucket") * F.lit(1 << 32) + F.col("sub"),
        )
    )


def pack_wds_shards_sized(
    samples: DataFrame,
    shard_bytes: int = 1 << 30,
    n_buckets: int = 64,
    key_col: str = "key",
    parts_col: str = "parts",
    tar_format: str = "pax",
) -> DataFrame:
    """Bytes-budget variant of :func:`pack_wds_shards` (r14 verdict
    item 5): real loaders target ~100 MB–1 GB SHARD SIZES, not sample
    counts. Samples hash into ``n_buckets`` (same fixed xxhash64 —
    the parallelism granule), then WITHIN each bucket the key-sorted
    stream splits at byte-budget boundaries by PREFIX-SUM
    partitioning: sample ``i`` goes to sub-shard ``floor(cum_before_i
    / shard_bytes)`` where ``cum_before`` is the running estimated
    size of all earlier samples in the bucket. This is greedy
    first-fit with a closed-form assignment — one partitioned window
    per bucket (never a global sort), and the packing bound is exact:
    every sub-shard's estimated payload minus its largest sample is
    < ``shard_bytes`` (items after the first start strictly inside
    the budget window), so shards land in [budget, budget + one
    sample) — the invariant the ``wds_pack_sized`` oracle rides.

    Size estimate per sample = Σ over members of 512 (header block) +
    payload rounded up to 512 — the dominant on-disk cost; pax
    long-name records add a bounded constant the estimate ignores
    (attested against actual shard bytes in BENCH_SCALE). Same
    determinism contract as the count-bucketed sink: fixed hash,
    key-sorted samples, ext-ordered members, zeroed metadata —
    identical input packs byte-identical shards.

    Returns (shard_id, bucket, sub, content, n_samples,
    payload_est, max_item_est); ``shard_id = bucket·2³² + sub`` is
    unique and walkable by :func:`tar_members`."""
    if tar_format not in _TAR_FORMATS:
        raise ValueError(f"unknown tar_format {tar_format!r}")
    assigned = sized_shard_assignment(
        samples, shard_bytes, n_buckets, key_col, parts_col
    )
    fmt = _TAR_FORMATS[tar_format]

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("_key")
        return pd.DataFrame(
            {
                "shard_id": [int(pdf["shard_id"].iloc[0])],
                "bucket": [int(pdf["bucket"].iloc[0])],
                "sub": [int(pdf["sub"].iloc[0])],
                "content": [_pack_samples_tar(pdf, fmt)],
                "n_samples": [len(pdf)],
                "payload_est": [int(pdf["_est"].sum())],
                "max_item_est": [int(pdf["_est"].max())],
            }
        )

    return assigned.groupBy("shard_id").applyInPandas(
        build,
        "shard_id long, bucket long, sub long, content binary, "
        "n_samples int, payload_est long, max_item_est long",
    )


_TAR_FORMATS = {
    "ustar": tarfile.USTAR_FORMAT,
    "pax": tarfile.PAX_FORMAT,
    "gnu": tarfile.GNU_FORMAT,
}

#: directory prefix planted on long-name members — 96 chars + '/' +
#: the 13-char basename = 110 > the ustar name field's 100, forcing a
#: pax ``path`` record (PAX_FORMAT) or an ``L`` member (GNU_FORMAT)
LONG_DIR = "d" * 96


def synthesize_wds_shards(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    docs_per_shard: int = 16,
    binary_col: str | None = None,
    binary_ext: str = "bmp",
    tar_format: str = "ustar",
    long_name_every: int | None = None,
) -> DataFrame:
    """Deterministic WebDataset fixture: documents grouped into shards
    of ``docs_per_shard`` by ``id // docs_per_shard``; each document
    contributes ``{id:09d}.txt`` (UTF-8 text — skipped when NULL, as a
    real pipeline skips a missing modality) and ``{id:09d}.cls``
    (label ``id % 10``) — plus ``{id:09d}.{binary_ext}`` when
    ``binary_col`` names a binary column (the multimodal sample shape:
    image + caption + label per key). Members in id order, zeroed
    mtime/uid/gid — byte-deterministic, closed-form replayable
    (member sizes are octet lengths; offsets are 512-block cumulative
    sums).

    ``tar_format``: ``'ustar'`` (default), ``'pax'`` (POSIX.1-2001 —
    Python tarfile's own default since 3.8), ``'gnu'``, or ``'mix'``
    (pax for even shard ids, gnu for odd — both long-name schemes in
    one corpus, like a crawl of heterogeneous uploaders).
    ``long_name_every``: every ``id % N == 0`` document's members gain
    the :data:`LONG_DIR` 96-char directory prefix (full path 110 chars
    > the 100-char ustar name field), emitting a real pax ``x`` header
    or GNU ``L`` member. The on-disk overhead is a closed form an
    oracle replays: 512 (meta header) + 512 (padded payload — the pax
    record ``"120 path=<110 chars>\\n"`` is 120 bytes and the GNU
    payload 111 bytes, both ≤ 512) = 1024 bytes per long-name member,
    identical across both formats. Long names require pax/gnu/mix
    (ustar raises in tarfile — the format cannot carry them without
    the prefix split, which tarfile only uses for '/'-splittable
    paths)."""
    if tar_format not in (*_TAR_FORMATS, "mix"):
        raise ValueError(f"unknown tar_format {tar_format!r}")

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col)
        sid = int(pdf["_shard"].iloc[0])
        fmt = (
            _TAR_FORMATS["pax" if sid % 2 == 0 else "gnu"]
            if tar_format == "mix"
            else _TAR_FORMATS[tar_format]
        )
        buf = io.BytesIO()
        with tarfile.open(fileobj=buf, mode="w", format=fmt) as tf:
            for _, row in pdf.iterrows():
                i = int(row[id_col])
                pre = (
                    LONG_DIR + "/"
                    if long_name_every and i % long_name_every == 0
                    else ""
                )
                parts = []
                if row[text_col] is not None:
                    parts.append(
                        (f"{pre}{i:09d}.txt", str(row[text_col]).encode())
                    )
                parts.append((f"{pre}{i:09d}.cls", str(i % 10).encode()))
                if binary_col is not None and row[binary_col] is not None:
                    parts.append(
                        (f"{pre}{i:09d}.{binary_ext}", bytes(row[binary_col]))
                    )
                for name, data in parts:
                    info = tarfile.TarInfo(name)
                    info.size = len(data)
                    info.mtime = 0
                    info.mode = 0o644
                    tf.addfile(info, io.BytesIO(data))
        return pd.DataFrame(
            {
                "shard_id": [sid],
                "content": [buf.getvalue()],
            }
        )

    cols = [id_col, text_col] + ([binary_col] if binary_col else [])
    shard = (F.col(id_col) / docs_per_shard).cast("long")
    return (
        df.select(*cols)
        .withColumn("_shard", shard)
        .groupBy("_shard")
        .applyInPandas(
            build, "shard_id long, content binary"
        )
    )
