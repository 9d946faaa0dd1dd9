"""One Arrow ``mapInPandas`` body for the binary-payload decoders.

Every decoder in the multimodal family (image, audio, video, document
and archive containers) reads ``(id, content binary)`` rows and emits
rows of a fixed schema. :func:`map_payloads` owns the Spark and Arrow
side of that — the batch loop, null content, the id column, column
order and nullable-int columns — so a decoder is one pure function
``parse(b: bytes) -> list[dict]``:

- ``[]`` drops the payload;
- each dict is one output row; a schema field missing from it is null;
- a 1→N decoder (frames, chapters, records, tar members) returns
  several rows.

The quarantine-not-fail rule therefore lives in each parse function's
return value: a malformed payload becomes a quarantine row (null fields
or a ``'webp?'``-style marker) or no row, and never an exception that
fails the task. The harness owns one rule of its own: an int that does
not fit its Integer/Long column (a 32-bit header field read unsigned, a
decimal token past 2^31) is written as null, whichever parser produced
it. Parse functions are module-level, so tests call them without a
Spark session.

:func:`synthesize_payloads` is the inverse, for the deterministic
fixture synthesizers: ``build(id) -> bytes`` per row of an id column.
"""

from __future__ import annotations

from typing import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

Parse = Callable[[bytes], list[dict]]

# pandas' nullable integer dtypes and the bit width of their range: an
# int next to a None stays an int instead of riding through float64,
# which is exact only below 2**53
_NULLABLE_INT = {T.IntegerType: ("Int32", 31), T.LongType: ("Int64", 63)}


def _int_array(values: list, dtype: str, bits: int) -> pd.arrays.IntegerArray:
    """``values`` as a nullable int array; a value outside the column's
    range is null (quarantine), not the cast error that fails the task."""
    lo, hi = -(2**bits), 2**bits
    return pd.array(
        [v if v is None or lo <= v < hi else None for v in values],
        dtype=dtype,
    )


def payload_frame(
    ids: Iterable, contents: Iterable, parse: Parse, schema: T.StructType
) -> pd.DataFrame:
    """The output frame for one batch: ``parse`` applied to each
    payload (null content reads as ``b""``), ``int(id)`` written into
    the schema's first field, columns in schema order, ints that do not
    fit their column as null."""
    id_name, *names = schema.fieldNames()
    cols: dict[str, list] = {n: [] for n in schema.fieldNames()}
    for pid, content in zip(ids, contents):
        b = bytes(content) if content is not None else b""
        for row in parse(b):
            cols[id_name].append(int(pid))
            for n in names:
                cols[n].append(row.get(n))
    return pd.DataFrame(
        {
            f.name: (
                _int_array(cols[f.name], *_NULLABLE_INT[type(f.dataType)])
                if type(f.dataType) in _NULLABLE_INT
                else cols[f.name]
            )
            for f in schema
        }
    )


def map_payloads(
    df: DataFrame,
    id_col: str,
    content_col: str,
    parse: Parse,
    schema: T.StructType,
) -> DataFrame:
    """Decode ``df[content_col]`` payload by payload with ``parse``
    (see the module docstring) into ``schema`` rows keyed by
    ``df[id_col]``; only the two columns are read, so payload pruning
    upstream still applies."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield payload_frame(pdf[id_col], pdf[content_col], parse, schema)

    return df.select(id_col, content_col).mapInPandas(run, schema)


#: the fixture synthesizers' output: one payload per id
PAYLOAD_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("content", T.BinaryType()),
    ]
)


def synthesize_payloads(
    df: DataFrame,
    id_col: str,
    build: Callable[[int], bytes],
    schema: T.StructType = PAYLOAD_SCHEMA,
    **constants: str,
) -> DataFrame:
    """``(asset_id, content, *constants)`` rows of ``schema``:
    ``build(id)`` per row of ``df[id_col]``, each keyword a constant
    column (Arrow ``mapInPandas``; per-row Python assembly for the
    fixtures whose bytes are not Catalyst arithmetic — entropy coding,
    chained IFD offsets)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = [int(x) for x in pdf[id_col]]
            consts = {k: [v] * len(ids) for k, v in constants.items()}
            yield pd.DataFrame(
                {"asset_id": ids, "content": [build(i) for i in ids], **consts}
            )

    return df.select(id_col).mapInPandas(run, schema)
