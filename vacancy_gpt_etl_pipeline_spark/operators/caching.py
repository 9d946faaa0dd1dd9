"""The one owner of cached intermediates: every persist and checkpoint
in the package goes through :func:`persist` or :func:`checkpoint`, and
a :class:`CacheScope` region frees what was made inside it.

The engine returns lazy plans, so an operator that persists a frame it
reads several times (shingle sets, band tables, loop invariants) or
checkpoints a loop round can never know when the blocks may go — only
whoever runs the sink does. That caller opens a region around the build
and the sink::

    with CacheScope(spark):
        pairs = minhash_near_duplicates(docs)
        pairs.write.parquet(out)          # materialize INSIDE the region
    # every persist and checkpoint made above is freed here

On exit, normal or by exception, the region

- unpersists every frame persisted through :func:`persist` while it was
  the innermost region (this also drops the session's cache entry), and
- frees every RDD block that appeared since entry: local checkpoints,
  which ``DataFrame.unpersist`` cannot reach, and anything else
  persisted meanwhile.

Regions nest; an inner region frees its own blocks when it exits, the
outer one the rest. A loop that must drop an earlier round's blocks
before the loop ends hands that checkpoint to :meth:`CacheScope.free`.

The block rule is an id diff over the context's persistent RDDs, so an
RDD another driver thread persists while a region is open is freed with
the region.

Outside any region both helpers are plain ``persist()`` and
``localCheckpoint(eager=True)``: the blocks stay until Spark's LRU
evicts them, as for any one-shot job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

#: open regions, innermost last
_regions: list[CacheScope] = []


def _rdd_ids(jsc) -> set[int]:
    return set(jsc.getPersistentRDDs().keySet().toArray())


def _free_rdds(jsc, ids: set[int]) -> None:
    live = jsc.getPersistentRDDs()
    for rid in ids:
        rdd = live.get(rid)
        if rdd is not None:
            rdd.unpersist(False)


class CacheScope:
    """A region that frees the persists and checkpoints made inside it
    (see the module docstring for the rule)."""

    def __init__(self, spark: SparkSession) -> None:
        self._jsc = spark.sparkContext._jsc
        self._frames: list[DataFrame] = []
        self._checkpoints: list[tuple[DataFrame, set[int]]] = []

    def free(self, df: DataFrame) -> None:
        """Free the blocks of ``df``, a frame :func:`checkpoint` made in
        this region, before the region ends."""
        for i, (f, ids) in enumerate(self._checkpoints):
            if f is df:
                del self._checkpoints[i]
                _free_rdds(self._jsc, ids)
                return
        raise ValueError("frame was not checkpointed in this region")

    def __enter__(self) -> CacheScope:
        self._before = _rdd_ids(self._jsc)
        _regions.append(self)
        return self

    def __exit__(self, *exc) -> bool:
        _regions.remove(self)
        for f in self._frames:
            f.unpersist(blocking=False)
        _free_rdds(self._jsc, _rdd_ids(self._jsc) - self._before)
        self._frames.clear()
        self._checkpoints.clear()
        return False


def persist(df: DataFrame) -> DataFrame:
    """``df.persist()``, unpersisted when the innermost region exits."""
    if _regions:
        _regions[-1]._frames.append(df)
    return df.persist()


def checkpoint(df: DataFrame) -> DataFrame:
    """Eager ``df.localCheckpoint()``; inside a region its blocks are
    freed on exit, or earlier through :meth:`CacheScope.free`."""
    if not _regions:
        return df.localCheckpoint(eager=True)
    region = _regions[-1]
    before = _rdd_ids(region._jsc)
    out = df.localCheckpoint(eager=True)
    region._checkpoints.append((out, _rdd_ids(region._jsc) - before))
    return out
