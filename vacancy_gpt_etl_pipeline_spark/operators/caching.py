"""Cache lifetime management for operators that persist intermediates.

The near-dup operators persist frames that are read several times within
one returned plan (shingle sets, band/block tables). Because the returned
DataFrame is lazy, the operator itself can never know when it is safe to
unpersist — only the caller does, after materializing the result. Without
a handle, every invocation leaks cached blocks for the session's lifetime
and a long-lived service accumulates executor storage pressure until LRU
eviction starts thrashing.

``CacheScope`` is that handle (it also frees the ``localCheckpoint``
blocks taken through it, see ``checkpoint_in``)::

    with CacheScope() as scope:
        pairs = minhash_near_duplicates(docs, cache_scope=scope)
        pairs.write.parquet(out)          # materialize INSIDE the scope
    # all intermediate caches are unpersisted here

Operators that accept ``cache_scope=None`` keep the fire-and-forget
behavior (caches linger until evicted) — acceptable for one-shot jobs,
not for services.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


class CacheScope:
    """Collects persisted DataFrames and local checkpoints;
    ``release()`` unpersists them all.

    Context-manager use unpersists on exit. ``release`` is idempotent and
    non-blocking (``unpersist(blocking=False)``): the blocks are dropped
    asynchronously, which is safe because nothing references them after
    the scope ends.
    """

    def __init__(self) -> None:
        self._frames: list[DataFrame] = []
        self._checkpoints: list[tuple[BlockRelease, set[int]]] = []

    def persist(self, df: DataFrame) -> DataFrame:
        """Persist ``df`` and track it for release."""
        self._frames.append(df)
        return df.persist()

    def checkpoint(self, df: DataFrame) -> DataFrame:
        """Eager ``localCheckpoint`` of ``df``; its blocks are tracked
        for release."""
        blocks = BlockRelease(df.sparkSession)
        out, ids = blocks.checkpoint(df)
        self._checkpoints.append((blocks, ids))
        return out

    def release(self) -> None:
        for f in self._frames:
            f.unpersist(blocking=False)
        for blocks, ids in self._checkpoints:
            blocks.free(ids)
        self._frames.clear()
        self._checkpoints.clear()

    def __enter__(self) -> "CacheScope":
        return self

    def __exit__(self, *exc) -> bool:
        self.release()
        return False


def persist_in(df: DataFrame, scope: CacheScope | None) -> DataFrame:
    """Persist ``df``, tracked in ``scope`` when one is given."""
    return scope.persist(df) if scope is not None else df.persist()


def checkpoint_in(df: DataFrame, scope: CacheScope | None) -> DataFrame:
    """Eager ``localCheckpoint`` of ``df``, its blocks freed by
    ``scope.release()`` when a scope is given."""
    return scope.checkpoint(df) if scope is not None else df.localCheckpoint(eager=True)


class BlockRelease:
    """Frees the RDD blocks created inside its ``with`` block.

    ``DataFrame.unpersist()`` does not free ``localCheckpoint`` blocks
    (they live in the RDD block store, not the relation cache), so a
    loop that checkpoints once per round or per micro-batch pins one
    RDD per iteration unless something releases it. On entry the scope
    records the ids of ``getPersistentRDDs``; on exit it unpersists
    every id that appeared since. ``checkpoint``/``free`` let a loop
    release blocks before the scope ends.

    Assumes one driver thread creates persistent RDDs while the scope
    is open: an RDD another thread persists in that window is freed
    with the scope's own.
    """

    def __init__(self, spark: SparkSession) -> None:
        self._jsc = spark.sparkContext._jsc

    def _ids(self) -> set[int]:
        return set(self._jsc.getPersistentRDDs().keySet().toArray())

    def checkpoint(self, df: DataFrame) -> tuple[DataFrame, set[int]]:
        """``df.localCheckpoint()`` and the ids of the blocks it made."""
        before = self._ids()
        out = df.localCheckpoint()
        return out, self._ids() - before

    def free(self, ids: set[int]) -> None:
        live = self._jsc.getPersistentRDDs()
        for rid in ids:
            rdd = live.get(rid)
            if rdd is not None:
                rdd.unpersist(False)

    def __enter__(self) -> "BlockRelease":
        self._before = self._ids()
        return self

    def __exit__(self, *exc) -> bool:
        self.free(self._ids() - self._before)
        return False
