"""Hot-table cache policy — the reference's read cache, Spark-first.

The reference's ``ReadableCache`` (/root/reference/src/cache/
readable_cache.rs) is an LRU decorator over the engine: point reads
probe and populate a per-ROW cache (cap MAX_RECACHE_ITEMS=1,024,000,
:14,54-63), bulk reads BYPASS it entirely (``getting_lot``, :83-85),
and ``add_bulk_to_cache`` warms it manually (:97-108).

Spark's unit of caching is the partition (block manager, LRU eviction
under memory pressure), not the row — a documented deviation
(SURVEY.md §7). The policy mapping:

  R1 probe/populate  → ``hot_table()``: persist MEMORY_AND_DISK; the
                       block manager serves repeated scans and evicts
                       LRU under pressure, like the capped LruCache.
  R2 bulk bypass     → don't cache one-shot bulk scans — on Spark
                       that's simply *not calling* hot_table for them;
                       the helper exists so the choice is explicit.
  R3 manual warm-up  → ``warm=True`` writes the pinned frame to the
                       ``noop`` sink, one job that caches every
                       partition and shuffles nothing, so the first
                       real query hits memory (add_bulk_to_cache's
                       role).
  C1 composition     → orthogonal to the streaming sink, exactly like
                       the reference's stackable decorators: a table
                       fed by streaming/ingest can be hot_table'd by
                       readers independently.

Refresh cost: a pin over an ``OrdinalStore`` read is the snapshot at
its length. Every store read carries the committed length as a
literal (``rowid < length``), and ``pushx`` has Spark write only into a
staging directory, so Spark's ``recacheByPath`` never drops the pin on
an append. After an append the pin keeps answering reads at its own
length from memory; reads at the new length no longer match it, and
the store answers them from the ordinal-named files (one parquet page
of one file for a point read: one task, at most 1,000 rows, where an
answer from the pin would scan every cached partition). Pin again when
a read burst should see the new rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel


class HotTable:
    """A pinned DataFrame with explicit lifecycle.

    Use as a context manager or call ``release()`` — matching the
    reference cache's deterministic Drop, instead of leaking persisted
    blocks until session end."""

    def __init__(self, df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
                 warm: bool = False):
        self.df = df.persist(level)
        if warm:
            # materialize all partitions now (R3 warm-up) through the
            # noop sink: one job, one task per partition, nothing
            # shuffled. count() caches the same partitions in 3 jobs on
            # a 22-file store: AQE builds the cache as a stage of its
            # own, then a partial aggregate writes an exchange and a
            # final one reads it.
            self.df.write.format("noop").mode("overwrite").save()

    def __enter__(self) -> DataFrame:
        return self.df

    def __exit__(self, *exc) -> None:
        self.release()

    def release(self) -> None:
        self.df.unpersist()


def hot_table(df: DataFrame, warm: bool = False) -> HotTable:
    """Pin a frequently-re-read table in executor memory (R1/R3).

    Policy guidance, mirroring the reference's R2 rule: cache tables
    that many queries re-read (dimension tables, a working subset),
    never a one-shot bulk scan — caching what you read once just
    evicts what you read often.
    """
    return HotTable(df, warm=warm)
