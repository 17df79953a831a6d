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
  R3 manual warm-up  → ``warm=True`` runs a cheap materializing action
                       so the first real query hits memory
                       (add_bulk_to_cache's role).
  C1 composition     → orthogonal to the streaming sink, exactly like
                       the reference's stackable decorators: a table
                       fed by streaming/ingest can be hot_table'd by
                       readers independently.

Refresh cost of a hot table over a store that keeps growing: every
append to a path (``pushx``, an ``IngestBuffer`` flush, a stream
micro-batch) makes Spark's ``recacheByPath`` drop the cached data of
each plan that reads that path. The cache entry stays registered, so
the next read whose plan matches it — a ``pull`` or ``getall`` on the
same store — re-materializes the WHOLE table before it answers, and
that one read costs a full scan instead of a pruned one. In a cycle of
writes followed by point reads, the first read after the writes reads
every row of the store (about half the rows the ``store`` benchmark
workload reads per pass). Where writes and reads interleave, release
the hot table before writing and pin it again when a read burst
starts.
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
            # materialize all partitions now (R3 warm-up): count() is
            # the cheapest full-scan action (no row transfer)
            self.df.count()

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
