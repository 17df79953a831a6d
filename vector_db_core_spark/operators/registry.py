"""Query registry — the bridge to the driver contract.

Every operator in the engine registers a named query callable
``(spark, sf_dir) -> DataFrame`` together with the equivalent ANSI SQL
the DuckDB oracle runs on the same parquet tables, so every registered
query hash-checks (``set(QUERIES) == set(ORACLE)``).
``__spark_entry__.queries()`` / ``oracle_sql()`` read these dicts.

Oracle-matching rules used throughout (see functions/exact.py):
  * identical column aliases on both sides (driver sorts by name);
  * float aggregates computed in exact DECIMAL then cast to DOUBLE,
    so results are order-independent and bit-identical;
  * type-normalizing CASTs in the SQL where DuckDB widens differently
    (count/length/year → BIGINT vs Spark's INT, etc.).

Consumer contract — clearCache after each query: a handful of
operators persist() a shared intermediate that the returned DataFrame
reads more than once (the DSIR / LM-scoring doc-term-frequency table,
the exact-PCA covariance cells, the exact-PageRank final ranks).
Unpersisting inside the operator would forfeit the reuse the persist
exists for, so release is the CALLER's job: any long-lived consumer
iterating the registry (bench.py and tools/measure.py through
``measure.time_query``, tools/oracle_sweep.py, external consumers of
``__spark_entry__``, tests via the oracle replica) must call
``spark.catalog.clearCache()`` after materializing each query, or
cached blocks accumulate for the session lifetime. All in-repo
consumers do; the cached tables are reduction-
sized (vocab / |labels|·d² / |nodes| rows), so even a consumer that
skips the call degrades by bounded memory, not correctness.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}


def register(name: str, oracle: str) -> Callable[[QueryFn], QueryFn]:
    """Decorator: add a query and its DuckDB oracle SQL to the registry."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = fn
        ORACLE[name] = oracle
        return fn

    return deco
