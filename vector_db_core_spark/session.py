"""SparkSession factory tuned for this engine.

Local-mode testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default all
cores); the same configs are the ones we would ship on a 1000-executor
cluster — AQE on (runtime re-planning, skew-join splitting, partition
coalescing), UTC session time (oracle comparability), Arrow transfer
for the few pandas-UDF operators.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def host_sizing() -> tuple[str, str]:
    """``(master, driver_memory)`` for a local session on this host:
    ``local[$SPARK_GRAFT_CPUS]`` (default all cores) and
    ``$SPARK_GRAFT_DRIVER_MEM`` (default 16g). Shared by ``get_spark``
    and the tools that build a plain session of their own."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    master = f"local[{cpus}]" if cpus else "local[*]"
    return master, os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")


def get_spark(app_name: str = "vector_db_core_spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``spark.sql.shuffle.partitions`` defaults to the local core count —
    on a real cluster this would be ~2-3x total executor cores, and AQE
    coalesces the excess at runtime anyway.
    """
    master, driver_memory = host_sizing()
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
        shuffle_partitions = int(cpus) if cpus.isdigit() else (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Keep persisted plans' output partitioning VISIBLE to
        # consumers (Spark 3.4+ defaults this to true, wrapping cached
        # subtrees in AdaptiveSparkPlan and hiding their partitioning,
        # so every join against a deliberately repartition(k, key)'d
        # cache re-exchanged BOTH sides — measured in the executed
        # triangle/pagerank plans). Two loops cache explicitly
        # partitioned state and reuse that partitioning: PageRank's
        # edge cache on src and the triangle ops' oriented edges on
        # src. Quiet-host alternating A/B: pagerank med 9.47 -> 7.81 s,
        # triangles flat. The cost — no AQE coalescing inside cached
        # builds — is deliberate: the builds pin their own widths.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "false")
        # Let the planner pick shuffled-hash join when its size
        # conditions are met instead of always preferring sort-merge.
        # PageRank and k-core join a large cached edge table against a
        # per-iteration state frame; SMJ re-SORTS the 2|E| cached edge
        # rows every iteration, SHJ does not. Quiet-host alternating
        # A/B (two windows): pagerank med 9.14 -> 7.57 s / min
        # 10.27 -> 6.65, kcore flat-to-better, nothing worse.
        # The hash is built on the CACHED EDGE side, not the small
        # state: plans/r15/graph_pagerank_iteration_after_shj.txt shows
        # `ShuffledHashJoin Inner BuildLeft` over the 2.39M-row edge
        # cache. An SHJ build side cannot spill, so each task must hold
        # its edge partition's hash table in memory; the planner's
        # per-partition size gate works from estimated statistics.
        # Keeping this conf engine-wide is an open decision that needs
        # an A/B on every workload it touches.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
