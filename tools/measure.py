"""Time registered queries from call to sink.

Library (``bench.py`` imports it):

  ``warm_up(spark, sf_dir)``  one untimed join+agg+sort that JIT-compiles
      the whole-stage codegen paths most queries share.
  ``time_query(spark, fn, sf_dir, name)``  seconds from calling the
      registered callable to the end of a ``noop``-format write of its
      result, and the rows that write produced.

Every query is timed the same way. A callable that does its work while
it is built (eager collects, iterative loops, streaming replays that
return an already-filled memory table, scratch builds) is charged for
that work; for a lazy query the call adds only plan construction. The
``noop`` sink executes the full plan on the executors and funnels
nothing through the driver.

CLI:

    python tools/measure.py SF_DIR[,SF_DIR...] name [name ...] [--runs N] [--plans DIR]

One untimed run per query on the first directory absorbs first-run
codegen compilation; ``--plans`` writes that run's formatted plan to
``DIR/<name>.txt``. Then each directory is timed ``--runs`` times and
the min, the median, every sample and the output rows are printed. A
slope (seconds per 10x data) is only a defect when the output rows do
not grow with it; the rows are printed so that call is mechanical.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time
from pathlib import Path


def warm_up(spark, sf_dir: str) -> None:
    """One join+agg+sort of the suite's common shape, untimed.

    A fresh JVM pays ~11 s of one-time compilation on its first complex
    plan (measured: q3 13.7 s cold vs 2.5 s steady); a long-running
    session pays it once per lifetime. Running it on a query that is
    not measured makes every timed number a first-run-in-session one.
    """
    from pyspark.sql import functions as F

    cust = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .groupBy("c_mktsegment")
        .agg(F.sum("o_totalprice").alias("s"), F.count("*").alias("n"))
        .orderBy(F.desc("s"))
        .collect()
    )


def time_query(spark, fn, sf_dir: str, name: str) -> tuple[float, int]:
    """Run ``fn(spark, sf_dir)`` to a ``noop`` sink under job group
    ``name``; return ``(seconds, rows)``.

    The rows come from an ``Observation`` on the same write, never a
    second ``count()``: re-executing a heavy plan in the same JVM was
    measured up to 25x slower than the write it followed. The cache is
    cleared afterwards because some queries ``persist()`` a shared
    intermediate (registry.py's consumer contract); without that the
    next sample would read Spark-materialized data.
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        t0 = time.perf_counter()
        obs = Observation()
        fn(spark, sf_dir).observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
            "overwrite"
        ).format("noop").save()
        secs = time.perf_counter() - t0
        rows = obs.get["rows"]
    finally:
        spark.catalog.clearCache()
        sc._jsc.clearJobGroup()
    return secs, rows


def main() -> int:
    ap = argparse.ArgumentParser(description="Time registered queries from call to sink.")
    ap.add_argument("sf_dirs", help="comma-separated fixture directories")
    ap.add_argument("names", nargs="+", help="registered query names")
    ap.add_argument("--runs", type=int, default=3, help="timed runs per directory")
    ap.add_argument("--plans", help="write each query's formatted plan to DIR/<name>.txt")
    args = ap.parse_args()
    if args.runs < 1:
        ap.error("--runs must be at least 1")
    sf_dirs = args.sf_dirs.split(",")

    import __spark_entry__ as entry
    from vector_db_core_spark.session import get_spark

    spark = get_spark(app_name="measure")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entry.queries()
    if args.plans:
        os.makedirs(args.plans, exist_ok=True)
    warm_up(spark, sf_dirs[0])

    failed = 0
    for name in args.names:
        fn = queries.get(name)
        if fn is None:
            print(f"{name}  ERROR unknown query", flush=True)
            failed += 1
            continue

        def planned(spark, sf_dir, fn=fn, name=name):
            df = fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
            Path(args.plans, f"{name}.txt").write_text(plan)
            return df

        try:
            time_query(spark, planned if args.plans else fn, sf_dirs[0], name)
            for sf_dir in sf_dirs:
                runs = [time_query(spark, fn, sf_dir, name) for _ in range(args.runs)]
                samples = [s for s, _ in runs]
                print(
                    f"{name}  {Path(sf_dir).name}: min {min(samples):.3f}s"
                    f" median {statistics.median(samples):.3f}s"
                    f" samples {'/'.join(f'{s:.3f}' for s in samples)}"
                    f" rows {runs[0][1]}",
                    flush=True,
                )
        except Exception as exc:  # noqa: BLE001 - one failing query must not stop the rest
            print(f"{name}  ERROR {type(exc).__name__}: {str(exc)[:200]}", flush=True)
            failed += 1
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    raise SystemExit(main())
