"""Time the store write/read paths across batch sizes — W1/W2 slopes.

Usage: python tools/store_ladder.py [rows ...]   (default: 1M 10M)

bench.py pins W1 (pushx 1M) / W2 (range-read 1M) at one size; this
ladder re-times them at 10x to show the dense-rowid protocol
(`store.py:_dense_rowid_frame` — per-partition counts, driver
prefix-sum, offsets as a literal array (`store.prefix_offsets`), NO
shuffle and NO single-task stage)
holds its slope when the batch outgrows any single partition, and
compares four full-corpus read disciplines:

  unordered       getall(ordered=False) — plain scan, the analytics path
  orderBy         getall(ordered=True)  — global range sort (sampling
                  pass + full-data shuffle; the cost insertion-order
                  streaming consumers pay if they insist on one frame)
  pullx           pullx(0, rows) — the ordered range read over the whole
                  store: one task gathers and sorts the range, no
                  exchange (store.py:pullx); its slope against orderBy
                  is what the one-task sort costs as ranges grow
  export_ordered  per-file span walk (store.py:export_ordered) — zero
                  shuffle; at local scale its 1-job-per-file launch
                  overhead dominates, at production file sizes that
                  amortizes away and it is the only discipline whose
                  cost does NOT grow super-linearly with corpus size

Methodology (BASELINE.md §C/§D): one full-size warm-up push first
(codegen + parquet writer paths), then best-of-2 per cell; pushx
best-of-2 uses two fresh store directories (a push mutates state).
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def sample_df(spark, rows: int):
    from pyspark.sql import functions as F

    return spark.range(0, rows, 1, 32).select(
        F.col("id").cast("int").alias("my_number1"),
        F.concat(F.lit("Hello, World! 你好世界 "), F.col("id")).alias("my_string1"),
        (F.col("id") * 10).cast("int").alias("my_number2"),
        (F.col("id") % 2 == 0).alias("my_boolean1"),
        F.concat(F.lit("This is another longer string. "), F.col("id")).alias("my_string2"),
    )


def main() -> None:
    sizes = [int(float(a)) for a in sys.argv[1:]] or [1_000_000, 10_000_000]

    from vector_db_core_spark.session import get_spark
    from vector_db_core_spark.store import OrdinalStore

    spark = get_spark(app_name="store_ladder")
    spark.sparkContext.setLogLevel("ERROR")

    def push_once(rows: int):
        tmp = tempfile.mkdtemp(prefix="store_ladder_")
        store = OrdinalStore(spark, os.path.join(tmp, "s"))
        t0 = time.perf_counter()
        store.pushx(sample_df(spark, rows), deterministic_source=True)
        secs = time.perf_counter() - t0
        assert store.count() == rows
        return secs, store, tmp

    def _timed(fn) -> float:
        t0 = time.perf_counter()
        fn()
        return time.perf_counter() - t0

    def best_of_2(fn) -> float:
        return min(_timed(fn) for _ in range(2))

    _, _, warm_tmp = push_once(1_000_000)  # absorb codegen + writer paths
    shutil.rmtree(warm_tmp, ignore_errors=True)

    for rows in sizes:
        w1a, _, tmp_a = push_once(rows)
        shutil.rmtree(tmp_a, ignore_errors=True)
        w1b, store, tmp = push_once(rows)
        try:
            unordered = best_of_2(
                lambda: store.getall(ordered=False)
                .write.mode("overwrite")
                .format("noop")
                .save()
            )
            ordered = best_of_2(
                lambda: store.getall(ordered=True)
                .write.mode("overwrite")
                .format("noop")
                .save()
            )
            ranged = best_of_2(lambda: store.pullx(0, rows).write.mode("overwrite").format("noop").save())

            def export() -> None:
                n = 0
                for lo, hi, frame in store.export_ordered():
                    frame.write.mode("overwrite").format("noop").save()
                    n += hi - lo + 1
                assert n == rows

            exported = best_of_2(export)
            print(
                f"rows={rows:>11,}  w1_pushx={min(w1a, w1b):6.2f}s "
                f"(runs {w1a:.2f}/{w1b:.2f})  unordered={unordered:5.2f}s  "
                f"orderBy={ordered:5.2f}s  pullx={ranged:5.2f}s  export_ordered={exported:5.2f}s",
                flush=True,
            )
        finally:
            shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
