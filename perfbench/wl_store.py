"""``store``: the paper's record store under writes and reads together.

Set-up bulk-loads a fresh ``OrdinalStore`` with SampleData-shaped rows
in one ``pushx`` batch and runs one untimed warm-up cycle. Each cycle
then runs, on the same store:

1. ``append``: one bulk ``pushx`` of a JVM-generated batch;
2. ``buffer_flush``: rows pushed one by one into an ``IngestBuffer``
   until its threshold flushes them;
3. ``stream``: ``stream_append_to_store`` over a JSON file landed just
   before it, one file per micro-batch;
4. ``lookup``: single-ordinal ``pull_row`` reads, half uniform and half
   over the newest 10% of ordinals;
5. ``cache_warm``, ``batch_lookup``, ``batch_lookup_parquet``: pin the
   store with ``hot_table`` and read a batch of keys from it, then the
   same keys from parquet;
6. ``range_read``: an ordered ``pullx`` range, collected.

Every row's content is a function of its key (``my_number1``, written
zero-padded into the strings so every row has the same size) and the
seed, so every read is checked, after the read's time is taken. After
the loop, one stream epoch is replayed on purpose, the store is
reopened, and its length, ordinals, keys and contents are checked
against what was acknowledged.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time
from collections.abc import Callable

from layers import median

SCHEMA = "my_number1 INT, my_string1 STRING, my_number2 INT, my_boolean1 BOOLEAN, my_string2 STRING"
S1 = "Hello, World! 你好世界 "
S2 = "This is another longer string. "


class StoreWorkload:
    #: wall time of one cycle on an idle 4-vCPU host
    nominal_cycle_s = 5.0
    #: probes before the first operation and after each one
    probes_per_op = 1

    def __init__(self, run):
        self.run = run
        tiny = run.tiny
        self.batch = 2_000 if tiny else 50_000
        self.buffer_threshold = 50 if tiny else 250
        self.file_rows = 50 if tiny else 500
        self.lookups = 4
        self.batch_keys = 100 if tiny else 1_000
        self.range_rows = 500 if tiny else 10_000
        self.rng = random.Random(run.seed)
        self.salt = run.seed % 1000
        self.null_mod = run.seed % 7
        self.per_cycle = {
            "append": 1, "buffer_flush": 1, "stream": 1,
            "lookup": self.lookups, "cache_warm": 1, "batch_lookup": 1,
            "batch_lookup_parquet": 1, "range_read": 1,
        }
        root = os.path.join(run.work, "store")
        self.path = os.path.join(root, "data")
        self.landing = os.path.join(root, "landing")
        self.checkpoint = os.path.join(root, "checkpoint")
        self.next_key = 0
        self.acked_rows = 0
        self.acked_key_sum = 0
        self.stats: dict[str, list[float]] = {}

    # -- row content ----------------------------------------------------
    def row(self, k: int) -> dict:
        return {
            "my_number1": k,
            "my_string1": f"{S1}{k:09d}",
            "my_number2": k * 10 + self.salt,
            "my_boolean1": k % 2 == 0,
            "my_string2": None if k % 7 == self.null_mod else f"{S2}{k:09d}",
        }

    def row_ok(self, r) -> bool:
        return {k: r[k] for k in self.row(0)} == self.row(r["my_number1"])

    def _frame(self, start: int, n: int):
        from pyspark.sql import functions as F

        k = F.col("id")
        digits = F.lpad(k.cast("string"), 9, "0")
        return self.run.spark.range(start, start + n, 1, 4).select(
            k.cast("int").alias("my_number1"),
            F.concat(F.lit(S1), digits).alias("my_string1"),
            (k * 10 + self.salt).cast("int").alias("my_number2"),
            (k % 2 == 0).alias("my_boolean1"),
            F.when(k % 7 == self.null_mod, F.lit(None).cast("string"))
            .otherwise(F.concat(F.lit(S2), digits)).alias("my_string2"),
        )

    def _keys(self, n: int) -> range:
        keys = range(self.next_key, self.next_key + n)
        self.next_key += n
        return keys

    def _ack(self, keys) -> None:
        self.acked_rows += len(keys)
        self.acked_key_sum += sum(keys)

    def _note(self, key: str, value: float) -> None:
        self.stats.setdefault(key, []).append(value)

    def _files(self) -> int:
        return sum(f.endswith(".parquet") for f in os.listdir(self.path))

    # -- set-up ----------------------------------------------------
    def prepare(self) -> None:
        os.makedirs(self.landing, exist_ok=True)

    def setup(self) -> None:
        from vector_db_core_spark.store import OrdinalStore

        self.store = OrdinalStore(self.run.spark, self.path, schema=SCHEMA)
        keys = self._keys(self.batch)
        self.store.pushx(self._frame(keys.start, len(keys)))
        self._ack(keys)
        for kind, fn in self.cycle_ops(-1):
            ok = fn()
            self.run.check((ok() if callable(ok) else ok) is not False, f"warm-up {kind}")
        self.stats.clear()

    # -- the closed loop ---------------------------------------------
    def cycle_ops(self, cycle: int):
        yield "append", self.append
        yield "buffer_flush", self.buffer_flush
        keys = self._land(cycle)
        yield "stream", lambda: self.stream(keys)
        n = self.store.count()
        hot_lo = int(n * 0.9)
        keys = [self.rng.randrange(n) for _ in range(self.lookups // 2)]
        keys += [self.rng.randrange(hot_lo, n) for _ in range(self.lookups - len(keys))]
        for i in keys:
            yield "lookup", lambda i=i: self.lookup(i)
        yield "cache_warm", self.cache_warm
        batch = sorted(self.rng.sample(range(n), self.batch_keys))
        yield "batch_lookup", lambda: self.batch_lookup(self.hot.df, batch)
        yield "batch_lookup_parquet", lambda: self.batch_lookup(self.store.getall(ordered=False), batch)
        start = self.rng.randrange(0, n - self.range_rows)
        yield "range_read", lambda: self.range_read(start)

    def append(self) -> bool:
        keys = self._keys(self.batch)
        files = self._files()
        with self.run.tracer.span("pushx", "store"):
            t = time.perf_counter()
            first = self.store.pushx(self._frame(keys.start, len(keys)))
            self._note("pushx_s", time.perf_counter() - t)
        self._note("files_per_append", self._files() - files)
        ok = first == self.acked_rows
        self._ack(keys)
        return ok

    def buffer_flush(self) -> bool:
        from vector_db_core_spark.streaming.ingest import IngestBuffer

        buf = IngestBuffer(self.store, threshold=self.buffer_threshold)
        keys = self._keys(self.buffer_threshold)
        for k in keys[:-1]:
            t = time.perf_counter()
            buf.push(self.row(k))
            self._note("accept_us", (time.perf_counter() - t) * 1e6)
        with self.run.tracer.span("flush", "ingest"):
            t = time.perf_counter()
            buf.push(self.row(keys[-1]))
            self._note("flush_s", time.perf_counter() - t)
        self._ack(keys)
        return buf.lens()[0] == 0

    def _land(self, cycle: int) -> range:
        """Write the next stream input file into the landing directory."""
        keys = self._keys(self.file_rows)
        tmp = os.path.join(os.path.dirname(self.landing), "landing.tmp")
        with open(tmp, "w") as out:
            for k in keys:
                out.write(json.dumps(self.row(k), ensure_ascii=False) + "\n")
        os.rename(tmp, os.path.join(self.landing, f"c{cycle + 1:03d}.json"))
        return keys

    def stream(self, keys: range) -> Callable[[], bool]:
        from vector_db_core_spark.streaming.ingest import stream_append_to_store

        before = self.acked_rows
        with self.run.tracer.span("stream", "ingest"):
            q = stream_append_to_store(self.run.spark, self.landing, self.store, SCHEMA,
                                       self.checkpoint, max_files_per_trigger=1)
            q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        batches = [p for p in q.recentProgress if p.numInputRows > 0]
        self._note("stream_batches", len(batches))
        for p in batches:
            self._note("stream_batch_s", p.durationMs.get("triggerExecution", 0) / 1e3)
        self._ack(keys)
        return lambda: self.store.count() == before + len(keys)

    def lookup(self, i: int) -> Callable[[], bool]:
        with self.run.tracer.span("pull_row", "store"):
            t = time.perf_counter()
            r = self.store.pull_row(i)
            self._note("lookup_ms", (time.perf_counter() - t) * 1e3)
        return lambda: r["rowid"] == i and self.row_ok(r)

    def cache_warm(self) -> bool:
        from vector_db_core_spark.cache import hot_table

        if getattr(self, "hot", None) is not None:
            self.hot.release()
        with self.run.tracer.span("hot_table", "cache"):
            t = time.perf_counter()
            self.hot = hot_table(self.store.getall(ordered=False), warm=True)
            self._note("cache_warm_s", time.perf_counter() - t)
        infos = self.run.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        self._note("pinned_bytes", sum(infos[i].memSize() + infos[i].diskSize() for i in range(len(infos))))
        return True

    def batch_lookup(self, df, keys: list[int]) -> Callable[[], bool]:
        from pyspark.sql import functions as F

        rows = df.where(F.col("rowid").isin(keys)).collect()
        return lambda: sorted(r["rowid"] for r in rows) == keys and all(self.row_ok(r) for r in rows)

    def range_read(self, start: int) -> Callable[[], bool]:
        with self.run.tracer.span("pullx", "store"):
            t = time.perf_counter()
            rows = self.store.pullx(start, self.range_rows).collect()
            self._note("range_s", time.perf_counter() - t)
        return lambda: [r["rowid"] for r in rows] == list(range(start, start + self.range_rows)) and all(
            self.row_ok(r) for r in rows)

    # -- after the loop ----------------------------------------------
    def verify(self) -> None:
        from pyspark.sql import functions as F

        from vector_db_core_spark.store import OrdinalStore

        run = self.run
        if getattr(self, "hot", None) is not None:
            self.hot.release()
            self.hot = None
        # replay the last stream epoch: drop its commit mark and restart
        commits = os.path.join(self.checkpoint, "commits")
        last = max(int(f) for f in os.listdir(commits) if f.isdigit())
        for f in (str(last), f".{last}.crc"):
            if os.path.exists(os.path.join(commits, f)):
                os.remove(os.path.join(commits, f))
        before = self.store.count()
        from vector_db_core_spark.streaming.ingest import stream_append_to_store

        q = stream_append_to_store(run.spark, self.landing, self.store, SCHEMA,
                                   self.checkpoint, max_files_per_trigger=1)
        q.awaitTermination()
        replayed = sum(p.numInputRows > 0 for p in q.recentProgress)
        skipped = replayed >= 1 and self.store.count() == before and q.exception() is None
        run.layer["ingest.replay_skipped"] = float(skipped)
        run.check(skipped, "replayed stream epoch adds no rows")

        t = time.perf_counter()
        reopened = OrdinalStore(run.spark, self.path, schema=SCHEMA)
        n = reopened.count()
        run.layer["store.count_reopen_s"] = time.perf_counter() - t
        run.check(n == self.acked_rows, f"reopened count {n} == acknowledged {self.acked_rows}")

        df = reopened.getall(ordered=False)
        expected = self._frame(0, self.next_key)
        if run.args.inject_failure:
            # the self-check's wrong row: one key's expected content differs
            expected = expected.withColumn(
                "my_number2", F.when(F.col("my_number1") == 1, F.col("my_number2") + 1)
                .otherwise(F.col("my_number2")))
        expect = expected.columns
        mismatch = " OR ".join(f"NOT (`{c}` <=> e_{c})" for c in expect)
        agg = (
            df.join(
                expected.select([F.col(c).alias(f"e_{c}") for c in expect]),
                F.col("my_number1") == F.col("e_my_number1"), "left")
            .agg(
                F.count("*").alias("n"),
                F.countDistinct("rowid").alias("rowids"),
                F.min("rowid").alias("lo"), F.max("rowid").alias("hi"),
                F.countDistinct("my_number1").alias("keys"),
                F.sum(F.col("my_number1").cast("long")).alias("key_sum"),
                F.sum(F.expr(f"CASE WHEN {mismatch} THEN 1 ELSE 0 END")).alias("bad"),
                F.sum(F.octet_length("my_string1") + F.coalesce(F.octet_length("my_string2"), F.lit(0))
                      + 9).alias("user_bytes"),
            ).collect()[0]
        )
        run.layer["ingest.duplicate_rowids"] = float(agg["n"] - agg["rowids"])
        run.check(agg["n"] == n and agg["rowids"] == n and agg["lo"] == 0 and agg["hi"] == n - 1,
                  f"rowids are exactly 0..n-1: {agg}")
        run.check(agg["keys"] == n and agg["key_sum"] == self.acked_key_sum,
                  "stored keys are the acknowledged keys")
        run.check(agg["bad"] == 0, f"content matches the generator ({agg['bad']} rows differ)")
        stored = sum(os.path.getsize(os.path.join(self.path, f))
                     for f in os.listdir(self.path) if f.endswith(".parquet"))
        run.layer["store.stored_bytes_per_user_byte"] = stored / agg["user_bytes"]
        run.layer["store.files"] = float(self._files())

    def layer_metrics(self, samples, totals, med: dict[str, float]) -> dict:
        st = self.stats
        traced = [s for s in samples if s.traced and s.span is not None]

        def span_med(kind: str, key: str) -> float:
            return median(totals[s.span].get(key, 0) for s in traced if s.kind == kind)

        lookups = sorted(st.get("lookup_ms", []))
        p90 = lookups[int(0.9 * (len(lookups) - 1))] if lookups else 0.0
        pushx_s = median(st.get("pushx_s", []))
        range_s = median(st.get("range_s", []))
        flush_total = median(s.seconds for s in samples if s.kind == "buffer_flush" and s.traced)
        stream_s = med.get("stream", 0.0)
        return {
            "store.pushx_s": pushx_s,
            "store.pushx_jobs": span_med("append", "jobs"),
            "store.files_per_append": median(st.get("files_per_append", [])),
            "store.append_rows_per_s": self.batch / pushx_s if pushx_s else 0.0,
            "store.lookup_p50_ms": median(lookups),
            "store.lookup_p90_ms": p90,
            "store.lookup_samples": float(len(lookups)),
            "store.pull_jobs": span_med("lookup", "jobs"),
            "store.rows_read_per_lookup": span_med("lookup", "input_records"),
            "store.range_read_rows_per_s": self.range_rows / range_s if range_s else 0.0,
            "store.rows_read_per_range_row": span_med("range_read", "input_records") / self.range_rows,
            "ingest.buffer_rows_per_s": self.buffer_threshold / flush_total if flush_total else 0.0,
            "ingest.accept_us": median(st.get("accept_us", [])),
            "ingest.flush_s": median(st.get("flush_s", [])),
            "ingest.flush_jobs": span_med("buffer_flush", "jobs"),
            "ingest.stream_rows_per_s": self.file_rows / stream_s if stream_s else 0.0,
            "ingest.stream_batch_s": median(st.get("stream_batch_s", [])),
            "ingest.stream_batches": median(st.get("stream_batches", [])),
            "cache.warm_s": median(st.get("cache_warm_s", [])),
            "cache.hot_lookup_ms": med.get("batch_lookup", 0.0) * 1e3,
            "cache.parquet_lookup_ms": med.get("batch_lookup_parquet", 0.0) * 1e3,
            "cache.pinned_bytes": median(st.get("pinned_bytes", [])),
        }

    def close(self) -> None:
        shutil.rmtree(os.path.dirname(self.path), ignore_errors=True)
