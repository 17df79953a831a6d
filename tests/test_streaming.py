"""Streaming ingest (W1/W2 analogs) — batch-replay equality is the
correctness oracle the DuckDB harness can't provide for streams:
streaming output over closed data must equal the batch computation."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE
from vector_db_core_spark.operators import QUERIES
from vector_db_core_spark.store import OrdinalStore
from vector_db_core_spark.streaming import (
    IngestBuffer,
    dedup_within_watermark,
    stream_append_to_store,
    windowed_event_counts,
)

SCHEMA = "my_number1 INT, my_string1 STRING, my_number2 INT"


def _write_landing_files(tmp_path, n_files=4, rows_per_file=100):
    landing = tmp_path / "landing"
    landing.mkdir()
    i = 0
    for f in range(n_files):
        with open(landing / f"batch_{f:04d}.json", "w") as fh:
            for _ in range(rows_per_file):
                fh.write(
                    json.dumps(
                        {"my_number1": i, "my_string1": f"row {i}", "my_number2": i * 10}
                    )
                    + "\n"
                )
                i += 1
    return str(landing), i


def test_stream_append_equals_batch(spark, tmp_path):
    """W1 replay: streaming the landing files into the store produces
    exactly the rows a batch read sees, with dense continuing rowids."""
    landing, total = _write_landing_files(tmp_path)
    store = OrdinalStore(spark, str(tmp_path / "store"), schema=SCHEMA)
    q = stream_append_to_store(
        spark,
        landing,
        store,
        schema=SCHEMA,
        checkpoint_dir=str(tmp_path / "ckpt"),
        fmt="json",
        available_now=True,
        max_files_per_trigger=1,  # force multiple micro-batches (flushes)
    )
    q.awaitTermination()
    assert store.count() == total
    got = store.getall().select("rowid", "my_number1").collect()
    assert [r.rowid for r in got] == list(range(total))  # dense, ordered
    # payload equality vs a plain batch read of the same files
    batch = {
        (r.my_number1, r.my_string1, r.my_number2)
        for r in spark.read.schema(SCHEMA).json(landing).collect()
    }
    stream_rows = {
        (r.my_number1, r.my_string1, r.my_number2)
        for r in store.getall(ordered=False).drop("rowid").collect()
    }
    assert stream_rows == batch


def test_stream_append_continues_after_restart(spark, tmp_path):
    """New files after a stop are picked up by a restarted query
    (same checkpoint) and ordinals continue."""
    landing, total = _write_landing_files(tmp_path, n_files=2, rows_per_file=50)
    store = OrdinalStore(spark, str(tmp_path / "store"), schema=SCHEMA)
    ckpt = str(tmp_path / "ckpt")
    stream_append_to_store(
        spark, landing, store, SCHEMA, ckpt, available_now=True
    ).awaitTermination()
    assert store.count() == 100
    # land two more files, restart
    with open(os.path.join(landing, "batch_9998.json"), "w") as fh:
        for i in range(100, 130):
            fh.write(json.dumps({"my_number1": i, "my_string1": f"row {i}", "my_number2": i * 10}) + "\n")
    stream_append_to_store(
        spark, landing, store, SCHEMA, ckpt, available_now=True
    ).awaitTermination()
    assert store.count() == 130
    rowids = [r.rowid for r in store.getall().select("rowid").collect()]
    assert rowids == list(range(130))


def test_ingest_buffer_union_view(spark, tmp_path):
    store = OrdinalStore(spark, str(tmp_path / "store"), schema=SCHEMA)
    buf = IngestBuffer(store, threshold=100)
    # seed the store with committed rows
    store.pushx([{"my_number1": i, "my_string1": f"c{i}", "my_number2": i} for i in range(50)])
    # buffer below threshold: stays pending, read() unions it in
    buf.pushx([{"my_number1": 50 + i, "my_string1": f"p{i}", "my_number2": 0} for i in range(30)])
    assert buf.lens() == (30, 50, 80)
    view = buf.read()
    rows = view.orderBy("rowid").collect()
    assert [r.rowid for r in rows] == list(range(80))  # provisional ids continue
    assert rows[49].my_string1 == "c49" and rows[50].my_string1 == "p0"
    # range read across the disk/buffer boundary — the 3-way split case
    mid = view.where(F.col("rowid").between(45, 54)).orderBy("rowid").collect()
    assert [r.my_string1 for r in mid] == [f"c{i}" for i in range(45, 50)] + [
        f"p{i}" for i in range(5)
    ]
    # crossing the threshold auto-flushes
    buf.pushx([{"my_number1": 80 + i, "my_string1": f"q{i}", "my_number2": 0} for i in range(70)])
    assert buf.lens()[0] == 0  # drained
    assert store.count() == 150
    # the flush committed the pending rows under the provisional ids read() showed
    committed = store.pullx(50, 30).select(*view.columns).collect()
    assert [r.asDict() for r in committed] == [r.asDict() for r in rows[50:]]
    # close() flushes the remainder (Drop analog)
    buf.push({"my_number1": 150, "my_string1": "last", "my_number2": 0})
    assert buf.close() == 1
    assert store.count() == 151 and buf.lens() == (0, 151, 151)


def test_ingest_buffer_read_starts_no_python_worker(spark, tmp_path):
    """The pending rows of the union view enter Spark as Arrow batches:
    no PythonRDD in the view's lineage, and the provisional ordinals
    still continue the store's in push order."""
    store = OrdinalStore(spark, str(tmp_path / "store"), schema=SCHEMA)
    store.pushx([{"my_number1": i, "my_string1": f"c{i}", "my_number2": i} for i in range(5)])
    buf = IngestBuffer(store, threshold=100)
    buf.pushx([{"my_number1": 5 + i, "my_string1": f"p{i}"} for i in range(7)])
    view = buf.read()
    lineage = view._jdf.queryExecution().toRdd().toDebugString()
    assert "ParallelCollectionRDD" in lineage and "PythonRDD[" not in lineage, lineage
    rows = view.orderBy("rowid").collect()
    assert [(r.rowid, r.my_number1) for r in rows] == [(i, i) for i in range(12)]
    assert rows[-1].my_string1 == "p6" and rows[-1].my_number2 is None


def _events_landing(spark, tmp_path, n_files=3):
    """Re-land the events fixture as micro-batch parquet files with
    plain µs timestamps (the fixture's TIMESTAMP(NANOS) doesn't matter
    once re-written by Spark)."""
    from vector_db_core_spark.sources import load_table

    events = load_table(spark, SF_ORACLE, "events").select(
        "event_id", "ts", "event_type", "value", "user_id"
    )
    landing = str(tmp_path / "events_landing")
    events.repartition(n_files).write.mode("overwrite").parquet(landing)
    return events, landing


def test_windowed_agg_stream_replays_batch(spark, tmp_path):
    """Watermarked tumbling-window aggregate over the closed stream ==
    the same aggregate computed in batch (complete-mode memory sink)."""
    events, landing = _events_landing(spark, tmp_path)
    schema = "event_id BIGINT, ts TIMESTAMP, event_type STRING, value DOUBLE"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    agg = windowed_event_counts(stream, window="6 hours", watermark="1 hour")
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.window_start, r.window_end, r.event_type): (r.n_events, r.total_value)
        for r in spark.table("win_counts").collect()
    }
    expect = {
        (r.window_start, r.window_end, r.event_type): (r.n_events, r.total_value)
        for r in windowed_event_counts(events, window="6 hours", watermark=None).collect()
    }
    assert got == expect and len(got) > 0


def test_dedup_within_watermark_drops_duplicates(spark, tmp_path):
    """Duplicated landing data → stateful streaming dedup emits each
    key exactly once (replay check vs batch distinct)."""
    events, _ = _events_landing(spark, tmp_path)
    sample = events.limit(200)
    landing = str(tmp_path / "dup_landing")
    # land the same rows twice, in different files
    sample.coalesce(1).write.mode("overwrite").parquet(landing)
    sample.coalesce(1).write.mode("append").parquet(landing)
    schema = "event_id BIGINT, ts TIMESTAMP, event_type STRING, value DOUBLE"
    stream = spark.readStream.schema(schema).parquet(landing)
    deduped = dedup_within_watermark(stream, ["event_id"], ts_col="ts", watermark="24 hours")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table("dedup_out").collect()
    assert len(out) == 200  # each event_id exactly once
    assert len({r.event_id for r in out}) == 200


def test_c1_stacked_buffer_cache_composition(spark, tmp_path):
    """C1 (SURVEY §2.1): the reference stacks ReadableCache ∘
    WritableCache ∘ engine as independent decorators
    (cache_engine_performance_test.rs:163-223). The Spark composition
    is the same two orthogonal wrappers over one OrdinalStore:
    IngestBuffer on the write side, hot_table pinning on the read side
    — a pinned reader keeps serving while the buffer accepts and
    flushes, and the union view stacks ON TOP of the committed data
    the pinned frame was built from."""
    from vector_db_core_spark.cache import hot_table

    store = OrdinalStore(spark, str(tmp_path / "s"), schema=SCHEMA)
    buf = IngestBuffer(store, threshold=10_000)
    store.pushx([{"my_number1": i, "my_string1": f"c{i}", "my_number2": i} for i in range(100)])
    with hot_table(store.getall(ordered=False), warm=True) as hot:
        # repeated point reads off the pinned frame (R1 over the stack)
        for k in (3, 97, 41):
            assert hot.where(F.col("my_number1") == k).collect()[0].my_string1 == f"c{k}"
        # writes keep flowing through the buffer meanwhile (W1 side)
        buf.pushx([{"my_number1": 100 + i, "my_string1": f"p{i}", "my_number2": 0} for i in range(20)])
        assert buf.lens() == (20, 100, 120)
        # the union view composes: committed + pending, ordinals dense
        view = buf.read()
        assert view.count() == 120
        assert [r.rowid for r in view.orderBy("rowid").collect()] == list(range(120))
        # flush-through: drain the buffer, the stacked read sees it all
        buf.close()
        assert store.count() == 120
    # after release, the store itself still serves (cache was a pin,
    # not a copy)
    assert store.pull_row(119).my_string1 == "p19"


def test_pushx_txn_skips_replayed_epoch(spark, tmp_path):
    """Idempotent epoch commit: re-running pushx with an already-
    committed (stream_id, epoch) is a no-op (-1), a NEWER epoch
    appends, and the epoch mark survives a reopen (it lives in the
    same atomic _meta.json rename as the length header)."""
    store = OrdinalStore(spark, str(tmp_path / "s"), schema="a INT")
    rows = [{"a": i} for i in range(10)]
    assert store.pushx(rows, txn=("ck", 0)) == 0
    assert store.count() == 10
    # replay of epoch 0 → skipped, nothing appended
    assert store.pushx(rows, txn=("ck", 0)) == -1
    assert store.count() == 10
    # an older epoch replaying late is also skipped
    assert store.pushx(rows, txn=("ck", -5)) == -1
    # next epoch appends with continuing ordinals
    assert store.pushx(rows, txn=("ck", 1)) == 10
    assert store.count() == 20
    # independent stream ids don't interfere
    assert store.pushx(rows, txn=("other", 0)) == 20
    # reopen: marks persisted
    reopened = OrdinalStore(spark, str(tmp_path / "s"), schema="a INT")
    assert reopened.last_committed_epoch("ck") == 1
    assert reopened.last_committed_epoch("other") == 0
    assert reopened.pushx(rows, txn=("ck", 1)) == -1
    assert reopened.count() == 30


def test_stream_restart_does_not_duplicate(spark, tmp_path):
    """W1 restart: running the availableNow stream twice over the same
    landing dir + checkpoint appends each file exactly once, and a
    simulated replay of the last epoch (as after a crash between
    checkpoint write and foreachBatch commit) is skipped."""
    landing, total = _write_landing_files(tmp_path, n_files=2)
    store = OrdinalStore(spark, str(tmp_path / "store"), schema=SCHEMA)
    ck = str(tmp_path / "ck")
    q = stream_append_to_store(spark, landing, store, SCHEMA, ck)
    q.awaitTermination(120)
    assert store.count() == total
    # restart over the same checkpoint: no new files, no duplicates
    q2 = stream_append_to_store(spark, landing, store, SCHEMA, ck)
    q2.awaitTermination(120)
    assert store.count() == total
    # crash-replay simulation: the sink re-offers the last epoch
    last = store.last_committed_epoch(ck)
    assert last >= 0
    replay = spark.read.schema(SCHEMA).json(landing)
    assert store.pushx(replay, txn=(ck, last)) == -1
    assert store.count() == total


def test_session_window_stream_replays_batch(spark, tmp_path):
    """Watermarked session-window aggregate over a TIME-ORDERED closed
    stream == the same sessionization computed in batch: with in-order
    arrival nothing is watermark-late, so merging/extending session
    state across micro-batches must converge exactly (out-of-order
    arrival beyond the watermark is allowed to differ — that is the
    watermark contract, tested by the tumbling/dedup cases)."""
    import os
    import time

    from vector_db_core_spark.sources import load_table
    from vector_db_core_spark.streaming import session_event_counts

    events = load_table(spark, SF_ORACLE, "events").select(
        "event_id", "ts", "event_type", "value", "user_id"
    )
    lo, hi = events.agg(F.min("ts"), F.max("ts")).first()
    span = (hi - lo) / 3
    landing = str(tmp_path / "sess_landing")
    for i in range(3):
        a = lo + span * i
        b = hi if i == 2 else lo + span * (i + 1)
        part = events.where(
            (F.col("ts") >= a) & (F.col("ts") <= b if i == 2 else F.col("ts") < b)
        )
        part.coalesce(1).write.mode("append").parquet(landing)
        # file source orders by modification time: make arrival == event order
        t = time.time() - 300 + i * 60
        for f in os.listdir(landing):
            fp = os.path.join(landing, f)
            if f.endswith(".parquet") and os.path.getmtime(fp) > t:
                os.utime(fp, (t, t))
    schema = "event_id BIGINT, ts TIMESTAMP, event_type STRING, value DOUBLE, user_id BIGINT"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    agg = session_event_counts(stream, gap="30 minutes", watermark="1 hour")
    q = (
        agg.writeStream.format("memory")
        .queryName("sess_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.session_start, r.session_end, r.user_id): (r.n_events, r.total_value)
        for r in spark.table("sess_counts").collect()
    }
    expect = {
        (r.session_start, r.session_end, r.user_id): (r.n_events, r.total_value)
        for r in session_event_counts(events, gap="30 minutes", watermark=None).collect()
    }
    assert got == expect and len(got) > 0


def test_interval_join_stream_replays_batch(spark, tmp_path):
    """Stream-stream interval join (purchases within 6h of a click,
    same user) over the closed stream == the same join in batch. The
    watermark + range condition bound the state store; availableNow
    drains the landing files as micro-batches."""
    from vector_db_core_spark.streaming import interval_join_followups

    events, landing = _events_landing(spark, tmp_path)
    schema = "event_id BIGINT, ts TIMESTAMP, event_type STRING, value DOUBLE, user_id BIGINT"

    def split(df):
        return (
            df.where(F.col("event_type") == "click"),
            df.where(F.col("event_type") == "purchase"),
        )

    sl, sr = split(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(landing)
    )
    # the landing files are round-robin partitioned, so every file
    # spans the full 30-day fixture range: a short watermark would
    # (correctly!) drop most of files 2-3 as late after the first
    # micro-batch advances it. Equality with batch needs a horizon
    # covering the whole closed stream; the short-watermark eviction
    # behavior is the documented semantics, not what's tested here.
    joined = interval_join_followups(sl, sr, within="6 hours", watermark="40 days")
    q = (
        joined.writeStream.format("memory")
        .queryName("ij")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (r.user_id, r.first_ts, r.followup_ts) for r in spark.table("ij").collect()
    )
    bl, br = split(events)
    expect = sorted(
        (r.user_id, r.first_ts, r.followup_ts)
        for r in interval_join_followups(bl, br, within="6 hours").collect()
    )
    assert got == expect and len(got) > 100


def test_stateful_cents_totals_batch_split_invariant(spark, tmp_path):
    """The custom stateful operator's exactness claim: integer-cents
    state merges are associative, so the FINAL per-user totals are
    identical whether the replay runs as one micro-batch or one file
    per trigger — and equal the batch groupBy answer exactly."""
    from vector_db_core_spark.streaming.stateful import running_user_totals_cents

    events, landing = _events_landing(spark, tmp_path, n_files=4)
    schema = "event_id BIGINT, ts TIMESTAMP, event_type STRING, value DOUBLE, user_id BIGINT"

    def run(name, max_files):
        reader = spark.readStream.schema(schema)
        if max_files:
            reader = reader.option("maxFilesPerTrigger", max_files)
        stream = reader.parquet(landing)
        q = (
            running_user_totals_cents(stream.select("user_id", "value"))
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            r.user_id: (r.n_events, r.value_cents)
            for r in spark.table(name)
            .groupBy("user_id")
            .agg(
                F.max("n_events").alias("n_events"),
                F.max_by("value_cents", "n_events").alias("value_cents"),
            )
            .collect()
        }

    one_batch = run("stateful_one", None)
    per_file = run("stateful_split", 1)
    assert one_batch == per_file
    batch = {
        r.user_id: (r.n, r.cents)
        for r in events.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
        )
        .collect()
    }
    assert one_batch == batch and len(batch) > 0


def test_stateful_cents_half_cent_rounds_away_from_zero():
    """Exact half-cent inputs (0.125 -> 12.5 cents) must round AWAY
    from zero (13), matching DuckDB ROUND() and Spark F.round — not
    pandas Series.round()'s banker's rounding (12). The events fixture
    is 2-decimal so the hash gate can't see this; pin it directly."""
    import pandas as pd

    from vector_db_core_spark.streaming.stateful import _update_totals_cents

    class FakeState:
        exists = False

        def update(self, value):
            self.value = value

    for raw, want in [(0.125, 13), (-0.125, -13), (0.115, 12), (2.675, 268)]:
        st = FakeState()
        out = list(
            _update_totals_cents(
                (7,), iter([pd.DataFrame({"value": [raw]})]), st
            )
        )
        assert st.value == (1, want), (raw, st.value)
        assert out[0]["value_cents"].iloc[0] == want


def test_instream_minhash_dedup_nonvacuous_and_duplicate_free(spark):
    """The streaming MinHash dedup's pair collapse must be
    LOAD-BEARING: (1) a batch re-derivation of the same banded
    candidate pipeline shows pairs really do collide in more than one
    band on this fixture (so something must collapse them), and (2)
    the table the query returns (registered as both
    ``streaming_minhash_dedup_replay`` and ``_instream``) contains
    each pair exactly once."""
    from vector_db_core_spark.functions.text import lsh_band_keys, minhash_sig_of_set
    from vector_db_core_spark.operators import QUERIES
    from vector_db_core_spark.operators.llm import _shingle_hashes
    from vector_db_core_spark.sources import load_table

    docs = load_table(spark, SF_ORACLE, "documents").select("doc_id", "text")

    def bands(side, alias):
        return (
            _shingle_hashes(side)
            .groupBy("doc_id")
            .agg(F.collect_set("_b").alias("hs"))
            .withColumn("sig", minhash_sig_of_set(F.col("hs"), num_hashes=64))
            .select(
                F.col("doc_id").alias(alias),
                F.explode(lsh_band_keys(F.col("sig"), bands=16, rows=4)).alias("bk"),
            )
            .select(alias, F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
        )

    collisions = (
        bands(docs.where(F.col("doc_id") % 10 == 0), "batch_doc_id")
        .join(bands(docs.where(F.col("doc_id") % 10 != 0), "corpus_doc_id"), ["band", "key"])
        .groupBy("batch_doc_id", "corpus_doc_id")
        .count()
    )
    multi = collisions.where(F.col("count") > 1).count()
    assert multi > 0, "fixture has no multi-band collisions — dedup would be vacuous"

    assert QUERIES["streaming_minhash_dedup_instream"] is QUERIES["streaming_minhash_dedup_replay"]
    rows = QUERIES["streaming_minhash_dedup_replay"](spark, SF_ORACLE).collect()
    pairs = [(r.batch_doc_id, r.corpus_doc_id) for r in rows]
    assert len(pairs) == len(set(pairs)) and pairs


def test_ewma_state_fold_repairs_out_of_order_days():
    """The order-sensitive contract: a batch delivering an EARLIER day
    after later days were already folded must repair every downstream
    EWMA value — final state equals the one-shot fold of the full
    series, bit for bit (pure-integer steps)."""
    import pandas as pd

    from vector_db_core_spark.streaming.stateful import _update_ewma

    class MiniState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

    def feed(state, rows):
        pdf = pd.DataFrame(rows, columns=["day_i", "value"])
        return list(_update_ewma(("click",), iter([pdf]), state))[-1]

    # one-shot: days 1..4
    s1 = MiniState()
    full = feed(s1, [(1, 10.0), (2, 20.0), (3, 30.0), (4, 40.0)])

    # split + out-of-order: days {1,3,4} then the late day 2
    s2 = MiniState()
    feed(s2, [(1, 10.0), (3, 30.0), (4, 40.0)])
    repaired = feed(s2, [(2, 20.0)])

    assert list(full.day_i) == list(repaired.day_i) == [1, 2, 3, 4]
    assert list(full.ewma_cents) == list(repaired.ewma_cents)
    assert list(full.daily_cents) == list(repaired.daily_cents)
    # and the fold really is the integer recursion
    e, expect = 0, []
    for v in [1000, 2000, 3000, 4000]:
        e = (3 * v + 7 * e + 5) // 10
        expect.append(e)
    assert list(full.ewma_cents) == expect


def test_late_data_replay_drops_replayed_file(spark):
    """The two-cycle watermark gate: the emitted table equals the
    single-counted batch answer over closed windows (no double
    counting from the replayed old file), and the still-open last
    window is withheld."""
    from vector_db_core_spark.operators import QUERIES
    from vector_db_core_spark.sources import load_table

    got = {
        (r.window_start, r.event_type): r.n_events
        for r in QUERIES["streaming_late_data_replay"](spark, SF_ORACLE).collect()
    }
    ev = load_table(spark, SF_ORACLE, "events")
    mx = ev.agg(F.max("ts")).collect()[0][0]
    want_rows = (
        ev.groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .where(F.col("w.end") <= F.lit(mx))
        .collect()
    )
    want = {(r.w.start, r.event_type): r.n for r in want_rows}
    assert got == want
    open_windows = (
        ev.groupBy(F.window("ts", "6 hours").alias("w"))
        .count()
        .where(F.col("w.end") > F.lit(mx))
        .count()
    )
    assert open_windows >= 1  # something really was withheld


def test_streaming_contamination_matches_batch(spark):
    """The streaming guard must be row-identical to the batch
    contamination op — the third maintained-state twin beside the
    BM25 and IVF replays, so replay-equality is the contract."""
    batch = sorted(
        tuple(r)
        for r in QUERIES["pipeline_contamination_ngram_overlap"](
            spark, SF_ORACLE
        ).collect()
    )
    streamed = sorted(
        tuple(r)
        for r in QUERIES["streaming_contamination_guard_replay"](
            spark, SF_ORACLE
        ).collect()
    )
    assert streamed == batch and len(batch) > 0
