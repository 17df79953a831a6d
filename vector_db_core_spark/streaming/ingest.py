"""Streaming ingest — the reference's write-behind cache, Spark-first.

The reference's second-biggest artifact is ``WritableCache``
(/root/reference/src/cache/writable_cache.rs): writers append into an
in-memory buffer (:106-117), a background thread flushes it to the
inner engine once it holds >= MAX_WRCACHE_ITEMS records (:20,78-96,
10 ms poll :94), ``Drop`` flushes the remainder (:173-184), and reads
see the union of flushed store + unflushed buffer via a 3-way ordinal
split (:248-298).

Spark mapping (SURVEY.md §2 rows W1-W3, §4):

* **W1 flush pipeline** → Structured Streaming: files land in a
  directory (the "accept fast" half), ``foreachBatch`` appends each
  micro-batch to an ``OrdinalStore`` with rowid continuation (the
  "flush big" half). Micro-batch == flush; ``availableNow`` == Drop
  drain; ``processingTime`` trigger == the poll loop. Visibility is
  committed-batch — stronger than the reference, which bumps its
  length header *before* data lands and can expose phantom ordinals
  (dynamic_vector_manage_service.rs:291-302).
* **W2 buffer-union read** → ``IngestBuffer``: pending rows union'd
  under the store scan with the SAME ordinal semantics (buffered row
  k has provisional ordinal ``store.count() + k``, exactly the
  reference's routing rule ``idx < db.len ? disk : buffer``).
* **W3 ingest metrics** → ``StreamingQuery.lastProgress`` passthrough.

Failure semantics: the sink is idempotent by epoch
(``pushx(..., txn=(stream_id, epoch))`` — replayed micro-batches are
skipped, the epoch mark committing in the same manifest replace as the
length), which is the ``foreachBatch`` exactly-once recipe from
Spark's own docs. A crash at any point of a ``pushx`` commits the whole
micro-batch or none of it, so the replay after a restart is exact. The
reference under the same crash *loses* the buffered rows entirely (no
WAL, no fsync — file_access_service.rs has neither).

Scale: the stream never funnels through the driver — each micro-batch
is a normal distributed write; state for windows/dedup is bounded by
the watermark (SURVEY §7's discipline: never unbounded streaming
``dropDuplicates`` at 100 TB).
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from vector_db_core_spark.store import OrdinalStore, with_list_rowid


def stream_append_to_store(
    spark: SparkSession,
    source_dir: str,
    store: OrdinalStore,
    schema: str,
    checkpoint_dir: str,
    fmt: str = "json",
    available_now: bool = True,
    processing_time: str = "1 second",
    max_files_per_trigger: int | None = None,
    idempotent: bool = True,
) -> StreamingQuery:
    """File-source → OrdinalStore append sink (the W1 analog).

    Every micro-batch flushes through ``OrdinalStore.pushx``, so
    ordinals keep continuing across batches and restarts; the batch
    boundary plays the reference's flush-threshold role
    (``maxFilesPerTrigger`` bounds batch size like MAX_WRCACHE_ITEMS
    bounds the buffer).

    ``idempotent=True`` (default) passes ``(checkpoint_dir, epoch_id)``
    as the pushx transaction key, so a micro-batch replayed after a
    crash/restart is skipped instead of re-appended — the epoch commits
    atomically with the store's length header.
    """
    reader = spark.readStream.schema(schema).format(fmt)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.load(source_dir)

    def flush(batch_df: DataFrame, epoch_id: int) -> None:
        if not batch_df.isEmpty():
            store.pushx(batch_df, txn=(checkpoint_dir, epoch_id) if idempotent else None)

    writer = stream.writeStream.foreachBatch(flush).option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


class IngestBuffer:
    """Write-behind buffer with a union read view (W1 accept + W2 read).

    API parity with ``WritableCache`` (writable_cache.rs):
      push/pushx   → accept into the in-memory pending list
                     (:106-117); auto-flush at ``threshold``
                     (:20,82-92)
      read()       → flushed store UNION pending rows with provisional
                     ordinals — the 3-way split semantics (:248-298)
                     expressed as one DataFrame
      lens()       → (buffer_len, store_len, total), mirroring
                     ``get_each_len`` (:119-147)
      flush()      → drain pending into the store (:87-89)
      close()      → final drain, the ``Drop`` flush (:173-184)

    The pending list lives on the driver: the buffer's job is
    absorbing many SMALL appends (the reference's design point — its
    threshold is row-count based), not bulk data; big batches should
    go straight to ``OrdinalStore.pushx``, which is fully distributed.
    """

    def __init__(self, store: OrdinalStore, threshold: int = 500_000):
        self.store = store
        self.threshold = threshold
        self._pending: list[Row | dict] = []

    # -- writes ------------------------------------------------------
    def push(self, row: Row | dict) -> None:
        self.pushx([row])

    def pushx(self, rows: Iterable[Row | dict]) -> None:
        self._pending.extend(rows)
        if len(self._pending) >= self.threshold:
            self.flush()

    def flush(self) -> int:
        """Drain pending → store; returns rows flushed."""
        if not self._pending:
            return 0
        n = len(self._pending)
        self.store.pushx(self._pending)
        self._pending = []
        return n

    def close(self) -> int:
        return self.flush()

    # -- reads -------------------------------------------------------
    def lens(self) -> tuple[int, int, int]:
        b, s = len(self._pending), self.store.count()
        return b, s, b + s

    def read(self) -> DataFrame:
        """Union view: committed rows + pending rows with provisional
        ordinals continuing past ``store.count()`` — so a range
        predicate on rowid behaves exactly like the reference's
        ordinal routing across disk and buffer."""
        base = self.store.getall(ordered=False)
        if not self._pending:
            return base
        start = self.store.count()
        # provisional ordinals are the ones flush() will commit
        pend = with_list_rowid(
            self.store.spark.createDataFrame(list(self._pending), schema=self.store.schema), start
        )
        return base.unionByName(pend.select(base.columns))


def ingest_metrics(query: StreamingQuery) -> dict:
    """Ingest introspection (W3 — ``get_each_len``/buffer metrics,
    writable_cache.rs:119-147): rows and timing of the most recent
    flush, plus cumulative progress, from ``lastProgress``."""
    p = query.lastProgress or {}
    return {
        "batch_id": p.get("batchId"),
        "num_input_rows": p.get("numInputRows"),
        "batch_duration_ms": p.get("batchDuration"),
        "input_rows_per_sec": p.get("inputRowsPerSecond"),
        "is_active": query.isActive,
        "run_id": str(query.runId),
    }


def windowed_event_counts(
    events: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str | None = "2 hours",
) -> DataFrame:
    """Tumbling/sliding event-time window counts; works identically on
    a batch frame (watermark is a no-op) and a stream (bounds state &
    drops late rows) — which is exactly what the replay equality test
    exploits: streaming output must equal the batch run on the same
    closed data."""
    df = events
    if watermark is not None and df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    win = F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    return (
        df.groupBy(win.alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(27,6)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def dedup_within_watermark(
    stream: DataFrame, keys: list[str], ts_col: str = "ts", watermark: str = "2 hours"
) -> DataFrame:
    """Stateful streaming dedup with BOUNDED state: duplicates of a key
    arriving within the watermark horizon are dropped, and state for
    expired windows is reclaimed — the only dedup shape that survives
    an unbounded 100 TB stream (plain dropDuplicates state grows
    forever)."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def session_event_counts(
    events: DataFrame,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    key: str = "user_id",
    watermark: str | None = "2 hours",
) -> DataFrame:
    """Session-window aggregation (variable-length windows closed by a
    ``gap`` of inactivity per ``key``) — identical code path for a
    batch frame and a stream, like ``windowed_event_counts``. On a
    stream the watermark is what makes sessions FINAL: a session can
    only be emitted once no in-horizon event can extend or merge it,
    and its state is reclaimed afterwards — unbounded session state is
    the classic 100 TB streaming failure mode.

    The batch twin (same groupBy) is oracle-checked as
    ``window_session_user_activity``; the streaming replay-equality
    test closes the loop the DuckDB oracle can't."""
    df = events
    if watermark is not None and df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(F.session_window(ts_col, gap).alias("w"), F.col(key))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(27,6)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            key,
            "n_events",
            "total_value",
        )
    )


def interval_join_followups(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    within: str = "1 hour",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: each right-side event paired with
    every left-side event of the same ``key`` it followed within
    ``within`` (e.g. purchases after clicks — the attribution join).
    ``how="left_outer"`` additionally emits (left, NULL) once the right
    watermark passes ``left_ts + within`` — i.e. once the engine can
    PROVE no match will ever arrive; outer emission timing is therefore
    watermark-driven, which is why outer results near the head of an
    unbounded stream lag by the watermark delay.
    Works identically on batch frames (watermarks are no-ops) and on
    two streams, where the pair (watermark, time-range predicate) is
    what BOUNDS the join state: Spark keeps a left row only until
    left_ts + within falls behind the right watermark, then evicts it
    — without the range condition, stream-stream join state grows
    forever and dies at 100 TB. Both sides shuffle once on the key;
    the interval condition is evaluated inside the keyed state store,
    never as a cross product."""
    l = left.select(
        F.col(key).alias("l_key"), F.col(left_ts).alias("l_ts")
    )
    r = right.select(
        F.col(key).alias("r_key"), F.col(right_ts).alias("r_ts")
    )
    if left.isStreaming:
        l = l.withWatermark("l_ts", watermark)
    if right.isStreaming:
        r = r.withWatermark("r_ts", watermark)
    return l.join(
        r,
        F.expr(
            f"l_key = r_key AND r_ts >= l_ts AND r_ts <= l_ts + INTERVAL {within}"
        ),
        how,
    ).select(
        F.col("l_key").alias(key),
        F.col("l_ts").alias("first_ts"),
        F.col("r_ts").alias("followup_ts"),
    )
