"""Structured-Streaming queries surfaced to the driver's correctness gate.

These entries put the streaming surface (watermark windows, stateful
dedup, interval joins, store sink) under the oracle gate by exploiting
replayability:
the events fixture is finite, so replaying it through a real
``readStream`` → aggregation → sink pipeline (``availableNow`` trigger:
process everything available, then stop) must produce EXACTLY the batch
answer — which is ANSI-SQL-expressible, so the queries carry full
DuckDB oracles.

Sink/output-mode choices, and what they mean at 100 TB:
  * the replay aggregations run in ``complete`` output to a memory
    sink — correct here because the input is finite and the result is
    windows×types (bounded, tiny); an unbounded production stream uses
    append mode + watermark so state is evicted and results stream out
    incrementally (that path is what ``streaming/ingest.py`` provides
    and ``tests/test_streaming.py`` replay-checks);
  * the stream-stream interval join runs in append mode (inner-join
    matches emit as they form; the watermark + range predicate bound
    the join state — the only shape that survives an unbounded stream).

Reference parity: the reference has no streaming engine at all — its
write-behind cache (``/root/reference/src/cache/writable_cache.rs``)
is the closest analog and maps to ``streaming/ingest.py``'s store sink.
This module is [EXT] surface.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
import textwrap

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vector_db_core_spark.operators.extra import _DAILY_CENTS_SQL
from vector_db_core_spark.operators.registry import register
from vector_db_core_spark.sources import load_table
from vector_db_core_spark.streaming.ingest import (
    dedup_within_watermark,
    interval_join_followups,
    session_event_counts,
    windowed_event_counts,
)

#: one landing/checkpoint root per (process, sf_dir, query): repeated
#: driver calls in one session reuse (and rmtree-refresh) their key,
#: while the pid component keeps CONCURRENT consumers (parallel pytest
#: workers, a bench beside a sweep) from racing each other's
#: rmtree/write/append sequences on a shared fixture (round-8 advice).
#: Contents are tiny (sf<=0.1); the tree is reaped at interpreter exit
#: (scratch.reap_at_exit), with the OS tmpdir as the backstop for
#: killed processes.
from vector_db_core_spark.scratch import reap_at_exit as _reap

_REPLAY_ROOT = _reap(
    os.path.join(tempfile.gettempdir(), f"vdbc_stream_replay_{os.getpid()}")
)


def _replay_events(spark: SparkSession, sf_dir: str, tag: str) -> tuple[DataFrame, str]:
    """Stage the events fixture in a landing dir and open it as a
    bounded file stream (the same shape as a production landing zone:
    files arrive, the stream discovers them)."""
    # hashlib, not hash(): Python's str hash is salted per process
    # (PYTHONHASHSEED), which would leak a fresh landing tree per driver
    # process and never clean up prior ones.
    key = f"{tag}_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}"
    root = os.path.join(_REPLAY_ROOT, key)
    # a replay recomputes from scratch by design — stale checkpoints
    # from a previous invocation must not be resumed (the memory sink
    # is not fault-tolerant, so append-mode queries refuse to recover)
    shutil.rmtree(root, ignore_errors=True)
    landing = os.path.join(root, "landing")
    events = load_table(spark, sf_dir, "events")
    events.write.mode("overwrite").parquet(landing)
    stream = spark.readStream.schema(events.schema).parquet(landing)
    return stream, root


def _run_to_memory(
    result: DataFrame, name: str, checkpoint_root: str, output_mode: str
) -> None:
    spark = result.sparkSession
    # The streaming state-store partition count is fixed by
    # spark.sql.shuffle.partitions at first start; a vanilla session's
    # 200 is pure task overhead for a correctness-scale replay. Scope a
    # small count to this run and restore (a production stream sizes
    # this to its own state volume and keeps it for the checkpoint's
    # lifetime).
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            result.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", os.path.join(checkpoint_root, "ckpt", name))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


@register(
    "streaming_tumbling_counts_replay",
    oracle="""
    SELECT time_bucket(INTERVAL '6 hours', ts) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def streaming_tumbling_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 6h event-time window counts computed BY THE STREAMING
    ENGINE (incremental state, per-microbatch partial aggregation) over
    a replay of the events fixture. Equals the batch/SQL answer because
    event-time semantics are replay-deterministic — same windows, same
    counts, any arrival order, any microbatch boundaries. Carries the
    same oracle as the batch twin ``window_tumbling_event_counts``.
    """
    stream, root = _replay_events(spark, sf_dir, "tumble")
    agg = windowed_event_counts(stream, window="6 hours", watermark=None).select(
        "window_start", "event_type", "n_events", "total_value"
    )
    _run_to_memory(agg, "stream_replay_tumbling", root, "complete")
    return spark.table("stream_replay_tumbling")


@register(
    "streaming_session_counts_replay",
    oracle="""
    WITH t AS (SELECT user_id, ts, value,
                 CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                           > INTERVAL '30 minutes'
                      OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                      THEN 1 ELSE 0 END AS brk
               FROM events),
         s AS (SELECT user_id, ts, value,
                      SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                                     ROWS UNBOUNDED PRECEDING) AS sid
               FROM t)
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '30 minutes' AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS session_value
    FROM s GROUP BY user_id, sid
    """,
)
def streaming_session_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-minute inactivity gap per user) computed BY
    THE STREAMING ENGINE — ``session_window`` state that grows, merges
    and closes per key across microbatches — over a replay of the
    events fixture. Session semantics are replay-deterministic, so the
    result equals the batch/gaps-and-islands answer and carries the
    same oracle as the batch twin ``window_session_user_activity``.
    No watermark in the replay (complete mode over a finite input —
    a watermark would drop rows that arrive across microbatch
    boundaries out of event-time order); the production path
    (``session_event_counts`` with its default 2h watermark, append
    mode) is what bounds state on an unbounded stream and is
    replay-equality-tested in tests/test_streaming.py.
    """
    stream, root = _replay_events(spark, sf_dir, "session")
    agg = session_event_counts(
        stream, gap="30 minutes", key="user_id", watermark=None
    ).select(
        "user_id",
        "session_start",
        "session_end",
        "n_events",
        F.col("total_value").alias("session_value"),
    )
    _run_to_memory(agg, "stream_replay_session", root, "complete")
    return spark.table("stream_replay_session")


@register(
    "streaming_dedup_watermark_replay",
    oracle="""
    -- event_day re-cast to TIMESTAMP: DATE materializes as pandas
    -- object (Spark) vs datetime64 (DuckDB) and the driver hashes
    -- pandas frames (registry dtype policy, tests/test_dtype_parity.py)
    SELECT DISTINCT user_id, event_type,
           CAST(CAST(ts AS DATE) AS TIMESTAMP) AS event_day
    FROM events
    """,
)
def streaming_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup (``dropDuplicatesWithinWatermark``) over
    a replay: first occurrence of each (user_id, event_type, day) key
    survives, duplicates arriving within the watermark horizon are
    dropped inside the keyed state store, across microbatch boundaries.

    The replay horizon (60 days) exceeds the fixture's 30-day span ON
    PURPOSE: every duplicate is then guaranteed in-horizon, so the
    emitted key set is EXACTLY the distinct key set and the plain
    ``SELECT DISTINCT`` oracle applies. (Which physical row survives
    per key depends on arrival order — not SQL-expressible — so the
    query projects the dedup keys only.) A production stream runs the
    same operator with an hours-scale horizon — bounded state, the
    whole point of the WithinWatermark variant vs plain dropDuplicates
    whose state grows forever; that path is exercised in
    tests/test_streaming.py.
    """
    stream, root = _replay_events(spark, sf_dir, "dedup")
    keyed = stream.select(
        "user_id", "event_type", F.to_date("ts").alias("event_day"), "ts"
    )
    deduped = dedup_within_watermark(
        keyed, keys=["user_id", "event_type", "event_day"], watermark="60 days"
    ).select(
        "user_id",
        "event_type",
        # DATE → TIMESTAMP for pandas-dtype hash parity with the oracle
        F.col("event_day").cast("timestamp").alias("event_day"),
    )
    _run_to_memory(deduped, "stream_replay_dedup", root, "append")
    return spark.table("stream_replay_dedup")


@register(
    "streaming_interval_join_replay",
    oracle="""
    SELECT l.user_id,
           l.ts AS first_ts,
           r.ts AS followup_ts
    FROM events l JOIN events r
      ON l.user_id = r.user_id
     AND l.event_type = 'click' AND r.event_type = 'purchase'
     AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL '1 hour'
    """,
)
def streaming_interval_join_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (purchases within 1h of a click,
    per user) run as a REAL two-stream join: both sides are watermarked
    streams, matches form inside the keyed state store, and the
    watermark + range predicate evict left rows once no in-horizon
    right row can match them — bounded state on an unbounded stream.
    Inner-join matches emit in append mode as they form, so the finite
    replay emits the complete answer and the plain-SQL oracle applies.
    """
    stream, root = _replay_events(spark, sf_dir, "ivjoin")
    clicks = stream.where(F.col("event_type") == "click")
    purchases = stream.where(F.col("event_type") == "purchase")
    joined = interval_join_followups(
        clicks, purchases, key="user_id", within="1 hour", watermark="2 hours"
    )
    _run_to_memory(joined, "stream_replay_interval_join", root, "append")
    return spark.table("stream_replay_interval_join")


@register(
    "streaming_static_join_replay",
    oracle="""
    SELECT c_mktsegment, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS total_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY 1, 2
    """,
)
def streaming_static_join_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC join — the third join class after batch joins and
    the stream-stream interval join: a live event stream enriched
    against a bounded dimension table (customer), then aggregated per
    (segment, event type) by the streaming engine. The static side
    needs no watermark and holds no join state: Spark plans it as a
    per-microbatch broadcast hash join, re-resolving the static
    relation each batch (so slowly-changing dims pick up file-level
    updates between batches). This is the standard streaming
    enrichment topology at any scale — dimension broadcasts, stream
    never shuffles for the join, only for the final keyed aggregate.

    Inner join on a finite replay emits exactly the batch-join rows,
    so the plain two-table SQL oracle applies.
    """
    stream, root = _replay_events(spark, sf_dir, "stjoin")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    enriched = stream.join(
        F.broadcast(cust), F.col("user_id") == F.col("c_custkey")
    )
    agg = enriched.groupBy("c_mktsegment", "event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(27,6)")).cast("double").alias("total_value"),
    )
    _run_to_memory(agg, "stream_replay_static_join", root, "complete")
    return spark.table("stream_replay_static_join")


@register(
    "streaming_interval_left_outer_replay",
    oracle="""
    WITH co AS (SELECT MAX(ts) - INTERVAL '10 hours' AS cutoff FROM events),
    l AS (SELECT user_id, ts FROM events
          WHERE event_type = 'click' AND ts <= (SELECT cutoff FROM co)),
    r AS (SELECT user_id AS r_user, ts AS r_ts FROM events
          WHERE event_type = 'purchase')
    SELECT l.user_id, l.ts AS first_ts, r.r_ts AS followup_ts
    FROM l LEFT JOIN r
      ON l.user_id = r.r_user
     AND r.r_ts >= l.ts AND r.r_ts <= l.ts + INTERVAL '1 hour'
    """,
)
def streaming_interval_left_outer_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — the join class whose
    outer rows are WATERMARK-DRIVEN: a click with no purchase within
    1h emits (click, NULL) only once the right-side watermark proves
    no in-horizon match can still arrive, i.e. once it passes
    click.ts + 1h. Inner matches emit as they form, exactly like the
    inner replay.

    Replay determinism needs one extra care the inner join doesn't:
    at end-of-stream the final watermark rests at max(ts) − 2h
    (the watermark delay), so unmatched clicks NEWER than
    max(ts) − (delay + interval) sit in state forever with their NULL
    row unemitted — nondeterministic against a batch LEFT JOIN. The
    replay therefore pre-filters the left stream to clicks at least
    4h (delay + interval + 1h slack) before the fixture's max
    timestamp — the same cutoff the oracle applies — making the
    emitted set exactly the batch answer. A production stream has no
    such cutoff; its trailing outer rows simply emit later, when the
    watermark catches up. State bounds are identical to the inner
    variant: left rows evict once no in-horizon right row can match.
    """
    # the cutoff literal comes from a batch max over the same staged
    # fixture — replay setup work (like the landing-dir write), not
    # part of the streamed plan
    events = load_table(spark, sf_dir, "events")
    cutoff = events.agg(F.max("ts").alias("m")).collect()[0].m - __import__(
        "datetime"
    ).timedelta(hours=10)
    stream, root = _replay_events(spark, sf_dir, "ivouter")
    clicks = stream.where(F.col("event_type") == "click")
    purchases = stream.where(F.col("event_type") == "purchase")
    joined = interval_join_followups(
        clicks, purchases, key="user_id", within="1 hour",
        watermark="2 hours", how="left_outer",
    )
    # the cutoff applies AFTER the join, not to the click stream:
    # filtering the left input would shrink ITS watermark to
    # cutoff - delay (watermarks are per-input-stream maxima), pulling
    # the global watermark down with it and re-creating the trailing
    # unemitted-NULL window immediately below the cutoff (observed:
    # eviction stops at left_max - delay - interval, wherever left_max
    # is). A stateless post-join filter leaves the watermark at the
    # full stream's pace.
    result = joined.where(F.col("first_ts") <= F.lit(cutoff))
    _run_to_memory(result, "stream_replay_interval_outer", root, "append")
    return spark.table("stream_replay_interval_outer")


@register(
    "streaming_append_window_replay",
    oracle="""
    WITH co AS (SELECT MAX(ts) - INTERVAL '24 hours' AS cutoff FROM events)
    SELECT time_bucket(INTERVAL '6 hours', ts) AS window_start,
           time_bucket(INTERVAL '6 hours', ts) + INTERVAL '6 hours' AS window_end,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS total_value
    FROM events, co
    WHERE time_bucket(INTERVAL '6 hours', ts) + INTERVAL '6 hours' <= cutoff
    GROUP BY 1, 2, 3
    """,
)
def streaming_append_window_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling window counts in APPEND output mode — the production
    emission discipline the complete-mode replays deliberately sidestep
    (the round-3 watch-list item): each window row is emitted ONCE,
    immutable, when the watermark passes its end and the engine evicts
    its state — the only mode whose state and output stay bounded on an
    unbounded stream. The complete-mode twins re-emit the whole result
    set every batch, which is correctness-scale-only.

    Replay determinism: at end-of-stream the watermark rests at
    max(ts) − 12h (the configured delay), so only windows closing
    before that are guaranteed emitted; both the emitted table and the
    oracle are cut at max(ts) − 24h (delay + 2 windows of slack), the
    same trailing-cutoff trick as the left-outer join replay — inside
    the cut, append-mode output must equal the batch aggregate
    exactly, which is what the hash proves.
    """
    events = load_table(spark, sf_dir, "events")
    cutoff = events.agg(F.max("ts").alias("m")).collect()[0].m - __import__(
        "datetime"
    ).timedelta(hours=24)
    stream, root = _replay_events(spark, sf_dir, "appwin")
    agg = windowed_event_counts(stream, window="6 hours", watermark="12 hours")
    _run_to_memory(agg, "stream_replay_append_window", root, "append")
    return (
        spark.table("stream_replay_append_window")
        .where(F.col("window_end") <= F.lit(cutoff))
        .select("window_start", "window_end", "event_type", "n_events", "total_value")
    )


@register(
    "streaming_sliding_counts_replay",
    oracle="""
    WITH b AS (SELECT event_type, ts,
                      UNNEST([time_bucket(INTERVAL '3 hours', ts),
                              time_bucket(INTERVAL '3 hours', ts) - INTERVAL '3 hours'])
                        AS window_start
               FROM events)
    SELECT window_start, event_type, COUNT(*) AS n_events
    FROM b GROUP BY window_start, event_type
    """,
)
def streaming_sliding_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 6h/3h event-time windows computed BY THE STREAMING
    ENGINE over a replay of the events fixture — the overlap shape
    (each event updates length/slide = 2 window states, Spark
    replicates the row into both before the stateful aggregate) the
    tumbling replay can't exercise. Event-time semantics make the
    result replay-deterministic, so it carries the SAME oracle as its
    batch twin ``window_sliding_event_counts``: each event expanded to
    the two 3h-aligned starts covering it, then a plain group-count.
    Both engines align window starts to epoch midnight (6h and 3h
    divide 24h), so the bucket labels agree exactly.
    """
    stream, root = _replay_events(spark, sf_dir, "slide")
    agg = windowed_event_counts(
        stream, window="6 hours", slide="3 hours", watermark=None
    ).select("window_start", "event_type", "n_events")
    _run_to_memory(agg, "stream_replay_sliding", root, "complete")
    return spark.table("stream_replay_sliding")


@register(
    "streaming_stateful_totals_replay",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0 AS DOUBLE)
             AS total_value
    FROM events
    GROUP BY user_id
    """,
)
def streaming_stateful_totals_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM stateful operator (``applyInPandasWithState``) under the
    hash gate: per-user running totals whose state is merged by
    user-defined Python across micro-batches, replayed over the events
    fixture. The built-in-stateful replays (windows/dedup/joins) can't
    represent this row — it is the escape-hatch surface itself.

    Hash-exactness comes from the state discipline, not luck: the
    value total accumulates as BIGINT cents inside the state store
    (``running_user_totals_cents``), so the final emission per user is
    bit-identical for ANY micro-batch split, file order, or partition
    count — the streaming twin of the batch engine's exact-DECIMAL
    accumulation policy. Update-mode emissions grow monotonically in
    n_events, so the final state per user is selected with one
    ``max_by`` over the sink (robust to multi-batch replays where a
    user is touched repeatedly); cents convert to a DOUBLE total only
    at the edge, identically in both engines (exact integer / 100.0).

    100 TB plan: state is partitioned by user key in the state store
    (one shuffle per batch, state size O(distinct keys)); an unbounded
    production stream would add a GroupStateTimeout eviction policy —
    the replay drives a closed stream, where NoTimeout is correct."""
    stream, root = _replay_events(spark, sf_dir, "stateful")
    from vector_db_core_spark.streaming.stateful import running_user_totals_cents

    updates = running_user_totals_cents(stream.select("user_id", "value"))
    _run_to_memory(updates, "stream_replay_stateful", root, "update")
    sink = spark.table("stream_replay_stateful")
    return (
        sink.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            (F.max_by("value_cents", "n_events") / F.lit(100.0))
            .cast("double")
            .alias("total_value"),
        )
    )


_MINHASH_STREAM_ORACLE = r"""
    WITH sh AS (SELECT doc_id,
                       CASE WHEN len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) >= 3
                            THEN list_distinct(list_transform(
                                   generate_series(1, len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) - 2),
                                   i -> array_to_string((list_filter(string_split_regex(text, '\s+'), x -> x <> ''))[i:i+2], ' ')))
                            ELSE [array_to_string(list_filter(string_split_regex(text, '\s+'), x -> x <> ''), ' ')] END AS s
                FROM documents),
    p AS (SELECT a.doc_id AS batch_doc_id, b.doc_id AS corpus_doc_id,
                 CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                 / CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE)
                   AS jaccard
          FROM sh a JOIN sh b ON a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0)
    SELECT batch_doc_id, corpus_doc_id, jaccard FROM p WHERE jaccard >= 0.5
    """


def _minhash_stream_hits(
    spark: SparkSession, sf_dir: str, tag: str
) -> tuple[DataFrame, DataFrame, str]:
    """Candidate construction for ``streaming_minhash_dedup_replay``:
    arriving documents (``doc_id % 10 == 0``, landed as 4
    files, one per trigger) are MinHash-signed per row, band-keyed,
    stream-static-joined against the standing corpus's materialized
    band table, and LSH hits Jaccard-verified — all inside
    micro-batches. Returns ``(hits, corpus_static, root)``; the caller
    runs ``hits`` to a sink and unpersists ``corpus_static``. ``hits``
    still carries band MULTIPLICITY (a pair colliding in several
    bands appears once per collision, same verified jaccard); the
    caller collapses it.
    """
    from pyspark.storagelevel import StorageLevel

    from vector_db_core_spark.functions.text import (
        lsh_band_keys,
        minhash_sig_of_set,
        shingles_of_tokens,
        tokens,
    )
    from vector_db_core_spark.operators.llm import _jaccard, _shingle_hashes

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.where(F.col("doc_id") % 10 != 0)

    # static side: (doc_id, hs, sig) once, bands exploded — the
    # materialized daily-job tables.
    #
    # r15 (guide §3/§2.3): the band keys are PRE-JOINED with the verify
    # payload into ONE persisted static frame. The r14 shape persisted
    # only corpus_sets and derived the band/verify projections lazily,
    # so EVERY microbatch re-ran the band-key explode and built TWO
    # broadcasts (Spark does not reuse broadcast exchanges across
    # triggers); each trigger now builds one broadcast straight from
    # cached blocks. The ~16x duplication of hs across a doc's band
    # rows is bounded by the banding constants, not the corpus.
    corpus_sets = (
        _shingle_hashes(corpus)
        .groupBy("doc_id")
        .agg(F.collect_set("_b").alias("hs"))
        .withColumn("sig", minhash_sig_of_set(F.col("hs"), num_hashes=64))
    )
    corpus_static = (
        corpus_sets.select(
            F.col("doc_id").alias("corpus_doc_id"),
            F.col("hs").alias("corpus_hs"),
            F.explode(lsh_band_keys(F.col("sig"), bands=16, rows=4)).alias("bk"),
        )
        .select(
            "corpus_doc_id",
            "corpus_hs",
            F.col("bk.band").alias("band"),
            F.col("bk.key").alias("key"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    # landing zone: the arriving batch as 4 files, one per trigger
    key = f"{tag}_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}"
    root = os.path.join(_REPLAY_ROOT, key)
    shutil.rmtree(root, ignore_errors=True)
    landing = os.path.join(root, "landing")
    batch_docs = docs.where(F.col("doc_id") % 10 == 0)
    batch_docs.repartition(4).write.mode("overwrite").parquet(landing)
    stream = (
        spark.readStream.schema(batch_docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )

    hs = F.array_distinct(
        F.transform(shingles_of_tokens(tokens("text"), 3), lambda s: F.xxhash64(s))
    )
    signed = stream.select(
        F.col("doc_id").alias("batch_doc_id"), hs.alias("batch_hs")
    ).withColumn("sig", minhash_sig_of_set(F.col("batch_hs"), num_hashes=64))
    banded = signed.select(
        "batch_doc_id",
        "batch_hs",
        F.explode(lsh_band_keys(F.col("sig"), bands=16, rows=4)).alias("bk"),
    ).select("batch_doc_id", "batch_hs", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    hits = (
        # r14 note: a broadcast hint on the static side was tried and
        # REVERTED — the captured microbatch physical plan
        # (plans/r14/streaming_minhash_microbatch_after_r14.txt) shows
        # Catalyst already plans BroadcastHashJoin with or without the
        # hint (the persisted static side carries exact cached stats).
        banded.join(corpus_static, ["band", "key"])  # stream-static, stateless
        .select(
            "batch_doc_id",
            "corpus_doc_id",
            _jaccard(F.col("batch_hs"), F.col("corpus_hs")).alias("jaccard"),
        )
        .where(F.col("jaccard") >= 0.5)
    )
    return hits, corpus_static, root


@register("streaming_minhash_dedup_instream", oracle=_MINHASH_STREAM_ORACLE)
@register("streaming_minhash_dedup_replay", oracle=_MINHASH_STREAM_ORACLE)
def streaming_minhash_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTINUOUS-ingest near-dedup as a real Structured Streaming
    pipeline: arriving documents (``doc_id % 10 == 0``, landed as 4
    files and streamed one file per trigger — genuinely multi-batch)
    are MinHash-signed per row, band-keyed, stream-static-joined
    against the standing corpus's materialized band table, and
    LSH hits are Jaccard-verified — all inside micro-batches. The
    streaming twin of ``dedup_incremental_minhash`` (same 16x4 banding,
    same verify, same exact cross-side oracle), proving the engine's
    flagship dedup runs against a LIVE ingest feed, not just batch.

    Plan/scale notes:
      * the stream side is STATELESS — per-row signature expressions
        (tokens -> shingles -> xxhash64 set -> 64-slot MinHash -> band
        keys) plus two stream-static equi-joins; no watermark, no state
        store, so ingest memory is O(micro-batch), corpus-independent;
      * the static band/signature tables are the ones a daily job
        maintains (built once here, as ``dedup_incremental_minhash``
        documents); only matching (band, key) buckets join — per-batch
        cost is O(|batch| + hits), never O(|corpus|);
      * band multiplicity (a pair colliding in several bands) is
        collapsed AFTER the memory sink by a batch ``distinct()`` —
        verified jaccard is identical on every collision of a pair, so
        this is pure dedup of equal rows. Also registered as
        ``streaming_minhash_dedup_instream``: collapsing in-stream
        with ``dropDuplicatesWithinWatermark`` gives the same rows but
        adds a state store and measured slower at sf0.01 and sf0.1.

    Registered with the full hash oracle: stream replay of a finite
    landing dir under ``availableNow`` is deterministic, and hash-set
    jaccard equals string-set jaccard (bijective xxhash64 coding on
    this vocabulary; the same argument every MinHash op here relies
    on).
    """
    hits, corpus_static, root = _minhash_stream_hits(spark, sf_dir, "mhdedup")
    _run_to_memory(hits, "stream_replay_minhash_dedup", root, "append")
    corpus_static.unpersist()
    return spark.table("stream_replay_minhash_dedup").distinct()


_EWMA_STREAM_SQL = f"""
{textwrap.indent(_DAILY_CENTS_SQL, "    ")}
    r AS (
      SELECT event_type, day, cents, rn, (3 * cents + 5) // 10 AS e
      FROM o WHERE rn = 1
      UNION ALL
      SELECT o.event_type, o.day, o.cents, o.rn,
             (3 * o.cents + 7 * r.e + 5) // 10 AS e
      FROM o JOIN r ON o.event_type = r.event_type AND o.rn = r.rn + 1)
    SELECT event_type, CAST(day AS TIMESTAMP) AS day,
           cents / 100.0 AS daily_value,
           e / 100.0 AS ewma_value
    FROM r
    """


@register("streaming_ewma_daily_replay", oracle=_EWMA_STREAM_SQL)
def streaming_ewma_daily_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER-SENSITIVE custom stateful streaming op under the full
    hash gate: per-event-type daily EWMA (alpha = 0.3) maintained by
    ``applyInPandasWithState`` across micro-batches — the sequential
    fold no built-in stateful operator expresses (each day's value
    depends on ALL prior days, so watermark-windowed aggs and
    ``streaming_stateful_totals_replay``'s order-INDEPENDENT state
    both can't). State = the per-day cent totals (bounded: one entry
    per calendar day per type); each batch merges its days in place —
    late data repairs the fold — and emits the recomputed series
    stamped with ``n_days``, from which the replay keeps the latest
    fold per (type, day) with one ``max_by``.

    Exactness is the whole design: the smoothing step is pure integer
    (``e = (3*v + 7*e + 5) // 10`` on cents — alpha as a rational, the
    half-round folded into floor division), so no float ever enters
    state and ANY batch split or arrival order replays bit-identically
    — and the oracle runs the IDENTICAL integer recursion as a DuckDB
    RECURSIVE CTE (the batch twin ``timeseries_ewma_daily_value``
    instead factorizes the float recursion into window algebra; this
    is the streaming-grade discipline). Cents to DOUBLE only at the
    edge, identically in both engines.

    100 TB plan: state store partitioned by event_type (one shuffle
    per batch), state size O(types x days) — production adds
    watermark-based day finalization + timeout eviction; the closed
    replay drives NoTimeout, same as the totals replay."""
    stream, root = _replay_events(spark, sf_dir, "ewma")
    from vector_db_core_spark.streaming.stateful import ewma_daily_cents

    src = stream.select(
        "event_type", F.unix_date(F.to_date("ts")).alias("day_i"), "value"
    )
    updates = ewma_daily_cents(src)
    _run_to_memory(updates, "stream_replay_ewma", root, "update")
    sink = spark.table("stream_replay_ewma")
    final = sink.groupBy("event_type", "day_i").agg(
        F.max_by("daily_cents", "n_days").alias("daily_cents"),
        F.max_by("ewma_cents", "n_days").alias("ewma_cents"),
    )
    return final.select(
        "event_type",
        F.date_from_unix_date("day_i").cast("timestamp_ntz").alias("day"),
        (F.col("daily_cents") / F.lit(100.0)).alias("daily_value"),
        (F.col("ewma_cents") / F.lit(100.0)).alias("ewma_value"),
    )


_CDC_UPSERT_SQL = """
SELECT user_id, ts AS last_ts, event_type AS last_event_type,
       value AS last_value
FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
WHERE rn = 1
"""


@register("streaming_cdc_upsert_replay", oracle=_CDC_UPSERT_SQL)
def streaming_cdc_upsert_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC UPSERT MATERIALIZATION from a change stream: treat events
    as keyed change records and maintain the last-write-wins row per
    key (latest ``(ts, event_id)`` takes the row) — the streaming half
    of ``merge_upsert_orders``, i.e. the standing query that keeps a
    serving table in sync with a CDC feed (Debezium/binlog-shaped:
    key, change time, payload).

    Spark-first design: last-write-wins is an order-INDEPENDENT
    monotone merge, so it needs no custom state — it IS a built-in
    streaming aggregation ``groupBy(key).agg(max(struct(ts, event_id,
    payload...)))`` in update mode (struct comparison is
    lexicographic and ``(ts, event_id)`` is unique, so the payload
    fields never decide). Any batch split or arrival order converges
    to the same state — late data repairs the row automatically. The
    replay's final fold applies the SAME max to the update log, which
    is exactly why the result is replay-invariant.

    100 TB plan: state is one struct per key partitioned by key hash
    (the state-store shuffle), updates are map-side pre-merged by the
    partial max — the minimum possible per-batch work for CDC; no
    watermark needed because LWW state never closes (production adds
    TTL eviction for retired keys). The oracle is the batch
    ``row_number() = 1`` view of the same contract."""
    stream, root = _replay_events(spark, sf_dir, "cdc")
    state = stream.groupBy("user_id").agg(
        F.max(F.struct("ts", "event_id", "event_type", "value")).alias("s")
    )
    _run_to_memory(state, "stream_replay_cdc", root, "update")
    sink = spark.table("stream_replay_cdc")
    final = sink.groupBy("user_id").agg(F.max("s").alias("s"))
    return final.select(
        "user_id",
        F.col("s.ts").alias("last_ts"),
        F.col("s.event_type").alias("last_event_type"),
        F.col("s.value").alias("last_value"),
    )


_LATE_DATA_SQL = """
WITH mx AS (SELECT MAX(ts) AS m FROM events)
SELECT time_bucket(INTERVAL '6 hours', ts) AS window_start,
       event_type,
       COUNT(*) AS n_events
FROM events, mx
WHERE time_bucket(INTERVAL '6 hours', ts) + INTERVAL 6 HOUR <= m
GROUP BY 1, 2
"""


@register("streaming_late_data_replay", oracle=_LATE_DATA_SQL)
def streaming_late_data_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WATERMARK LATE-DATA DROP under the full hash gate: two
    ``availableNow`` cycles against ONE checkpoint prove the
    watermark semantics end-to-end. Cycle 1 streams the whole events
    fixture (file count below maxFilesPerTrigger → one microbatch, so
    the watermark can't drop in-cycle rows) through a 6h tumbling count in APPEND mode to a
    resumable PARQUET sink; the checkpoint records the final
    watermark (0s delay → max event time). Cycle 2 appends a REPLAYED
    file — an exact copy of the earliest ~10% of events, the
    re-delivered-old-partition failure every file-landing pipeline
    eventually suffers — and resumes. Every replayed row is behind
    the checkpointed watermark, so the engine must drop ALL of them:
    the oracle counts each event ONCE, and any double-counting (what
    a watermark-less consumer would produce) hash-fails. Append mode
    also pins window FINALIZATION: only windows whose end <= final
    watermark have emitted — the oracle states that cutoff from
    ``MAX(ts)`` directly — while the still-open last window is
    correctly withheld.

    Differs from ``streaming_dedup_watermark_replay`` (row-level
    dedup within the watermark) in that nothing here is a duplicate
    *within* the stream's active state: the replay arrives AFTER
    state for those windows was finalized and evicted, the case only
    the watermark contract (not dedup state) can handle without
    unbounded memory.

    Scale: append + watermark is THE unbounded-stream shape — state
    is bounded by (open windows × types), the parquet sink is
    fault-tolerant and exactly-once via the checkpoint."""
    stream_root_key = f"late_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}"
    root = os.path.join(_REPLAY_ROOT, stream_root_key)
    shutil.rmtree(root, ignore_errors=True)
    landing = os.path.join(root, "landing")
    out = os.path.join(root, "out")
    ckpt = os.path.join(root, "ckpt")
    ev = load_table(spark, sf_dir, "events")
    # natural parallel write — with maxFilesPerTrigger UNSET (the
    # default) the availableNow trigger takes every available file in
    # ONE microbatch regardless of file count, so the watermark cannot
    # drop in-cycle rows; do NOT set maxFilesPerTrigger here (it would
    # split cycle 1 and let the advancing watermark drop late in-cycle
    # rows), and do not coalesce(1) (a single-task landing write cost
    # 20 s at ~sf10 in the ladder)
    ev.write.mode("overwrite").parquet(landing)

    def cycle() -> None:
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        try:
            agg = (
                spark.readStream.schema(ev.schema)
                .parquet(landing)
                .withWatermark("ts", "0 seconds")
                .groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
                .agg(F.count("*").alias("n_events"))
                .select(
                    F.col("w.start").alias("window_start"),
                    "event_type",
                    "n_events",
                )
            )
            q = (
                agg.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)

    cycle()
    # the re-delivered old file: an exact copy of the earliest ~10% of
    # rows (bounded 1-row cutoff collect — the watermark-cutoff pattern
    # the other replays use)
    cut = ev.agg(
        F.expr("percentile(cast(unix_micros(ts) as double), 0.1)").alias("p")
    ).collect()[0][0]
    ev.where(F.unix_micros("ts") < cut).write.mode("append").parquet(landing)
    cycle()
    return spark.read.parquet(out)


_KMV_STREAM_SQL = """
WITH h AS (SELECT DISTINCT event_type,
                  ('0x' || substr(md5(CAST(user_id AS VARCHAR) || '|kmv'),
                                  1, 12))::BIGINT AS hv
           FROM events),
r AS (SELECT event_type, hv,
             row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rk
      FROM h),
t AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_distinct FROM h
      GROUP BY event_type),
sk AS (SELECT event_type, CAST(MAX(hv) AS BIGINT) AS hk,
              CAST(COUNT(*) AS BIGINT) AS n_kept
       FROM r WHERE rk <= 256 GROUP BY event_type)
SELECT t.event_type, t.n_distinct,
       CASE WHEN sk.n_kept < 256 THEN sk.n_kept
            ELSE CAST(round(CAST(255 AS DOUBLE) * 281474976710656.0 / sk.hk)
                      AS BIGINT)
       END AS est_distinct
FROM t JOIN sk ON sk.event_type = t.event_type
"""


@register("streaming_kmv_distinct_replay", oracle=_KMV_STREAM_SQL)
def streaming_kmv_distinct_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV DISTINCT-COUNT SKETCH maintained BY THE STREAMING ENGINE —
    the streaming face of ``sketch_kmv_distinct_intersection``: the
    stream's stateful aggregation holds exactly the distinct
    (event_type, 48-bit salted-md5) pairs (the same dedup state a
    streaming ``dropDuplicates`` keeps), and the bounded batch
    finisher ranks each type's k = 256 smallest hashes and reads the
    cardinality estimate off the k-th minimum — est = (k-1)*2^48/h(k),
    or the exact kept count below k. The production narrative: the
    stream keeps the sketch CURRENT incrementally; any consumer gets
    a distinct-user estimate without rescanning history (what
    approx_count_distinct gives per-query, this gives as standing
    state — and unlike HLL state, KMV state merges across streams
    AND supports the intersection algebra of its batch sibling).

    Replay-deterministic: distinct-set state is arrival-order
    independent, so the streamed sketch equals the batch answer and
    the md5 family keeps the whole estimate under the exact oracle.

    Plan/scale: streaming state is |distinct (type, hash)| rows —
    the same state the dedup replay holds; the finisher's top-k runs
    on the drained state table per type. A production stream caps
    state with a per-type top-k ``applyInPandasWithState`` evictor
    (state = k hashes per type); the replay keeps the plain
    aggregation so the oracle stays exact."""
    stream, root = _replay_events(spark, sf_dir, "kmv")
    hv = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("user_id").cast("string"), F.lit("|kmv"))),
                1,
                12,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("hv")
    )
    pairs = stream.select("event_type", hv).groupBy("event_type", "hv").agg(
        F.count("*").alias("n_seen")
    )
    _run_to_memory(pairs, "stream_replay_kmv", root, "complete")
    state = spark.table("stream_replay_kmv")
    from pyspark.sql import Window as W

    t = state.groupBy("event_type").agg(F.count("*").alias("n_distinct"))
    # the sketch side renames its key: a self-join of two derivations
    # of one memory-sink table trips Spark's attribute dedup
    # ("Conflicting attributes") — distinct names sidestep it
    rk = F.row_number().over(W.partitionBy("et").orderBy("hv"))
    sk = (
        state.select(F.col("event_type").alias("et"), "hv")
        .select("et", "hv", rk.alias("rk"))
        .where(F.col("rk") <= 256)
        .groupBy("et")
        .agg(
            F.max("hv").cast("bigint").alias("hk"),
            F.count("*").alias("n_kept"),
        )
    )
    est = F.when(F.col("n_kept") < 256, F.col("n_kept")).otherwise(
        F.round(F.lit(255.0) * F.lit(281474976710656.0) / F.col("hk")).cast(
            "bigint"
        )
    )
    return t.join(sk, t.event_type == sk.et).select(
        "event_type",
        F.col("n_distinct").cast("bigint").alias("n_distinct"),
        est.cast("bigint").alias("est_distinct"),
    )


def _bm25_stream_oracle() -> str:
    from vector_db_core_spark.operators.llm import _BM25_SQL

    return _BM25_SQL


@register("streaming_bm25_stats_replay", oracle=_bm25_stream_oracle())
def streaming_bm25_stats_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 over INCREMENTALLY-MAINTAINED postings — the streaming
    twin of ``text_bm25_ranking``, and the deployment shape its scale
    ladder note names: a serving system does not recompute tf/df/dl/N
    per query, it maintains them as documents arrive. Here the
    documents fixture lands as 4 files consumed one per trigger, the
    STREAMING ENGINE maintains the postings state — a
    ``groupBy(doc_id, term).count()`` aggregation in update mode,
    exactly the index-maintenance increment — and the final ranking
    scores the drained postings through the IDENTICAL batch code path
    (``_bm25_scored_from_tf`` → ``_bm25_rank``), so it carries the
    batch op's full DuckDB oracle.

    Replay-deterministic: per-(doc, term) counts are arrival-order
    independent (each emission is monotone in count; the finisher
    takes max per key, robust to a doc's terms being re-emitted
    across update-mode batches), and the downstream df/dl/N/top-k
    algebra is the batch op's exact contract verbatim.

    Plan/scale: streaming state is the postings table itself — the
    index being built, keyed (doc_id, term), one shuffle per batch;
    the scoring read is the batch plan over the sink. A production
    stream would checkpoint the postings to a store sink rather than
    memory and evict nothing (an index grows); query-time work stays
    postings-bounded behind the query-term semi-join."""
    from vector_db_core_spark.functions.text import tokens
    from vector_db_core_spark.operators.llm import (
        _bm25_rank,
        _bm25_scored_from_tf,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    key = f"bm25_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}"
    root = os.path.join(_REPLAY_ROOT, key)
    shutil.rmtree(root, ignore_errors=True)
    landing = os.path.join(root, "landing")
    docs.repartition(4).write.mode("overwrite").parquet(landing)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    postings = (
        stream.select("doc_id", F.explode(tokens("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("n"))
    )
    _run_to_memory(postings, "stream_replay_bm25", root, "update")
    # land the drained postings as a parquet table before scoring: (a)
    # the scorer self-joins its tf frame four ways (qt/df/dl), which
    # trips attribute dedup on a memory-sink lineage (the KMV replay's
    # "Conflicting attributes" note), and (b) it IS the production
    # shape — the maintained index checkpoints to a store, queries scan
    # the store
    index_path = os.path.join(root, "postings")
    (
        spark.table("stream_replay_bm25")
        .groupBy("doc_id", "term")
        .agg(F.max("n").alias("tf"))
        .write.mode("overwrite")
        .parquet(index_path)
    )
    return _bm25_rank(_bm25_scored_from_tf(spark.read.parquet(index_path)))

def _ivfpq_stream_oracle() -> str:
    from vector_db_core_spark.operators.llm import _IVFPQ_SQL

    return _IVFPQ_SQL


@register("streaming_ivf_cells_replay", oracle=_ivfpq_stream_oracle())
def streaming_ivf_cells_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ over a STREAMING-MAINTAINED cell index — the dense-leg
    analog of ``streaming_bm25_stats_replay`` (r12-verdict task 6),
    completing "the index is maintained, not recomputed" for BOTH
    retrieval legs: the embeddings fixture lands as 4 files consumed
    one per trigger; each arriving vector is coarse-assigned to its
    seeded cell and PQ-encoded inside the stream (the SAME
    ``_pq_block_dists`` Arrow kernel as every batch PQ op — an
    index's quantizers are trained before ingestion starts, so the
    16-seed codebook is a legitimate pre-stream model); the STREAMING
    ENGINE maintains the index as update-mode state keyed
    (vec_id, cell, codes) — the upsert an ANN index performs per
    arriving vector — and the probe query is served from the drained
    index through the codes-table serving read
    (``_ivfpq_serve_from_codes``), so it carries the batch op's full
    DuckDB oracle verbatim and a row-identity pytest against
    ``sim_ivfpq_topk``.

    Replay-deterministic: cell and code assignment are pure functions
    of the vector and the fixed codebook (arrival-order independent);
    the finisher dedups on the state key; serving is the batch
    contract verbatim.

    Plan/scale: streaming state is the index being built — one row
    per vector, nothing evicted by design (an index grows; production
    checkpoints to a store sink, here it lands as the codes parquet
    exactly like the BM25 postings). Per-batch work is the map-side
    Arrow assignment + one state upsert; query-time work is the
    serving read over cell-pruned candidates."""
    import numpy as np

    from vector_db_core_spark.operators.llm import (
        _IVFPQ_NPROBE,
        _PQ_K,
        _PQ_NB,
        _PQ_SD,
        _ivfpq_serve_from_codes,
        _pq_block_dists,
        _pq_int_inputs,
    )

    x, cb = _pq_int_inputs(spark, sf_dir)
    (qrow,) = x.where(F.col("vec_id") == 0).select("xm").collect()
    qm = np.asarray(qrow.xm, dtype=np.int64)
    cqd = _pq_block_dists(qm.reshape(1, _PQ_NB, _PQ_SD), cb)[0]
    qfull = cqd.sum(axis=0)
    probe = sorted(range(_PQ_K), key=lambda c: (qfull[c], c))[:_IVFPQ_NPROBE]
    bcb = spark.sparkContext.broadcast(cb)

    key = f"ivfcells_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}"
    root = os.path.join(_REPLAY_ROOT, key)
    shutil.rmtree(root, ignore_errors=True)
    landing = os.path.join(root, "landing")
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    e.repartition(4).write.mode("overwrite").parquet(landing)
    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<cell: int, codes: string>")
    def _assign(vs):
        import pandas as pd

        cbv = bcb.value
        nb, k, sd = cbv.shape
        xi = np.array(
            [np.asarray(v, dtype=np.int64) for v in vs], dtype=np.int64
        )
        n = xi.shape[0]
        d2 = _pq_block_dists(xi.reshape(n, nb, sd), cbv)
        return pd.DataFrame(
            {
                "cell": d2.sum(axis=1).argmin(axis=1).astype("int32"),
                "codes": [
                    ",".join(map(str, c)) for c in d2.argmin(axis=2)
                ],
            }
        )

    # micro-quantization stays a SPARK expression inside the stream
    # (round-half-up — np.rint would round half-even and silently
    # break the shared integer contract on an exact .5 tie)
    xm = F.expr(
        "transform(cast(embedding as array<double>),"
        " v -> cast(round(v * 1000000.0, 0) as bigint))"
    )
    assigned = stream.select("vec_id", _assign(xm).alias("s")).select(
        "vec_id", F.col("s.cell").alias("cell"), F.col("s.codes").alias("codes")
    )
    index_state = assigned.groupBy("vec_id", "cell", "codes").agg(
        F.count("*").alias("n_upserts")
    )
    _run_to_memory(index_state, "stream_replay_ivf", root, "update")
    index_path = os.path.join(root, "codes")
    (
        spark.table("stream_replay_ivf")
        .select("vec_id", "cell", "codes")
        .distinct()
        .select(
            "vec_id",
            F.expr("transform(split(codes, ','), x -> cast(x as int))").alias(
                "codes"
            ),
            "cell",
        )
        .write.mode("overwrite")
        .parquet(index_path)
    )
    return _ivfpq_serve_from_codes(
        spark.read.parquet(index_path), x, qm, cqd, probe
    )



TAG_MIN_CHARS = 5
TAG_TOP_K = 20

_TOPK_TAGS_SQL = rf"""
WITH tok AS (SELECT unnest(list_filter(string_split_regex(text, '\s+'),
                                       x -> x <> '')) AS tag
             FROM documents),
c AS (SELECT tag, CAST(COUNT(*) AS BIGINT) AS n
      FROM tok WHERE len(tag) >= {TAG_MIN_CHARS} GROUP BY tag)
SELECT CAST(rk AS BIGINT) AS rank, tag, n
FROM (SELECT tag, n, row_number() OVER (ORDER BY n DESC, tag) AS rk FROM c)
WHERE rk <= {TAG_TOP_K}
"""


@register("streaming_topk_hashtags_replay", oracle=_TOPK_TAGS_SQL)
def streaming_topk_hashtags_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRENDING-TERMS TOP-K over STREAMING-MAINTAINED counts — the
    third maintained index beside the BM25 postings and the IVF
    cells: the trending-hashtags board every feed product runs is a
    frequency table updated per arriving batch plus a bounded
    read-side top-k. The documents fixture lands as 4 files consumed
    one per trigger; the STREAMING ENGINE maintains per-tag counts as
    update-mode state; the final board ranks the drained state by
    (count DESC, tag) — deterministic — and carries the equivalent
    batch SQL as its oracle. Tag extraction here is "token of
    >= {TAG_MIN_CHARS} chars" (the fixture carries no '#' markup; a
    real deployment swaps ONLY the extraction predicate — the
    maintained-state plumbing is identical).

    Replay-deterministic: per-tag counts are arrival-order
    independent; update-mode re-emissions are folded by a max-per-key
    finisher (counts are monotone per key — the BM25 replay's
    discipline), and the top-k orders on exact integers with a total
    tiebreak.

    Plan/scale: streaming state is the tag frequency table (vocab-
    bounded, never evicted by design — a frequency board, like an
    index, grows with vocabulary not traffic); one shuffle per batch,
    map-side partials first. The read is a TakeOrderedAndProject over
    the state. At true firehose scale the exact table swaps to a
    count-min + heavy-hitters sketch (the documented sketch family)
    with the same update/read split."""
    from pyspark.sql import Window as W

    from vector_db_core_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    key = f"tags_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}"
    root = os.path.join(_REPLAY_ROOT, key)
    shutil.rmtree(root, ignore_errors=True)
    landing = os.path.join(root, "landing")
    docs.repartition(4).write.mode("overwrite").parquet(landing)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    counts = (
        stream.select(F.explode(tokens("text")).alias("tag"))
        .where(F.length("tag") >= TAG_MIN_CHARS)
        .groupBy("tag")
        .agg(F.count("*").alias("n"))
    )
    _run_to_memory(counts, "stream_replay_tags", root, "update")
    state = (
        spark.table("stream_replay_tags")
        .groupBy("tag")
        .agg(F.max("n").cast("bigint").alias("n"))
    )
    rk = F.row_number().over(W.orderBy(F.col("n").desc(), F.col("tag")))
    return (
        state.select(rk.cast("bigint").alias("rank"), "tag", "n")
        .where(F.col("rank") <= TAG_TOP_K)
    )


def _contam_stream_oracle() -> str:
    from vector_db_core_spark.operators.pipeline import _CONTAM_SQL

    return _CONTAM_SQL


@register("streaming_contamination_guard_replay", oracle=_contam_stream_oracle())
def streaming_contamination_guard_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CONTAMINATION GUARD AT INGESTION — the streaming twin of
    ``pipeline_contamination_ngram_overlap`` and the deployment shape
    a benchmark-respecting pipeline actually runs: the training span
    vocabulary is a STATIC reference table; candidate eval documents
    ARRIVE (here the held-out md5-'f' split lands as 4 files consumed
    one per trigger), each arriving doc's spans stream-static
    LEFT-join the train set, and per-doc hit counts are maintained as
    update-mode state. The final report reads the drained state
    through the identical flag arithmetic and carries the batch op's
    DuckDB oracle VERBATIM.

    Replay-deterministic: per-(doc, span) hits are stateless facts
    (the static side never changes mid-replay) and the per-doc
    aggregation is arrival-order independent; update-mode
    re-emissions fold by max-per-key (counts are monotone per doc —
    the streaming-BM25 finisher discipline).

    Plan/scale: the static train-span DISTINCT is computed once and
    the stream side joins it per micro-batch (stream-static hash
    join on the span key — Spark's supported unbounded-stream shape,
    no watermark needed because the static side is a table, not a
    stream); streaming state is one row per ARRIVING doc (eval sets
    are small by definition — state is candidate-sized, not
    corpus-sized). The measured caveat: Spark's stream-static join
    RE-EXCHANGES the static plan every trigger, so the span table
    shuffles once per micro-batch (persisting it removes the
    recompute, not the exchange — 36 -> 11.7 s at ~sf1). At 100 TB
    the span table is the bucketed ARTIFACT the batch
    decontamination pass already writes — a storage-partitioned join
    on the span key moves only the arriving batch's spans — and at
    eval-set rates a bloom pre-filter on the static side is the
    cheaper guard."""
    from vector_db_core_spark.functions.text import tokens
    from vector_db_core_spark.operators.pipeline import CONTAM_SPAN_W, _docs

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        "source",
        (
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) == "f"
        ).alias("is_test"),
        tokens(F.col("text")).alias("toks"),
    ).where(F.size("toks") >= CONTAM_SPAN_W)

    def spans(df):
        return df.select(
            "doc_id",
            "source",
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.sequence(
                            F.lit(1), F.size("toks") - (CONTAM_SPAN_W - 1)
                        ),
                        lambda i: F.concat_ws(
                            " ", F.slice(F.col("toks"), i, CONTAM_SPAN_W)
                        ),
                    )
                )
            ).alias("span"),
        )

    # persist the STATIC side: a stream-static join re-evaluates the
    # static plan per micro-batch — uncached, the train-span DISTINCT
    # ran once per trigger (measured 36 s at ~sf1 for a 9.5 s batch
    # op; cached it is computed once and every batch hits memory)
    train = (
        spans(docs.where(~F.col("is_test")))
        .select(F.col("span").alias("tr_span"))
        .distinct()
        .persist()
    )

    key = f"contam_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}"
    root = os.path.join(_REPLAY_ROOT, key)
    shutil.rmtree(root, ignore_errors=True)
    landing = os.path.join(root, "landing")
    test_docs = docs.where(F.col("is_test")).select(
        "doc_id", "source", "toks"
    )
    test_docs.repartition(4).write.mode("overwrite").parquet(landing)
    stream = (
        spark.readStream.schema(test_docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    hit = F.when(F.col("tr_span").isNotNull(), 1).otherwise(0)
    per_doc = (
        spans(stream)
        .join(train, F.col("span") == F.col("tr_span"), "left")
        .select("doc_id", "source", hit.alias("hit"))
        .groupBy("doc_id", "source")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum("hit").alias("n_hits"),
        )
    )
    try:
        _run_to_memory(per_doc, "stream_replay_contam", root, "update")
    finally:
        train.unpersist()
    state = (
        spark.table("stream_replay_contam")
        .groupBy("doc_id", "source")
        .agg(
            F.max("n_spans").cast("bigint").alias("n_spans"),
            F.max("n_hits").cast("bigint").alias("n_contaminated"),
        )
    )
    return state.select(
        "doc_id",
        "source",
        "n_spans",
        "n_contaminated",
        F.round(
            F.col("n_contaminated").cast("double") / F.col("n_spans"), 6
        ).alias("contamination_rate"),
        (F.col("n_contaminated") * 5 >= F.col("n_spans")).alias("flagged"),
    )
