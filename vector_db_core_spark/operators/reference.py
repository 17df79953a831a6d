"""Reference-surface operators (SURVEY.md §2.1, rows E1-E9/S1-S2).

The reference's entire query surface is ordinal-addressed retrieval:
``pull(i)`` / ``pullx(i, n)`` / ``len()`` / ``getall()``
(/root/reference/src/vector_engine.rs:10-54). The ``events`` fixture
plays the append log: its ``event_id`` is the dense 0-based insertion
ordinal (verified dense 0..N-1), i.e. exactly the ``rowid`` an
``OrdinalStore`` materializes at ingest (store.py).

Each operator here is the *query-side* mapping; the write-side
(push/pushx with rowid assignment) is exercised by tests/test_store.py
against temp parquet stores, since the fixtures are read-only.

Scale notes: point and range reads are single pushed-down predicates
on the ordinal column — with rowid-ordered row groups, Parquet min/max
stats prune to the few overlapping row groups, the Spark analog of the
reference's O(1) offset arithmetic
(dynamic_vector_manage_service.rs:226-242,332-359). No shuffle in any
of these plans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vector_db_core_spark.operators.registry import register
from vector_db_core_spark.sources import load_table


@register(
    "ref_pull_point",
    oracle="SELECT * FROM events WHERE event_id = 4242",
)
def ref_pull_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3/E7 `pull`/`get`: point read by ordinal → pushed-down equality."""
    return load_table(spark, sf_dir, "events").where(F.col("event_id") == 4242)


@register(
    "ref_pullx_range",
    oracle="SELECT * FROM events WHERE event_id BETWEEN 1000 AND 1499",
)
def ref_pullx_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4/E8 `pullx`/`getx`: contiguous range read → pushed-down BETWEEN."""
    return load_table(spark, sf_dir, "events").where(F.col("event_id").between(1000, 1499))


@register(
    "ref_len",
    oracle="SELECT COUNT(*) AS len FROM events",
)
def ref_len(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 `len`: record count — metadata-only against Parquet footers."""
    return load_table(spark, sf_dir, "events").agg(F.count("*").alias("len"))


@register(
    "ref_is_empty",
    oracle="SELECT COUNT(*) = 0 AS is_empty FROM events",
)
def ref_is_empty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6 `is_empty` = len()==0 (vector_engine.rs:30-32)."""
    return load_table(spark, sf_dir, "events").agg((F.count("*") == 0).alias("is_empty"))


@register(
    "ref_getall",
    oracle="SELECT * FROM events",
)
def ref_getall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E9 `getall`: full scan (vector_engine.rs:47-53)."""
    return load_table(spark, sf_dir, "events")


@register(
    "ref_out_of_bounds",
    oracle="SELECT * FROM events WHERE event_id = 999999999",
)
def ref_out_of_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E7 `get` past the end: empty result, not a panic (vector_engine.rs:33-39)."""
    return load_table(spark, sf_dir, "events").where(F.col("event_id") == 999999999)


@register(
    "ref_snapshot_asof",
    oracle="SELECT * FROM events WHERE event_id < 5000",
)
def ref_snapshot_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot / time-travel read (``OrdinalStore.snapshot``): the
    store exactly as it was when it held 5000 rows. Append-only +
    dense monotone ordinals means a historical LENGTH fully identifies
    a historical STATE, so version reads are a pushed-down
    ``rowid < n`` range — the capability a lakehouse table format
    implements with version manifests, free here by construction.
    [EXT] beyond the reference: its length header
    (vector_engine.rs:92-94) already IS the version number, but the
    Rust store exposes no as-of read; SURVEY §1.4 notes its readers
    always chase the live header.
    """
    return load_table(spark, sf_dir, "events").where(F.col("event_id") < 5000)


@register(
    "ref_schema_evolution",
    oracle="""
    SELECT event_id, user_id,
           CASE WHEN event_id < 3000 THEN NULL ELSE event_type END AS event_type,
           CASE WHEN event_id < 3000 THEN NULL ELSE value END AS value
    FROM events WHERE event_id < 6000
    """,
)
def ref_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADD-COLUMN schema evolution under the full hash gate (r7
    verdict task 7): two ``pushx`` batches with DIFFERENT schemas —
    the first 3,000 events as (event_id, user_id), the next 3,000
    with two added columns (event_type, value) — then one merged
    read. ``mergeSchema`` reconciles the footers and the older rows
    surface NULL for the later columns (store.py pushx docstring);
    the oracle states that exact NULL-backfill from the fixture, so
    DuckDB verifies the merged values, not just the row count.
    [EXT] beyond the reference: its record schema is fixed at compile
    time (dynamic-vector-macro — SURVEY §1.2); evolution is purely
    the Spark-side capability.

    The store is (re)built in a session-temp dir per sf_dir — a
    bounded 6,000-row write; the returned DataFrame is the store's
    merged-footer read, so the gate exercises the real pushx →
    parquet append → mergeSchema path, not a simulation of it.
    Scale: evolution costs one footer read per file at planning time
    (compact() amortizes it); NULL backfill is metadata-only."""
    import hashlib
    import os
    import shutil
    import tempfile

    from vector_db_core_spark.store import OrdinalStore

    ev = load_table(spark, sf_dir, "events").where(F.col("event_id") < 6000)
    b1 = ev.where(F.col("event_id") < 3000).select("event_id", "user_id")
    b2 = ev.where(F.col("event_id") >= 3000).select(
        "event_id", "user_id", "event_type", "value"
    )
    from vector_db_core_spark.scratch import reap_at_exit

    # pid-keyed scratch: concurrent consumers over the same fixture
    # (parallel pytest workers, bench beside a sweep) must not race
    # each other's rmtree/pushx sequence (round-8 advice); reaped at
    # process exit (round-9 review finding)
    path = reap_at_exit(
        tempfile.gettempdir()
        + f"/spark_graft_schema_evo_{hashlib.md5(sf_dir.encode()).hexdigest()[:6]}"
        + f"_{os.getpid()}"
    )
    shutil.rmtree(path, ignore_errors=True)
    store = OrdinalStore(spark, path)
    store.pushx(b1, deterministic_source=True)
    store.pushx(b2, deterministic_source=True)
    return store.getall(ordered=False).select(
        "event_id", "user_id", "event_type", "value"
    )


@register(
    "ref_compact_preserves_content",
    oracle="""
    SELECT event_id, user_id, event_type
    FROM events WHERE event_id < 4000
    """,
)
def ref_compact_preserves_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPACTION under the full hash gate: 8 small ``pushx`` batches
    (the append-heavy small-file pathology every log-structured store
    accumulates), then ``compact()`` rewrites the store into few
    range-partitioned files — and the merged read AFTER compaction
    must hash-match the fixture-stated expected content exactly
    (rowids, values, row count all preserved; compact() additionally
    self-checks the count before its atomic swap). The maintenance
    operation the reference's dense blob file never needs but any
    parquet-backed store does (SURVEY §2.1 E-row evidence beyond
    pytest: tests/test_store.py covers span tiling; this row puts the
    content-preservation contract under the cross-engine gate).

    Scale: compact is ONE repartitionByRange + sorted write — the
    standard offline maintenance job; file count drops 8 → 1 here
    (asserted by tests/test_store.py compaction pins at larger
    geometries)."""
    import hashlib
    import os
    import shutil
    import tempfile

    from vector_db_core_spark.store import OrdinalStore

    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_id") < 4000)
        .select("event_id", "user_id", "event_type")
    )
    from vector_db_core_spark.scratch import reap_at_exit

    # pid-keyed scratch, same rationale as ref_schema_evolution
    path = reap_at_exit(
        tempfile.gettempdir()
        + f"/spark_graft_compact_{hashlib.md5(sf_dir.encode()).hexdigest()[:6]}"
        + f"_{os.getpid()}"
    )
    shutil.rmtree(path, ignore_errors=True)
    store = OrdinalStore(spark, path)
    for i in range(8):
        store.pushx(
            ev.where(F.col("event_id") % 8 == i), deterministic_source=True
        )
    store.compact()
    return store.getall(ordered=False).select("event_id", "user_id", "event_type")
