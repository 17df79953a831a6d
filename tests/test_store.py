"""OrdinalStore round-trips — the new-engine versions of the
reference's save/load assertions (sample_data_test.rs:79-108,
dynamic_vector_manage_service.rs:362-518)."""

from __future__ import annotations

import contextlib
import uuid

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from vector_db_core_spark.store import OrdinalStore, with_dense_rowid

SCHEMA = (
    "my_number1 INT, my_string1 STRING, my_number2 INT, "
    "my_boolean1 BOOLEAN, my_string2 STRING"
)


def sample_rows(n, start=0):
    """SampleData generator from FIXTURES.md §1 (sample_data_test.rs:84-93)."""
    return [
        Row(
            my_number1=i,
            my_string1=f"Hello, World! 你好世界 {i}",
            my_number2=i * 10,
            my_boolean1=i % 2 == 0,
            my_string2=f"This is another longer string. {i}",
        )
        for i in range(start, start + n)
    ]


def test_dense_rowid_is_dense_and_stable(spark):
    df = spark.range(0, 10_000, 1, 8).select(F.col("id").alias("payload"))
    out = with_dense_rowid(df, start=0)
    stats = out.agg(
        F.count("*").alias("n"),
        F.countDistinct("rowid").alias("n_distinct"),
        F.min("rowid").alias("lo"),
        F.max("rowid").alias("hi"),
    ).collect()[0]
    assert stats.n == 10_000
    assert stats.n_distinct == 10_000  # dense ⇒ no collisions
    assert stats.lo == 0
    assert stats.hi == 9_999


def test_push_pull_roundtrip(spark, tmp_path):
    store = OrdinalStore(spark, str(tmp_path / "s1"))
    assert store.is_empty()
    store.pushx(spark.createDataFrame(sample_rows(1000), schema=SCHEMA))
    assert store.count() == 1000
    assert not store.is_empty()

    row = store.pull_row(999)  # reference asserts objs[COUNT-1].id == COUNT-1
    assert row.my_number1 == 999
    assert row.my_string1.endswith("你好世界 999")
    assert row.my_number2 == 9990
    assert row.my_boolean1 is False

    rng = store.pullx(100, 50).collect()
    assert [r.rowid for r in rng] == list(range(100, 150))
    assert [r.my_number1 for r in rng] == list(range(100, 150))


def test_append_continues_ordinals(spark, tmp_path):
    """Two-phase append-read-append-read
    (cache_engine_performance_test.rs:227-264)."""
    store = OrdinalStore(spark, str(tmp_path / "s2"))
    first = store.pushx(spark.createDataFrame(sample_rows(500), schema=SCHEMA))
    assert first == 0
    second = store.pushx(spark.createDataFrame(sample_rows(500, start=500), schema=SCHEMA))
    assert second == 500
    assert store.count() == 1000
    # ordinals stay dense across appends and payload follows ordinal
    all_rows = store.getall().select("rowid", "my_number1").collect()
    assert [r.rowid for r in all_rows] == list(range(1000))
    assert all(r.rowid == r.my_number1 for r in all_rows)


def test_bounds_semantics(spark, tmp_path):
    store = OrdinalStore(spark, str(tmp_path / "s3"))
    store.pushx(spark.createDataFrame(sample_rows(10), schema=SCHEMA))
    # get/getx → None out of bounds (vector_engine.rs:33-46)
    assert store.get(10) is None
    assert store.getx(5, 6) is None
    assert store.getx(0, 10) is not None
    # pull/pullx → raise like the reference's panic
    import pytest

    with pytest.raises(IndexError):
        store.pull(10)
    with pytest.raises(IndexError):
        store.pullx(8, 3)


def test_crash_orphan_files_are_invisible_and_dropped(spark, tmp_path):
    """What a crashed write leaves — a data file named at the committed
    length, a staging directory, a manifest temp file — is invisible to
    reads (they stop at the committed length), and the next pushx
    deletes it and reuses those ordinals for its own rows."""
    import os

    from vector_db_core_spark.store import _file_name, with_list_rowid

    path = str(tmp_path / "s5")
    store = OrdinalStore(spark, path, schema="a INT, b STRING")
    store.pushx([{"a": i, "b": "kept"} for i in range(100)])
    orphan_src = str(tmp_path / "orphan")
    with_list_rowid(
        spark.createDataFrame([(100 + i, "orphan") for i in range(10)], "a INT, b STRING"), 100
    ).write.parquet(orphan_src)
    part = next(f for f in os.listdir(orphan_src) if f.endswith(".parquet"))
    os.rename(os.path.join(orphan_src, part), os.path.join(path, _file_name(100)))
    os.makedirs(os.path.join(path, "_staging", "crashed"))
    open(os.path.join(path, "_meta.crashed.tmp"), "w").close()

    reopened = OrdinalStore(spark, path, schema="a INT, b STRING")  # like a restart
    assert reopened.count() == 100
    assert reopened.getall(ordered=False).where("b = 'orphan'").count() == 0
    assert reopened.pull_row(99).b == "kept"
    with pytest.raises(IndexError):
        reopened.pull(100)

    assert reopened.pushx([{"a": 100 + i, "b": "new"} for i in range(10)]) == 100
    assert sorted(os.listdir(path)) == sorted(
        [_file_name(0), _file_name(100), "_meta.json", "_writer.lock"]
    )
    rows = reopened.getall().collect()
    assert [r.rowid for r in rows] == list(range(110))
    assert [r.b for r in rows] == ["kept"] * 100 + ["new"] * 10


def test_pushx_nondeterministic_source_stays_dense(spark, tmp_path):
    """pushx persists the tagged batch, so even a non-deterministically
    partitioned input (repartition over random keys) gets dense ordinals."""
    store = OrdinalStore(spark, str(tmp_path / "s6"))
    df = (
        spark.createDataFrame(sample_rows(2000), schema=SCHEMA)
        .withColumn("_r", F.rand(seed=7))
        .repartition(16, "_r")
        .drop("_r")
    )
    store.pushx(df)
    stats = store.getall(ordered=False).agg(
        F.count("*").alias("n"),
        F.countDistinct("rowid").alias("d"),
        F.min("rowid").alias("lo"),
        F.max("rowid").alias("hi"),
    ).collect()[0]
    assert (stats.n, stats.d, stats.lo, stats.hi) == (2000, 2000, 0, 1999)


def test_push_single(spark, tmp_path):
    store = OrdinalStore(spark, str(tmp_path / "s4"), schema=SCHEMA)
    store.push({"my_number1": 1, "my_string1": "a", "my_number2": 10, "my_boolean1": True, "my_string2": None})
    assert store.count() == 1
    assert store.pull_row(0).my_string2 is None


def test_concurrent_reads_multithreaded(spark, tmp_path):
    """The reference's multi-thread random-read pattern
    (cache_performance_test.rs:306-366 — Arc-shared engine, N OS
    threads): one store, 8 Python threads issuing random point and
    range reads concurrently. Spark sessions are thread-safe for
    concurrent actions; every read must see the full committed batch."""
    import concurrent.futures
    import random

    from vector_db_core_spark.store import OrdinalStore

    store = OrdinalStore(spark, str(tmp_path / "s"), schema="a INT, b STRING")
    store.pushx([{"a": i, "b": f"v{i}"} for i in range(2000)])
    rng = random.Random(42)
    idxs = [rng.randrange(2000) for _ in range(24)]

    def point_read(i):
        r = store.pull_row(i)
        return (i, r.a, r.b)

    def range_read(i):
        lo = min(i, 1990)
        rows = store.pullx(lo, 10).collect()
        return (lo, [r.a for r in rows])

    with concurrent.futures.ThreadPoolExecutor(max_workers=8) as ex:
        points = list(ex.map(point_read, idxs))
        ranges = list(ex.map(range_read, idxs[:8]))
    for i, a, b in points:
        assert a == i and b == f"v{i}"
    for lo, vals in ranges:
        assert vals == list(range(lo, lo + 10))


def test_two_phase_append_read_append_read(spark, tmp_path):
    """The reference's two-phase extend/getx cycle
    (cache_engine_performance_test.rs:227-264): append, read back,
    append again, read across the batch boundary — ordinals continue
    and both batches are visible with correct values."""
    from vector_db_core_spark.store import OrdinalStore

    store = OrdinalStore(spark, str(tmp_path / "s"), schema="a INT")
    assert store.pushx([{"a": i} for i in range(500)]) == 0
    assert [r.a for r in store.pullx(490, 10).collect()] == list(range(490, 500))
    assert store.pushx([{"a": 500 + i} for i in range(500)]) == 500
    assert store.count() == 1000
    # read spanning the two physical batches
    got = [r.a for r in store.pullx(495, 10).collect()]
    assert got == list(range(495, 505))
    assert store.pull_row(999).a == 999


def test_dense_rowid_property_random_shapes(spark):
    """Property test (hypothesis): for ANY batch size, partitioning and
    start offset, with_dense_rowid yields exactly [start, start+n) with
    no gaps or duplicates — the ordinal invariant the whole store rests
    on. The reference has no property tests (SURVEY §5); the invariant
    here is load-bearing enough to warrant one."""
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=6, deadline=None)
    @given(
        n=st.integers(min_value=0, max_value=3000),
        parts=st.integers(min_value=1, max_value=40),
        start=st.sampled_from([0, 1, 1000, 2**33]),
    )
    def check(n, parts, start):
        df = spark.range(0, n, 1, parts).select(F.col("id").alias("payload"))
        out = with_dense_rowid(df, start=start)
        if n == 0:
            assert out.count() == 0
            return
        stats = out.agg(
            F.count("*").alias("c"),
            F.countDistinct("rowid").alias("d"),
            F.min("rowid").alias("lo"),
            F.max("rowid").alias("hi"),
        ).collect()[0]
        assert (stats.c, stats.d, stats.lo, stats.hi) == (n, n, start, start + n - 1)

    check()


def test_compact_collapses_files_and_preserves_rowids(spark, tmp_path):
    """20 tiny appends → many files; compact(2) → 2 range-partitioned
    files with identical data, continuing pruning, and a working
    subsequent append."""
    store = OrdinalStore(spark, str(tmp_path / "s"), schema="a INT")
    for b in range(20):
        store.pushx([{"a": b * 50 + i} for i in range(50)])
    before = store.stats()
    assert len(before) >= 20
    assert store.compact(n_files=2) == 1000
    after = store.stats()
    assert len(after) == 2
    # files cover contiguous, disjoint rowid ranges (pruning-friendly)
    assert after[0].min_rowid == 0 and after[-1].max_rowid == 999
    assert after[0].max_rowid + 1 == after[1].min_rowid
    # data identical
    rows = store.getall().select("rowid", "a").collect()
    assert [r.rowid for r in rows] == list(range(1000))
    assert all(r.rowid == r.a for r in rows)
    # range predicate still reaches the scan
    plan = store.pullx(500, 10)._jdf.queryExecution().explainString(
        store.pullx(500, 10)._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "GreaterThanOrEqual(rowid,500)" in plan
    # appends continue past compaction
    assert store.pushx([{"a": 1000 + i} for i in range(10)]) == 1000
    assert store.count() == 1010


def test_schema_evolution_added_column(spark, tmp_path):
    """A later batch may add a nullable column; reads merge schemas and
    old rows surface NULL — the [EXT] capability the reference's
    compile-time schemas rule out."""
    store = OrdinalStore(spark, str(tmp_path / "s"))
    store.pushx(spark.createDataFrame([(i,) for i in range(50)], "a INT"))
    store.pushx(spark.createDataFrame([(50 + i, f"x{i}") for i in range(50)], "a INT, b STRING"))
    rows = store.getall().collect()
    assert len(rows) == 100
    assert set(rows[0].asDict()) == {"a", "rowid", "b"}
    by_id = {r.rowid: r for r in rows}
    assert by_id[10].b is None          # old rows: NULL for the new column
    assert by_id[60].b == "x10"         # new rows carry it
    assert store.pull_row(99).a == 99   # ordinals unaffected


def test_pushx_deterministic_source_flag(spark, tmp_path):
    """deterministic_source=True (no safety persist) still yields dense
    ordinals for a file/range-style input, and composes with appends."""
    store = OrdinalStore(spark, str(tmp_path / "s"))
    batch = spark.range(0, 5000, 1, 16).selectExpr("CAST(id AS INT) AS a")
    assert store.pushx(batch, deterministic_source=True) == 0
    assert store.pushx(batch, deterministic_source=True) == 5000
    stats = store.getall(ordered=False).agg(
        F.count("*").alias("n"), F.countDistinct("rowid").alias("d"),
        F.min("rowid").alias("lo"), F.max("rowid").alias("hi"),
    ).collect()[0]
    assert (stats.n, stats.d, stats.lo, stats.hi) == (10000, 10000, 0, 9999)


def test_concurrent_writers_serialize(spark, tmp_path):
    """Two threads appending through one instance must produce dense,
    unique ordinals (the reference serializes writers on a mutex;
    without the write lock the interleaved count/write/meta steps
    would assign overlapping rowids)."""
    import threading

    store = OrdinalStore(spark, str(tmp_path / "s"), schema="a INT")
    batches = [[{"a": t * 1000 + i} for i in range(500)] for t in range(4)]
    errs: list[Exception] = []

    def writer(rows):
        try:
            store.pushx(rows)
        except Exception as ex:  # pragma: no cover
            errs.append(ex)

    threads = [threading.Thread(target=writer, args=(b,)) for b in batches]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    stats = store.getall(ordered=False).agg(
        F.count("*").alias("n"), F.countDistinct("rowid").alias("d"),
        F.min("rowid").alias("lo"), F.max("rowid").alias("hi"),
    ).collect()[0]
    assert (stats.n, stats.d, stats.lo, stats.hi) == (2000, 2000, 0, 1999)


def test_cross_process_writer_lock_blocks(spark, tmp_path):
    """A second OS process holding the store's writer flock delays
    pushx until it releases — cross-process writer serialization the
    reference's in-process Mutex cannot provide."""
    import os
    import subprocess
    import sys
    import time

    store = OrdinalStore(spark, str(tmp_path / "s"), schema="a INT")
    store.pushx([{"a": 1}])  # creates the store dir + lock file
    holder = subprocess.Popen(
        [
            sys.executable,
            "-c",
            (
                "import fcntl, os, sys, time\n"
                f"fd = os.open({os.path.join(str(tmp_path / 's'), '_writer.lock')!r},"
                " os.O_CREAT | os.O_RDWR)\n"
                "fcntl.flock(fd, fcntl.LOCK_EX)\n"
                "print('locked', flush=True)\n"
                "time.sleep(4)\n"
            ),
        ],
        stdout=subprocess.PIPE,
        text=True,
    )
    assert holder.stdout.readline().strip() == "locked"
    t0 = time.monotonic()
    store.pushx([{"a": 2}])
    elapsed = time.monotonic() - t0
    holder.wait(timeout=30)
    assert elapsed >= 2.5, f"pushx did not wait for the flock ({elapsed:.1f}s)"
    assert store.count() == 2


def test_snapshot_time_travel(spark, tmp_path):
    """snapshot(n) reproduces the exact historical state at length n:
    append twice, snapshot at the first commit point, get the first
    batch bit-for-bit; out-of-range lengths (never-existed states)
    raise; the predicate is pushed to the scan like any rowid range."""
    from vector_db_core_spark.store import OrdinalStore

    store = OrdinalStore(spark, str(tmp_path / "s"), schema="a INT, b STRING")
    store.pushx([{"a": i, "b": f"v{i}"} for i in range(100)])
    cut = store.count()
    store.pushx([{"a": i, "b": f"w{i}"} for i in range(100, 250)])
    snap = store.snapshot(cut)
    assert snap.count() == 100
    assert [r.a for r in snap.collect()] == list(range(100))
    assert store.count() == 250
    plan = snap._jdf.queryExecution().explainString(
        snap._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "LessThan(rowid,100)" in plan  # pushed to the parquet scan
    import pytest

    with pytest.raises(IndexError):
        store.snapshot(251)


def test_snapshot_survives_compaction(spark, tmp_path):
    """snapshot(n)'s claim that compaction preserves historical states:
    rewrite the store's file layout, then read the pre-compaction
    commit point — identical rows, because compact() preserves rowids
    and snapshots are pure rowid ranges."""
    from vector_db_core_spark.store import OrdinalStore

    store = OrdinalStore(spark, str(tmp_path / "s"), schema="a INT, b STRING")
    for batch in range(5):
        store.pushx([{"a": batch * 50 + i, "b": f"r{batch}_{i}"} for i in range(50)])
    cut = 120
    before = [(r.a, r.b) for r in store.snapshot(cut).collect()]
    store.compact(n_files=2)
    after = [(r.a, r.b) for r in store.snapshot(cut).collect()]
    assert before == after and len(after) == cut


def test_export_ordered_tiles_range_without_shuffle(spark, tmp_path):
    """export_ordered's contract: per-file spans tile 0..n-1 exactly
    (validated by ordered_spans), the concatenated frames replay the
    corpus in insertion order with no Exchange anywhere in any plan,
    and the property survives compact()."""
    from vector_db_core_spark.store import OrdinalStore

    store = OrdinalStore(spark, str(tmp_path / "s"), schema="a INT, b STRING")
    for batch in range(4):
        df = spark.createDataFrame(
            [(batch * 100 + i, f"r{batch}_{i}") for i in range(100)], "a INT, b STRING"
        ).repartition(8)
        store.pushx(df)

    def replay():
        out, expected_lo = [], 0
        for lo, hi, frame in store.export_ordered():
            assert lo == expected_lo
            expected_lo = hi + 1
            plan = frame._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan
            rows = frame.select("rowid", "a").collect()
            assert [r.rowid for r in rows] == list(range(lo, hi + 1))
            out.extend(r.a for r in rows)
        assert expected_lo == 400
        return out

    ordered_a = replay()
    # rowid order is partition order at push time (repartition(8)
    # scrambles `a`), but each batch's 100 values stay within that
    # batch's rowid block and nothing is lost or duplicated
    assert sorted(ordered_a) == list(range(400))
    for batch in range(4):
        block = ordered_a[batch * 100 : (batch + 1) * 100]
        assert sorted(block) == list(range(batch * 100, (batch + 1) * 100))

    store.compact(n_files=3)
    assert replay() == ordered_a


def test_read_ordered_single_frame_no_sort_no_exchange(spark, tmp_path):
    """read_ordered() returns ONE DataFrame honoring getall(ordered)'s
    row order with neither Sort nor Exchange in the executed plan
    (in-contract layout: every file under one split), and survives
    compact(). getall(ordered=True) is the semantic oracle."""
    from vector_db_core_spark.store import OrdinalStore

    store = OrdinalStore(spark, str(tmp_path / "s"), schema="a INT, b STRING")
    for batch in range(4):
        df = spark.createDataFrame(
            [(batch * 100 + i, f"r{batch}_{i}") for i in range(100)], "a INT, b STRING"
        ).repartition(8)
        store.pushx(df)

    def check():
        frame = store.read_ordered()
        plan = frame._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "Sort" not in plan, plan
        got = [(r.rowid, r.a, r.b) for r in frame.collect()]
        want = [(r.rowid, r.a, r.b) for r in store.getall(ordered=True).collect()]
        assert got == want and len(got) == 400
        # global order without an ORDER BY: rowids arrive 0..n-1
        assert [g[0] for g in got] == list(range(400))

    check()
    store.compact(n_files=3)
    check()


def test_read_ordered_oversize_file_falls_back_locally(spark, tmp_path):
    """A file bigger than one split can't promise scan order, so ONLY
    that file drops to coalesce(1)+local sort — correctness holds and
    there is still no Exchange anywhere."""
    from pyspark.sql import functions as F

    from vector_db_core_spark.store import OrdinalStore

    store = OrdinalStore(spark, str(tmp_path / "s"), schema="a INT")
    store.pushx(spark.range(5000).select(F.col("id").cast("int").alias("a")))
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        # force every file "oversize" so the fallback path is the one under test
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
        frame = store.read_ordered()
        plan = frame._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "Sort" in plan  # the documented file-local fallback
        assert [r.rowid for r in frame.collect()] == list(range(5000))
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_read_ordered_empty_store_matches_getall(spark, tmp_path):
    """Never-written store: read_ordered raises the same declared
    condition getall does (no data directory yet) — parity, not a
    silent empty frame."""
    import pytest
    from pyspark.errors.exceptions.captured import AnalysisException

    from vector_db_core_spark.store import OrdinalStore

    store = OrdinalStore(spark, str(tmp_path / "s"), schema="a INT")
    with pytest.raises(AnalysisException):
        store.getall()
    with pytest.raises(AnalysisException):
        store.read_ordered()


def test_pushx_files_are_rowid_ordered_without_sort(spark, tmp_path):
    """pushx writes without a sortWithinPartitions — the rowid is
    provably in physical row order within every partition (offset +
    the low-33-bit record counter of monotonically_increasing_id, a
    per-row projection that keeps row order). Pin the
    invariant the row-group pruning relies on: within every written
    parquet file, rowids appear strictly increasing.

    The check reads files directly: the old proxy — monotonically_increasing_id
    within input_file_name — was itself only valid while Spark read
    each file as a single split (true at 50k rows, unreliable for
    files >128MB). Read every file with ONE pyarrow reader instead (a
    per-file physical-order read at any file size) and additionally
    assert the parquet footer's per-row-group min/max stats are
    monotone — the exact metadata the row-group pruning consults — so
    a future join-strategy change that reorders rows fails loudly."""
    import glob
    import os

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from vector_db_core_spark.store import ROWID, OrdinalStore

    store = OrdinalStore(spark, str(tmp_path / "s"))
    batch = spark.range(0, 50_000, 1, 8).select(
        F.col("id").cast("int").alias("a"),
        F.concat(F.lit("v"), F.col("id")).alias("b"),
    )
    store.pushx(batch, deterministic_source=True)
    # second append exercises the offset path
    store.pushx(batch, deterministic_source=True)
    files = sorted(
        glob.glob(os.path.join(store.path, "**", "*.parquet"), recursive=True)
    )
    assert files, "store wrote no parquet files"
    for path in files:
        pf = pq.ParquetFile(path)
        idx = pf.schema_arrow.get_field_index(ROWID)
        assert idx >= 0
        prev_max = None
        for rg in range(pf.metadata.num_row_groups):
            st = pf.metadata.row_group(rg).column(idx).statistics
            assert st is not None and st.has_min_max, (
                f"{path} rg{rg}: no min/max stats — pruning is blind"
            )
            if prev_max is not None:
                assert st.min > prev_max, (
                    f"{path} rg{rg}: row-group stats overlap"
                )
            prev_max = st.max
        vals = pf.read(columns=[ROWID]).column(ROWID).to_pylist()
        assert all(a < b for a, b in zip(vals, vals[1:])), (
            f"{path}: rowids not strictly increasing in physical order"
        )
    assert store.count() == 100_000


def _parquet_files(path):
    import os

    return sorted(f for f in os.listdir(path) if f.endswith(".parquet"))


def test_first_read_after_a_write_is_one_job(spark, tmp_path, job_count):
    """A point read launches only its own scan, also right after a
    write: the manifest carries the store schema, so no read infers it,
    and the scan opens the one file that holds the ordinal."""
    store = OrdinalStore(spark, str(tmp_path / "s"), schema=SCHEMA)
    store.pushx(sample_rows(300))
    store.pushx(spark.createDataFrame(sample_rows(300, start=300), SCHEMA), deterministic_source=True)
    assert len(_parquet_files(store.path)) >= 2
    _, first = job_count(lambda: store.pull_row(10))
    assert first == 1
    row, n = job_count(lambda: store.pull_row(450))
    assert n == 1
    assert row.rowid == 450 and row.my_number1 == 450
    assert len(store.pull(450).inputFiles()) == 1


def test_dataframe_pushx_has_no_broadcast(spark, tmp_path):
    """Partition offsets reach the rowid as one constant array, not as a
    broadcast side frame joined to the batch: no SQL execution that a
    DataFrame pushx runs has a broadcast exchange or a join."""
    store = OrdinalStore(spark, str(tmp_path / "s"))
    batch = spark.range(0, 4_000, 1, 4).select(F.col("id").cast("int").alias("a"))
    sql_store = spark._jsparkSession.sharedState().statusStore()
    # by execution id, not list position: the status store keeps only
    # the newest spark.sql.ui.retainedExecutions, dropping the oldest
    execs = sql_store.executionsList()
    last = execs.apply(execs.size() - 1).executionId() if execs.size() else -1
    store.pushx(batch)
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = sql_store.executionsList()
    plans = [
        execs.apply(i).physicalPlanDescription()
        for i in range(execs.size())
        if execs.apply(i).executionId() > last
    ]
    assert any("InsertIntoHadoopFsRelationCommand" in p for p in plans)
    for p in plans:
        assert "BroadcastExchange" not in p and "Join" not in p, p
    rowids = [r.rowid for r in store.getall().select("rowid").collect()]
    assert rowids == list(range(4_000))


def test_ingest_buffer_flush_is_one_job_one_file(spark, tmp_path, job_count):
    """A flushed row list is numbered on the driver: one write job, one
    file, ordinals continuing the store's and in push order."""
    from vector_db_core_spark.streaming.ingest import IngestBuffer

    store = OrdinalStore(spark, str(tmp_path / "s"), schema=SCHEMA)
    store.pushx(sample_rows(40))
    files = _parquet_files(store.path)
    buf = IngestBuffer(store, threshold=25)
    for r in sample_rows(24, start=40):
        buf.push(r)
    _, jobs = job_count(lambda: buf.push(sample_rows(1, start=64)[0]))
    assert jobs == 1
    assert buf.lens() == (0, 65, 65)
    assert len(_parquet_files(store.path)) == len(files) + 1
    rows = store.getall().collect()
    assert [r.rowid for r in rows] == list(range(65))
    assert [r.my_number1 for r in rows] == list(range(65))


def test_row_list_pushx_starts_no_python_worker(spark, tmp_path, monkeypatch):
    """A row list enters Spark as Arrow batches: the frame pushx writes
    reads a ParallelCollectionRDD, with no PythonRDD (pickled rows that
    a Python worker must unpickle) anywhere in its lineage."""
    import vector_db_core_spark.store as store_mod

    written = []
    write = store_mod._write_files
    monkeypatch.setattr(store_mod, "_write_files", lambda df, path: (written.append(df), write(df, path)))
    store = OrdinalStore(spark, str(tmp_path / "s"), schema=SCHEMA)
    store.pushx(sample_rows(250))
    lineage = written[0]._jdf.queryExecution().toRdd().toDebugString()
    assert "ParallelCollectionRDD" in lineage and "PythonRDD[" not in lineage, lineage
    assert [r.my_number1 for r in store.getall().collect()] == list(range(250))


@pytest.mark.parametrize("bad", ["7", True, 2**40, 7.0], ids=["string", "bool", "2**40", "float"])
def test_row_list_pushx_rejects_what_create_dataframe_rejects(spark, tmp_path, bad):
    """A value Spark's type verifier rejects in an INT column raises the
    exception createDataFrame raises, before anything is staged: the
    length and the store's files stay as they were."""
    import os

    store = OrdinalStore(spark, str(tmp_path / "s"), schema=SCHEMA)
    store.pushx(sample_rows(3))
    rows = sample_rows(2, start=3) + [{**sample_rows(1, start=5)[0].asDict(), "my_number1": bad}]
    with pytest.raises(Exception) as expected:
        spark.createDataFrame(rows, SCHEMA)
    files = sorted(os.listdir(store.path))
    with pytest.raises(type(expected.value)):
        store.pushx(rows)
    assert store.count() == 3
    assert sorted(os.listdir(store.path)) == files


@pytest.mark.parametrize("tz", ["UTC", "America/New_York"])
def test_row_list_pushx_values_match_create_dataframe(spark, tmp_path, monkeypatch, tz):
    """Every column type a store commonly holds, NULLs and a missing
    dict key included, reads back as createDataFrame builds it; naive
    datetimes too (Spark reads them in the Python process's local
    time), around a daylight-saving gap when that is not UTC."""
    import datetime as dt
    import time

    schema = (
        "i INT, l BIGINT, d DOUBLE, s STRING, b BOOLEAN, n INT, v ARRAY<FLOAT>, "
        "day DATE, ts TIMESTAMP"
    )
    rows = [
        {
            "i": k, "l": k << 40, "d": k / 3, "s": f"s{k}", "b": k % 2 == 0, "n": None,
            "v": [k / 7, None, 1e-3], "day": dt.date(2020, 2, 27 + k),
            "ts": dt.datetime(2021, 3, 14, 1 + k, 30, 5, 123_457),
        }
        for k in range(3)
    ] + [Row(i=9, l=None, d=None, s=None, b=None, n=None, v=None, day=None, ts=None), {"i": 10}]
    monkeypatch.setenv("TZ", tz)
    time.tzset()
    try:
        store = OrdinalStore(spark, str(tmp_path / "s"), schema=schema)
        store.pushx(rows)
        got = store.getall().drop("rowid").collect()
        assert got == spark.createDataFrame(rows, schema).collect()
    finally:
        monkeypatch.undo()
        time.tzset()


def test_schemaless_row_list_pushx_stores_the_inferred_schema(spark, tmp_path):
    """A store without a schema stores the types createDataFrame infers
    from the same dict list."""
    from vector_db_core_spark.store import with_list_rowid

    rows = [{"a": 1, "b": "x", "c": [1.5], "d": True}, {"a": 2, "b": None, "c": None, "d": False}]
    store = OrdinalStore(spark, str(tmp_path / "s"))
    store.pushx(rows)
    assert store._read_meta()["schema"] == with_list_rowid(spark.createDataFrame(rows), 0).schema.jsonValue()
    assert store.getall().drop("rowid").collect() == spark.createDataFrame(rows).collect()


def test_hot_table_serves_point_reads(spark, tmp_path):
    """A warmed hot_table over getall(ordered=False) still answers
    pull(): every store read builds the same relation, so the cached
    plan matches."""
    from vector_db_core_spark.cache import hot_table

    store = OrdinalStore(spark, str(tmp_path / "s"), schema=SCHEMA)
    store.pushx(sample_rows(100))
    store.pushx(sample_rows(100, start=100))
    with hot_table(store.getall(ordered=False), warm=True):
        plan = store.pull(150)._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan, plan
        assert store.pull_row(150).my_number1 == 150


def _input_records(spark, fn):
    """``(fn(), rows its jobs read from storage)``, from Spark's status store."""
    sc = spark.sparkContext
    group = f"input_records_{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    status, rows = jsc.statusStore(), 0
    for job in sc.statusTracker().getJobIdsForGroup(group):
        stages = status.job(job).stageIds()
        rows += sum(status.lastStageAttempt(stages.apply(i)).inputRecords() for i in range(stages.size()))
    return out, rows


def _cached_blocks(spark):
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sorted((i.id(), i.numCachedPartitions(), i.memSize() + i.diskSize()) for i in infos)


def test_hot_table_survives_appends(spark, tmp_path):
    """An append does not drop a hot_table pinned over the store: the
    pin keeps its cached blocks and stays the snapshot at its length,
    the new ordinal reads back, and an old ordinal read after the
    append opens only the file that holds it instead of re-reading the
    whole store into the cache."""
    from vector_db_core_spark.cache import hot_table

    store = OrdinalStore(spark, str(tmp_path / "s"), schema=SCHEMA)
    store.pushx(spark.createDataFrame(sample_rows(2000), SCHEMA))
    with hot_table(store.getall(ordered=False), warm=True) as pinned:
        blocks = _cached_blocks(spark)
        assert blocks and all(parts > 0 for _, parts, _ in blocks)
        store.pushx(sample_rows(50, start=2000))
        store.pushx(spark.createDataFrame(sample_rows(50, start=2050), SCHEMA))
        assert _cached_blocks(spark) == blocks

        assert store.pull_row(2099).my_number1 == 2099
        file_rows = {s.min_rowid: s.n_rows for s in store.stats()}
        holder = max(lo for lo in file_rows if lo <= 5)
        row, read = _input_records(spark, lambda: store.pull_row(5))
        assert row.my_number1 == 5
        assert 0 < read <= file_rows[holder]
        assert _cached_blocks(spark) == blocks
        assert pinned.count() == 2000


def _shuffle_bytes_written(spark):
    """Shuffle bytes every executor has written so far."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    execs = sc.statusStore().executorList(False)
    return sum(execs.apply(i).totalShuffleWrite() for i in range(execs.size()))


def test_hot_table_warm_is_one_job_without_shuffle(spark, tmp_path, job_count):
    """Warming a pin over a many-file store is one job that shuffles
    nothing and leaves every partition cached."""
    from vector_db_core_spark.cache import hot_table

    store = OrdinalStore(spark, str(tmp_path / "s"), schema="a INT")
    for i in range(6):
        store.pushx(spark.range(i * 1000, (i + 1) * 1000, 1, 1).select(F.col("id").cast("int").alias("a")))
    df = store.getall(ordered=False)
    cached = {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}
    before = _shuffle_bytes_written(spark)
    pin, jobs = job_count(lambda: hot_table(df, warm=True))
    try:
        assert jobs == 1
        assert _shuffle_bytes_written(spark) == before
        infos = [i for i in spark.sparkContext._jsc.sc().getRDDStorageInfo() if i.id() not in cached]
        assert infos and all(i.numCachedPartitions() == i.numPartitions() for i in infos)
    finally:
        pin.release()


def test_point_read_decodes_one_page(spark, tmp_path):
    """A point read decodes one parquet page of the file that holds the
    ordinal, not the whole file: store files are written in pages of at
    most 1,000 rows, and the pushed rowid filter meets the page index.
    Holds for a pushx file and for a compacted one."""
    store = OrdinalStore(spark, str(tmp_path / "s"))
    store.pushx(spark.range(0, 12_500, 1, 1).select(
        F.col("id").cast("int").alias("a"), F.concat(F.lit("v"), F.col("id")).alias("b")))
    assert len(_parquet_files(store.path)) == 1

    def check():
        for i in (0, 7_777, 12_499):
            row, read = _input_records(spark, lambda i=i: store.pull_row(i))
            assert (row.rowid, row.a, row.b) == (i, i, f"v{i}")
            assert 0 < read <= 1_000, (i, read)

    check()
    assert store.compact(n_files=1) == 12_500
    assert len(_parquet_files(store.path)) == 1
    check()


def test_ordered_pullx_has_no_exchange(spark, tmp_path, job_count):
    """An ordered pullx sorts its range in one task: no Exchange in the
    executed plan and one job (no range-sampling job), on an unpinned
    store and under hot_table, with rows in ordinal order across a file
    boundary and into a row-list append file."""
    from vector_db_core_spark.cache import hot_table

    store = OrdinalStore(spark, str(tmp_path / "s"), schema="a INT")
    store.pushx(spark.range(0, 3_000, 1, 3).select(F.col("id").cast("int").alias("a")))
    store.pushx([{"a": 3_000 + i} for i in range(100)])
    assert len(_parquet_files(store.path)) == 4
    lo, n = 1_500, 1_550

    def check():
        df = store.pullx(lo, n)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        rows, jobs = job_count(df.collect)
        assert jobs == 1
        assert [r.rowid for r in rows] == list(range(lo, lo + n))
        assert [r.a for r in rows] == list(range(lo, lo + n))

    check()
    with hot_table(store.getall(ordered=False), warm=True):
        assert "InMemoryTableScan" in store.pullx(lo, n)._jdf.queryExecution().executedPlan().toString()
        check()



def test_ordered_spans_checks_file_names(spark, tmp_path):
    """ordered_spans fails loudly when a file's name is not the first
    ordinal it holds: point reads bisect the names, so a misnamed file
    would answer the wrong ordinals."""
    import os

    from vector_db_core_spark.store import _file_name

    store = OrdinalStore(spark, str(tmp_path / "s"), schema="a INT")
    store.pushx([{"a": i} for i in range(10)])
    store.pushx([{"a": i} for i in range(10, 20)])
    assert [s.min_rowid for s in store.ordered_spans()] == [0, 10]
    os.rename(os.path.join(store.path, _file_name(10)), os.path.join(store.path, _file_name(11)))
    with pytest.raises(RuntimeError, match="not named by its first rowid"):
        store.ordered_spans()


_CRASHING_WRITER = """
import os, signal, sys
sys.path.insert(0, sys.argv[1])
from pyspark.sql import SparkSession
from vector_db_core_spark.store import OrdinalStore

path, kind, kill_at, first, n = sys.argv[2], sys.argv[3], *map(int, sys.argv[4:7])
spark = (SparkSession.builder.master("local[1]").config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "2").getOrCreate())
store = OrdinalStore(spark, path, schema="k INT")
if kind == "rows":
    batch, txn = [{"k": k} for k in range(first, first + n)], None
else:
    batch = spark.range(first, first + n, 1, 2).selectExpr("CAST(id AS INT) AS k")
    txn = ("stream", first)
calls = 0

def killing(real):
    def call(*args, **kwargs):
        global calls
        calls += 1
        if calls == kill_at:
            os.kill(os.getpid(), signal.SIGKILL)
        return real(*args, **kwargs)
    return call

os.rename, os.replace = killing(os.rename), killing(os.replace)
store.pushx(batch, txn=txn)
print("returned", calls, flush=True)
os.kill(os.getpid(), signal.SIGKILL)  # committed, but never acknowledged
"""


@pytest.mark.parametrize("kind", ["rows", "frame_txn"])
def test_sigkill_at_every_pushx_step_is_exact(spark, tmp_path, kind):
    """SIGKILL a writer process before each rename/replace of a pushx
    and once after it returns, then reopen and retry (row list: only if
    the length shows the batch missing) or replay (DataFrame with a
    stream txn: always). Every acknowledged row reads back exactly once
    and rowids stay 0..n-1 — including at the step where the data
    files are in place and the manifest is not yet replaced."""
    import os
    import signal
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = tmp_path / "writer.py"
    script.write_text(_CRASHING_WRITER)
    path = str(tmp_path / "s")
    acked: list[int] = []
    kill_at, n = 1, 40
    while True:
        first = kill_at * 1000
        proc = subprocess.Popen(
            [sys.executable, str(script), repo, path, kind, str(kill_at), str(first), str(n)],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, start_new_session=True,
        )
        out, _ = proc.communicate(timeout=300)
        with contextlib.suppress(ProcessLookupError):
            os.killpg(proc.pid, signal.SIGKILL)  # the writer's JVM
        assert proc.returncode == -signal.SIGKILL, out

        store = OrdinalStore(spark, path, schema="k INT")
        before = len(acked)
        if kind == "rows":
            if store.count() == before:
                store.pushx([{"k": k} for k in range(first, first + n)])
        else:
            batch = spark.range(first, first + n, 1, 2).selectExpr("CAST(id AS INT) AS k")
            store.pushx(batch, txn=("stream", first))
        acked.extend(range(first, first + n))
        got = store.getall(ordered=False).agg(
            F.count("*").alias("n"), F.countDistinct("rowid").alias("rowids"),
            F.min("rowid").alias("lo"), F.max("rowid").alias("hi"),
            F.countDistinct("k").alias("keys"), F.sum("k").alias("key_sum"),
        ).collect()[0]
        assert (got.n, got.rowids, got.lo, got.hi, got.keys, got.key_sum) == (
            len(acked), len(acked), 0, len(acked) - 1, len(acked), sum(acked)
        ), f"after SIGKILL at step {kill_at}: {got}"
        assert store.count() == len(acked)
        if out.startswith("returned"):
            break
        kill_at += 1
    assert kill_at >= 2
