"""Ingest-surface coverage: multi-format read_any round-trips, the
array-heavy and digest-bearing record shapes from the reference's test
suite (FIXTURES.md §1), W3 ingest metrics, and W5-style concurrent
reads over one shared engine."""

from __future__ import annotations

import concurrent.futures
import hashlib

from pyspark.sql import Row
from pyspark.sql import functions as F

from vector_db_core_spark.sources import read_any
from vector_db_core_spark.store import OrdinalStore


def test_read_any_csv_json_orc_roundtrip(spark, tmp_path):
    """The same frame written as csv/json/orc reads back equal through
    read_any (schemas passed explicitly — inference is a full extra
    pass at scale)."""
    src = spark.createDataFrame(
        [(i, f"name {i}", i * 1.5) for i in range(100)], "id INT, name STRING, score DOUBLE"
    )
    expect = {(r.id, r.name, r.score) for r in src.collect()}
    for fmt in ["csv", "json", "orc"]:
        path = str(tmp_path / fmt)
        w = src.write.mode("overwrite")
        if fmt == "csv":
            w = w.option("header", "true")
        w.format(fmt).save(path)
        back = read_any(spark, path, fmt=fmt, schema="id INT, name STRING, score DOUBLE")
        assert {(r.id, r.name, r.score) for r in back.collect()} == expect, fmt


def test_store_dynamic_struct_arrays(spark, tmp_path):
    """DynamicStruct round-trip (vector_performance_test.rs:10-22,
    73-89): growing Vec fields — row i carries my_usize_vec=[1..=i]."""
    schema = (
        "my_usize BIGINT, my_u64 BIGINT, my_u32 INT, my_u16 SHORT, my_u8 TINYINT, "
        "my_boolean BOOLEAN, my_usize_vec ARRAY<BIGINT>, my_64_vec ARRAY<BIGINT>, "
        "my_32_vec ARRAY<INT>, my_string STRING"
    )
    n = 200
    rows = [
        Row(
            my_usize=443, my_u64=53, my_u32=4399, my_u16=3306, my_u8=22, my_boolean=True,
            my_usize_vec=list(range(1, i + 1)), my_64_vec=[i], my_32_vec=[i],
            my_string=f"hello, {i} world",
        )
        for i in range(n)
    ]
    store = OrdinalStore(spark, str(tmp_path / "dyn"), schema=schema)
    store.pushx(rows)
    assert store.count() == n
    r = store.pull_row(n - 1)
    assert r.my_usize_vec == list(range(1, n)) and r.my_string == f"hello, {n-1} world"
    # array sizes grow with the ordinal — verified over the whole store
    bad = store.getall(ordered=False).where(
        F.size("my_usize_vec") != F.col("rowid")
    ).count()
    assert bad == 0


def test_store_digest_struct(spark, tmp_path):
    """TestStruct round-trip (mix_data_test.rs:33-51,72-95): binary
    digest columns computed like the reference's generator."""
    rows = [
        Row(i=i, sha256_hash=bytearray(hashlib.sha256(f"dynamic_data_{i}".encode()).digest()))
        for i in range(50)
    ]
    store = OrdinalStore(spark, str(tmp_path / "mix"), schema="i INT, sha256_hash BINARY")
    store.pushx(rows)
    got = store.pull_row(7)
    assert bytes(got.sha256_hash) == hashlib.sha256(b"dynamic_data_7").digest()
    # engine-side digest of the same payload agrees (sha2 column vs stored)
    check = (
        store.getall(ordered=False)
        .withColumn("recomputed", F.unhex(F.sha2(F.concat(F.lit("dynamic_data_"), F.col("i")), 256)))
        .where(F.col("recomputed") != F.col("sha256_hash"))
        .count()
    )
    assert check == 0


def test_ingest_metrics_surface(spark, tmp_path):
    import json as _json

    from vector_db_core_spark.streaming import ingest_metrics, stream_append_to_store

    landing = tmp_path / "landing"
    landing.mkdir()
    with open(landing / "a.json", "w") as fh:
        for i in range(10):
            fh.write(_json.dumps({"a": i}) + "\n")
    store = OrdinalStore(spark, str(tmp_path / "s"), schema="a INT")
    q = stream_append_to_store(
        spark, str(landing), store, "a INT", str(tmp_path / "ck"), available_now=True
    )
    q.awaitTermination()
    m = ingest_metrics(q)
    # progress counters are engine-reported (lastProgress may fold in
    # bookkeeping rows); the store is the ground truth for exactness
    assert m["num_input_rows"] >= 10 and m["is_active"] is False
    assert m["run_id"]
    assert store.count() == 10


def test_concurrent_reads_shared_engine(spark, tmp_path):
    """W5 analog (cache_performance_test.rs:306-366): many threads
    issuing point/range reads against one shared store — Spark's
    scheduler interleaves the jobs; results stay consistent."""
    store = OrdinalStore(spark, str(tmp_path / "c"), schema="a INT, b STRING")
    store.pushx([{"a": i, "b": f"v{i}"} for i in range(1000)])

    def reader(k: int) -> bool:
        row = store.pull_row(k)
        rng = store.pullx(k, 10).collect()
        return row.a == k and [r.a for r in rng] == list(range(k, k + 10))

    with concurrent.futures.ThreadPoolExecutor(max_workers=8) as ex:
        results = list(ex.map(reader, range(0, 800, 100)))
    assert all(results)


def test_write_any_roundtrips_all_formats(spark, tmp_path):
    from vector_db_core_spark.sources import read_any, write_any

    src = spark.range(0, 100).selectExpr(
        "id", "CAST(id % 7 AS INT) AS grp", "CONCAT('v', id) AS name"
    )
    expect = sorted((r.id, r.grp, r.name) for r in src.collect())
    for fmt in ("parquet", "orc", "json", "csv"):
        p = str(tmp_path / fmt)
        write_any(src, p, fmt=fmt)
        back = read_any(spark, p, fmt=fmt, schema="id BIGINT, grp INT, name STRING")
        assert sorted((r.id, r.grp, r.name) for r in back.collect()) == expect, fmt


def test_partitioned_write_prunes_directories(spark, tmp_path):
    """A filter on the partition column must prune at the DIRECTORY
    level (PartitionFilters in the scan), not post-scan."""
    from vector_db_core_spark.sources import write_any

    src = spark.range(0, 1000).selectExpr("id", "CAST(id % 5 AS INT) AS bucket")
    p = str(tmp_path / "parts")
    write_any(src, p, partition_by=["bucket"])
    back = spark.read.parquet(p).where("bucket = 3")
    assert back.count() == 200
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "bucket" in plan.split("PartitionFilters")[1][:80]


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Two tables bucketed by the same key/count must sort-merge join
    with ZERO Exchange operators — the co-located fact-fact join."""
    from vector_db_core_spark.sources.bucketed import read_bucketed, write_bucketed

    a = spark.range(0, 10_000).selectExpr("id AS k", "id * 2 AS va")
    b = spark.range(0, 10_000).selectExpr("id AS k", "id * 3 AS vb")
    write_bucketed(a, "bt_a", "k", n_buckets=8, path=str(tmp_path / "bt_a"))
    write_bucketed(b, "bt_b", "k", n_buckets=8, path=str(tmp_path / "bt_b"))
    # at test scale AQE would broadcast instead (both tables are tiny);
    # disable it so the plan is the fact-fact SortMergeJoin this
    # feature exists for at real scale
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = read_bucketed(spark, "bt_a").join(read_bucketed(spark, "bt_b"), "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # bucketing replaced the shuffle
        assert joined.count() == 10_000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bt_a")
        spark.sql("DROP TABLE IF EXISTS bt_b")


def test_load_media_dir_binary_ingest(spark, tmp_path):
    """binaryFile multimodal ingest: payload bytes round-trip as an
    opaque binary column with typed metadata, the glob prunes at
    listing time, and the stubbed feature extractor runs over the
    ingested payloads (Arrow-batched plumbing end to end)."""
    import os

    from vector_db_core_spark.functions.multimodal import extract_features
    from vector_db_core_spark.sources import load_media_dir

    media = tmp_path / "media" / "nested"
    os.makedirs(media)
    payloads = {f"img_{i}.bin": bytes([i]) * (10 + i) for i in range(5)}
    for fname, data in payloads.items():
        (media / fname).write_bytes(data)
    (media / "ignore.txt").write_text("not media")

    df = load_media_dir(spark, str(tmp_path / "media"), glob="*.bin")
    rows = {os.path.basename(r.media_uri): r for r in df.collect()}
    assert set(rows) == set(payloads)
    for fname, data in payloads.items():
        assert bytes(rows[fname].payload) == data
        assert rows[fname].n_bytes == len(data)
    # metadata-only filter must not break (no content read needed)
    assert df.where(df.n_bytes > 12).count() == 2
    # feature extraction over the ingested payloads
    feats = extract_features(df, payload_col="payload").collect()
    assert len(feats) == 5 and all(len(f.features) > 0 for f in feats)


def test_sorted_shards_are_disjoint_and_sorted(spark, tmp_path):
    """write_sorted_shards' contract: every output file is internally
    sorted on the key, and the files' [min, max] key ranges are
    pairwise disjoint — the layout that makes parquet min/max stats
    prune and merge-joins possible without a global sort."""
    import glob

    from vector_db_core_spark.sources.loaders import write_sorted_shards

    df = spark.range(0, 20_000).select(
        (F.xxhash64("id") % 100_000).alias("k"), F.col("id").alias("v")
    )
    out = str(tmp_path / "shards")
    write_sorted_shards(df, out, order_by="k", n_shards=8)
    files = sorted(glob.glob(out + "/part-*.parquet"))
    assert len(files) >= 4  # range partitioner may merge tiny ranges
    ranges = []
    total = 0
    for f in files:
        ks = [r.k for r in spark.read.parquet(f).select("k").collect()]
        total += len(ks)
        assert ks == sorted(ks), f  # internally sorted
        if ks:
            ranges.append((min(ks), max(ks)))
    assert total == 20_000  # nothing lost or duplicated
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # disjoint (boundary key may be shared)


def test_zorder_layout_prunes_both_dimensions(spark, tmp_path):
    """write_zorder_layout's contract: per-file [min, max] spans stay
    tight on BOTH z-order columns simultaneously. The comparison that
    matters: a single-key sorted layout gives perfect spans on its key
    and ~global spans on the other column; the z-layout must beat the
    single-key layout's second-dimension spans by a wide margin while
    staying far under global span on both."""
    import glob

    from vector_db_core_spark.sources import (
        load_table,
        write_sorted_shards,
        write_zorder_layout,
    )
    from tests.conftest import SF_ORACLE

    ev = load_table(spark, SF_ORACLE, "events").select("event_id", "user_id")
    g = ev.agg(
        F.max("event_id") - F.min("event_id"),
        F.max("user_id") - F.min("user_id"),
    ).collect()[0]
    global_span = {"event_id": float(g[0]), "user_id": float(g[1])}

    def avg_spans(path):
        spans = {"event_id": [], "user_id": []}
        for f in glob.glob(f"{path}/part-*.parquet"):
            row = spark.read.parquet(f).agg(
                F.max("event_id") - F.min("event_id"),
                F.max("user_id") - F.min("user_id"),
            ).collect()[0]
            spans["event_id"].append(float(row[0]))
            spans["user_id"].append(float(row[1]))
        return {k: sum(v) / len(v) for k, v in spans.items()}

    zpath, spath = str(tmp_path / "z"), str(tmp_path / "s")
    write_zorder_layout(ev, zpath, ("event_id", "user_id"), n_shards=16)
    write_sorted_shards(ev, spath, "event_id", n_shards=16)
    zspan, sspan = avg_spans(zpath), avg_spans(spath)

    # single-key layout: near-zero span on its key, ~global on the other
    assert sspan["user_id"] > 0.8 * global_span["user_id"]
    # z-layout: BOTH dimensions well under global span...
    assert zspan["event_id"] < 0.5 * global_span["event_id"]
    assert zspan["user_id"] < 0.5 * global_span["user_id"]
    # ...and the second dimension beats the single-key layout's 2x+
    assert zspan["user_id"] * 2 < sspan["user_id"]


# ---------------------------------------------------------------- read_parquet


def _same_as_plain_read(spark, path, merge_schema=False):
    from vector_db_core_spark.sources import read_parquet

    plain = spark.read.option("mergeSchema", str(merge_schema).lower()).parquet(path)
    got = read_parquet(spark, path, merge_schema=merge_schema)
    assert got.schema == plain.schema
    assert sorted(map(tuple, got.collect()), key=repr) == sorted(map(tuple, plain.collect()), key=repr)
    return got


def test_read_parquet_equals_plain_read_single_file_and_directory(spark, tmp_path):
    from tests.conftest import SF_SMOKE

    _same_as_plain_read(spark, f"{SF_SMOKE}/nation.parquet")
    path = str(tmp_path / "dir")
    spark.range(0, 500, 1, 3).select(
        F.col("id"), F.concat(F.lit("v"), F.col("id")).alias("s")
    ).write.parquet(path)
    _same_as_plain_read(spark, path)
    _same_as_plain_read(spark, path)  # served from the memo


def test_read_parquet_hive_partitioned_scratch_table(spark):
    """A scratch table written partitioned reads back with its partition
    columns last, as plain ``spark.read.parquet`` infers them."""
    from vector_db_core_spark import scratch

    df = scratch.cached_table(
        spark, "read_parquet_partitioned", "/none",
        lambda: spark.range(0, 60).select(
            (F.col("id") % 3).alias("cell"), F.col("id"), (F.col("id") * 2).alias("v")
        ),
        partition_by=("cell",),
    )
    assert df.columns == ["id", "v", "cell"]
    _same_as_plain_read(spark, scratch.path_for("read_parquet_partitioned", "/none"))
    scratch.reset("read_parquet_partitioned")


def test_read_parquet_store_with_added_column(spark, tmp_path):
    store = OrdinalStore(spark, str(tmp_path / "s"))
    store.pushx(spark.range(0, 10).select(F.col("id").cast("int").alias("a")))
    store.pushx(spark.range(10, 20).select(
        F.col("id").cast("int").alias("a"), F.lit("new").alias("b")))
    got = _same_as_plain_read(spark, store.path, merge_schema=True)
    assert sorted(got.columns) == ["a", "b", "rowid"]
    assert store.getall().where("b IS NULL").count() == 10


def test_read_parquet_reinfers_on_changed_files(spark, tmp_path, job_count):
    """A memo hit launches no job; a rewritten file or an added file
    re-infers and the new schema is returned."""
    from vector_db_core_spark.sources import read_parquet

    path = str(tmp_path / "t")
    spark.range(5).select(F.col("id").alias("a")).write.parquet(path)
    read_parquet(spark, path, merge_schema=True)
    df, jobs = job_count(lambda: read_parquet(spark, path, merge_schema=True))
    assert jobs == 0 and df.columns == ["a"]
    spark.range(5).select(F.col("id").alias("a"), F.col("id").alias("b")).write.mode("append").parquet(path)
    df, jobs = job_count(lambda: read_parquet(spark, path, merge_schema=True))
    assert jobs == 1 and df.columns == ["a", "b"]
    spark.range(5).select(F.col("id").cast("string").alias("c")).write.mode("overwrite").parquet(path)
    df, jobs = job_count(lambda: read_parquet(spark, path, merge_schema=True))
    assert jobs == 1 and df.columns == ["c"]
    assert df.schema["c"].dataType.simpleString() == "string"


def test_read_parquet_reinfers_on_changed_inference_conf(spark, tmp_path):
    """``nanosAsLong`` is part of the memo key: with it on a
    TIMESTAMP(NANOS) column reads as a long; turned off, the read
    re-infers (and Spark rejects the column) instead of serving the
    memoized long schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest
    from pyspark.errors import AnalysisException

    from vector_db_core_spark.sources import read_parquet

    path = str(tmp_path / "ns.parquet")
    pq.write_table(pa.table({"ts": pa.array([1, 2], pa.timestamp("ns"))}), path)
    key = "spark.sql.legacy.parquet.nanosAsLong"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "true")
        assert read_parquet(spark, path).schema["ts"].dataType.simpleString() == "bigint"
        spark.conf.set(key, "false")
        with pytest.raises(AnalysisException, match="TIMESTAMP\\(NANOS"):
            read_parquet(spark, path)
    finally:
        spark.conf.set(key, old)


def test_read_parquet_memo_skips_uris(tmp_path):
    from vector_db_core_spark.sources.loaders import _data_files

    assert _data_files("hdfs://namenode/warehouse/t") is None
    assert _data_files("s3a://bucket/t") is None
    assert _data_files(f"file://{tmp_path}") is None
    assert _data_files(str(tmp_path / "missing")) == ()
