"""Table loaders for the driver-generated parquet fixtures.

The testdata layout is one parquet file per table under an sf dir
(``/root/testdata/sf{0.001,0.01,0.1}/<name>.parquet`` — TESTDATA.md).
Everything is loaded through ``read_parquet`` (a ``spark.read.parquet``
whose inferred schema is memoized) so Catalyst gets predicate
pushdown / column pruning / row-group pruning for free.

Beyond parquet, ``read_any`` exposes the CSV/JSON ingest surface
([EXT] — the reference only reads its own binary files,
``/root/reference/src/services/file_access_service.rs:24-38``).
"""

from __future__ import annotations

import os
import threading
from urllib.parse import urlparse

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: All driver-provided tables (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Dimension tables small enough to broadcast at ANY scale factor —
#: region is 5 rows and nation 25 at every TPC-H SF by spec.
BROADCASTABLE = frozenset({"region", "nation"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


#: timestamp columns whose parquet physical type has varied across
#: fixture vintages: TIMESTAMP(NANOS) (read back as a raw nanos long
#: under the legacy conf, because the vectorized reader rejects nanos
#: outright) or plain TIMESTAMP(MICROS) (read natively). The loader
#: normalizes BOTH vintages to a microsecond TimestampType column, so
#: downstream operators and the DuckDB oracle see identical values
#: regardless of which fixture generation wrote the file.
_TS_COLS = {"events": ("ts",)}


def init_session(spark: SparkSession) -> SparkSession:
    """One-time session conf for externally-created sessions.

    The driver hands us its own plain SparkSession, so the engine's
    invariants are applied here, explicitly and once (idempotent):
    UTC timestamps (so values mean the same thing as the oracle's
    UTC-naive values) and nanos-as-long parquet reads (the events.ts
    column is TIMESTAMP(NANOS), which the vectorized reader rejects).
    """
    if not spark.conf.get("spark.vector_db_core.initialized", None):
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.vector_db_core.initialized", "true")
    return spark


#: session confs whose values change what parquet schema inference
#: returns for the same files — part of ``read_parquet``'s memo key
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.caseSensitive",
)

_SCHEMAS_LOCK = threading.Lock()
#: (path, merge_schema, conf values) -> (data-file signature, schema)
_SCHEMAS: dict[tuple, tuple[tuple, T.StructType]] = {}


def _skipped(name: str) -> bool:
    """Names Spark's file listing leaves out of a scan: ``.``-prefixed
    (checksum sidecars) and ``_``-prefixed (``_SUCCESS``, the store's
    ``_meta.json``) unless they hold ``=`` (a partition directory)."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def _data_files(path: str) -> tuple | None:
    """``(relative path, size, mtime_ns)`` of every data file a scan of
    ``path`` reads, sorted; None for a URI (``hdfs:``, ``s3a:``,
    ``file:``) or a path being changed under the listing."""
    if urlparse(path).scheme:
        return None
    try:
        if os.path.isfile(path):
            st = os.stat(path)
            return ((os.path.basename(path), st.st_size, st.st_mtime_ns),)
        files = []
        for dirpath, dirnames, filenames in os.walk(path):
            dirnames[:] = [d for d in dirnames if not _skipped(d)]
            for f in filenames:
                if not _skipped(f):
                    full = os.path.join(dirpath, f)
                    st = os.stat(full)
                    files.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
    except OSError:
        return None
    return tuple(sorted(files))


def read_parquet(spark: SparkSession, path: str, merge_schema: bool = False) -> DataFrame:
    """``spark.read.parquet(path)`` without re-inferring an unchanged schema.

    Schema inference is a Spark job that reads file footers (every
    footer under ``merge_schema``), launched each time a reader is
    built. This keeps the inferred ``StructType`` per ``(path,
    merge_schema, values of the confs that change inference)`` and
    reuses it while the data files' signature — name, size and mtime
    of every file the scan reads — is unchanged; any rewritten, added
    or removed file re-infers. The memo is process-wide, with one entry
    per key replaced on a miss, so it grows with distinct paths only.
    URIs and paths with no data files (whose errors Spark reports)
    always go to the inferring reader.

    Hit and miss both return ``spark.read.schema(s).parquet(path)``:
    one relation shape for every read of a path, so a ``hot_table``
    over one read still matches the next read's plan.
    """
    reader = spark.read.option("mergeSchema", "true") if merge_schema else spark.read
    files = _data_files(path)
    if not files:
        return reader.parquet(path)
    key = (path, merge_schema, tuple(spark.conf.get(c) for c in _INFERENCE_CONFS))
    with _SCHEMAS_LOCK:
        entry = _SCHEMAS.get(key)
    if entry is None or entry[0] != files:
        entry = (files, reader.parquet(path).schema)
        with _SCHEMAS_LOCK:
            _SCHEMAS[key] = entry
    return spark.read.schema(entry[1]).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table as a DataFrame (lazy parquet scan)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    init_session(spark)
    df = read_parquet(spark, table_path(sf_dir, name))
    for c in _TS_COLS.get(name, ()):
        dt = df.schema[c].dataType
        if isinstance(dt, T.LongType):
            # nanos-as-long vintage: truncate ns → µs (same truncation
            # DuckDB applies, so oracle comparisons stay bit-identical).
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        elif isinstance(dt, T.TimestampNTZType):
            # native TIMESTAMP(MICROS, isAdjustedToUTC=false) vintage:
            # session tz is UTC, so NTZ→TZ is a pure type relabel with
            # identical wall-clock values.
            df = df.withColumn(c, F.col(c).cast(T.TimestampType()))
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str, prefix: str = "") -> None:
    """Register every fixture table as a temp view for the SQL API."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(prefix + name)


def read_any(spark: SparkSession, path: str, fmt: str = "parquet", schema=None, **options) -> DataFrame:
    """Generic ingest: parquet (default), csv, json, orc.

    Schemas should be passed explicitly in production ingest (schema
    inference is a full extra pass at 100 TB); the reference is equally
    fail-fast — bincode decodes against a compile-time struct
    (/root/reference/src/vector_engine.rs:10-18).
    """
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if fmt == "csv":
        options.setdefault("header", "true")
    return reader.options(**options).format(fmt).load(path)


def write_any(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: tuple[str, ...] | list[str] = (),
    **options,
) -> None:
    """Generic sink: parquet (default), csv, json, orc — the write
    side of ``read_any``.

    ``partition_by`` lays the dataset out as one directory per value
    (hive-style): readers that filter on a partition column scan ONLY
    the matching directories (partition pruning — the coarsest and
    cheapest pruning level, above row-group stats). Partition by
    bounded-cardinality columns only; a high-cardinality partition key
    produces millions of tiny files and kills the listing phase at
    100 TB scale.
    """
    w = df.write.mode(mode)
    if fmt == "csv":
        options.setdefault("header", "true")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.format(fmt).options(**options).save(path)


def load_media_dir(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    recursive: bool = True,
) -> DataFrame:
    """Raw media ingestion: a directory of image/audio/video files as
    one DataFrame of opaque ``binary`` payloads with typed metadata —
    the multimodal ingest entry (north-star "multimodal columns").

    Built on Spark's ``binaryFile`` source, so the listing and the
    byte reads are fully distributed (one task per file batch, no
    driver loop) and ``pathGlobFilter`` prunes non-matching files at
    LISTING time, before a single payload byte is read. Emits
    ``path / modification_time / length / content`` renamed into the
    engine's media-table shape; feed it to
    ``functions.multimodal.extract_features`` / ``resize_media`` for
    the Arrow-batched processing stage.

    Scale note: the binary payload rides the DataFrame as a normal
    column — filters on metadata (length, path, mtime) run WITHOUT
    touching content bytes; at 100 TB keep per-file sizes in the
    MB-not-GB range (one row must fit an Arrow batch slot) and
    shard directories so no single listing exceeds the driver's
    file-index budget.
    """
    reader = spark.read.format("binaryFile")
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    return reader.load(path).select(
        F.col("path").alias("media_uri"),
        F.col("modificationTime").alias("modified_at"),
        F.col("length").alias("n_bytes"),
        F.col("content").alias("payload"),
    )


def write_sorted_shards(
    df: DataFrame,
    path: str,
    order_by: str | list[str],
    n_shards: int,
    fmt: str = "parquet",
    mode: str = "overwrite",
    **options,
) -> None:
    """Globally range-ordered shard layout: ``repartitionByRange`` on
    the ordering key(s) (range boundaries come from reservoir-sampling
    the key distribution — skew-resistant by construction) followed by
    ``sortWithinPartitions``, so shard *i* holds a contiguous,
    internally sorted key range strictly below shard *i+1*'s.

    This is how a 100 TB job materializes a total order without a
    single-reducer global sort: every shard sorts independently in
    parallel, and downstream consumers get (a) parquet min/max
    row-group stats that actually prune (sorted data → tight, disjoint
    stats), (b) merge-join-able inputs, and (c) range-pruned point
    lookups (binary-search the shard boundaries, open one file).
    ``OrdinalStore`` relies on the same physics for its rowid ranges;
    this generalizes it to any key. Deliberately NOT a registered
    query: shard *assignment* depends on sampled boundaries, so it is
    not bit-reproducible across engines — the per-shard sortedness and
    disjointness CONTRACT is what tests pin (tests/test_sources.py).
    """
    cols = [order_by] if isinstance(order_by, str) else list(order_by)
    (
        df.repartitionByRange(n_shards, *cols)
        .sortWithinPartitions(*cols)
        .write.mode(mode)
        .format(fmt)
        .options(**options)
        .save(path)
    )


def _spread_bits16(x: Column) -> Column:
    """Spread a 16-bit value's bits to even positions (0b1101 ->
    0b1010001, each source bit followed by a 0) — the standard
    mask-and-shift ladder, all JVM-side integer ops inside codegen."""
    x = x.bitwiseOR(F.shiftleft(x, 8)).bitwiseAND(F.lit(0x00FF00FF))
    x = x.bitwiseOR(F.shiftleft(x, 4)).bitwiseAND(F.lit(0x0F0F0F0F))
    x = x.bitwiseOR(F.shiftleft(x, 2)).bitwiseAND(F.lit(0x33333333))
    x = x.bitwiseOR(F.shiftleft(x, 1)).bitwiseAND(F.lit(0x55555555))
    return x


def write_zorder_layout(
    df: DataFrame,
    path: str,
    cols: tuple[str, str],
    n_shards: int,
    fmt: str = "parquet",
    mode: str = "overwrite",
    **options,
) -> None:
    """Z-order (Morton-curve) shard layout over TWO numeric columns —
    the multi-dimensional generalization of ``write_sorted_shards``:
    each column is quantized to 16 bits between its min and max, the
    bits interleave into one z-value, and shards range-partition +
    sort on it. Points close in BOTH dimensions land in the same or
    adjacent shards, so parquet min/max row-group stats stay tight on
    BOTH columns at once — a single-key sort gives perfect pruning on
    its key and none on the second dimension (the contract test
    measures exactly this difference).

    This is the layout maintenance op behind "OPTIMIZE ... ZORDER BY"
    in lakehouse engines, here as a plain function over any DataFrame.
    Quantization is uniform-width from a one-row min/max aggregate
    (one cheap pre-pass); for heavily skewed columns substitute
    quantile boundaries for width_bucket — the interleave is
    unchanged. All arithmetic is codegen'd integer math; the only
    data movement is the single range exchange every total-order
    layout needs.

    Like ``write_sorted_shards``, deliberately NOT a registered query:
    shard assignment depends on sampled range boundaries; the pruning
    CONTRACT is what tests pin (tests/test_sources.py).
    """
    c1, c2 = cols
    bounds = df.agg(
        F.min(c1).alias("min1"), F.max(c1).alias("max1"),
        F.min(c2).alias("min2"), F.max(c2).alias("max2"),
    ).collect()[0]

    def bucket16(c: str, lo, hi) -> Column:
        span = float(hi - lo) or 1.0
        scaled = (F.col(c).cast("double") - F.lit(float(lo))) / F.lit(span) * 65535.0
        return F.least(F.greatest(F.round(scaled, 0).cast("long"), F.lit(0)), F.lit(65535))

    z = _spread_bits16(bucket16(c1, bounds.min1, bounds.max1)).bitwiseOR(
        F.shiftleft(_spread_bits16(bucket16(c2, bounds.min2, bounds.max2)), 1)
    )
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_shards, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .format(fmt)
        .options(**options)
        .save(path)
    )
