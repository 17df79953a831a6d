"""OrdinalStore — the reference's record-store semantics on Spark.

The reference (`tianzeshi-study/vector-db-core`) is an embedded,
append-only record store addressed by dense 0-based insertion ordinal;
its whole public API is the ``VectorEngine<T>`` trait
(/root/reference/src/vector_engine.rs:10-54):

    push / pushx      append one / many
    pull / pullx      point / contiguous-range read by ordinal
    len / is_empty    record count
    get / getx        bounds-checked pull/pullx (Option)
    getall            full scan

Here a store is **one Parquet dataset** with a materialized
``rowid BIGINT`` column. The two reference layouts (fixed-slot
"static" vs offset-indexed "dynamic",
static_vector_manage_service.rs / dynamic_vector_manage_service.rs)
are a storage-encoding detail subsumed by Parquet's encodings, so one
store class covers both (SURVEY.md §1.2, §1.5).

Scale design
------------
* **Dense rowid without a global shuffle.**
  ``monotonically_increasing_id()`` encodes ``(partition_id << 33) +
  record_position`` where record_position is consecutive from 0 within
  each partition. One tiny aggregate collects per-partition counts
  (K rows for K partitions — bytes, not data), the driver prefix-sums
  them into partition start offsets, and one constant array lookup +
  arithmetic yields a dense, batch-stable ordinal. No window over a
  single partition, no zipWithIndex RDD round-trip, no join, no
  shuffle of the data. A batch of driver-local rows skips even the
  count: its ordinals are its list positions. It enters Spark as Arrow
  batches (``rows_frame``: Spark's type verifier on every row, then one
  Arrow table the JVM reads itself), so writing it is one task that
  starts no Python worker.
* **Point/range reads decode what they return.** Rowids come out in
  physical row order within every partition and each write task
  writes one file, so every file holds one contiguous, ascending rowid
  span. Every store file is written with parquet pages of at most
  ``_PAGE_ROWS`` (1,000) rows, and parquet writes a page index
  (per-page min/max) beside each footer; Spark's vectorized reader
  applies the pushed ``rowid = i`` / ``rowid BETWEEN a AND b`` filter
  to that index and decodes only the overlapping pages. A point read
  decodes one 1,000-row page, not the whole file: the Spark analog of
  the reference's O(1) slot arithmetic
  (dynamic_vector_manage_service.rs:226-242). Without the row limit a
  page is bounded by bytes only, and one 12,500-row append file holds
  a single ``rowid`` page, so the index could skip nothing. 1,000 rows
  keep a point read near the cost of opening the file; on 12,500-row
  SampleData files they add 0.9% to the ``rowid`` column chunk and
  2.9% to the file (more pages, a longer page index).
* **count() without a data scan.** ``_meta.json`` holds the committed
  length (the analog of the reference's 8-byte persisted length
  header, dynamic_vector_manage_service.rs:24,72-79) and the store
  schema, so ``count()`` is one file read and every read is
  ``spark.read.schema(<manifest schema>).parquet(store)
  .where(rowid < length)``: no schema-inference or footer job.
* **Files named by ordinal.** Each data file is a flat
  ``<first ordinal>.parquet`` in the store directory, the analog of
  the reference's offset index (dynamic_vector_manage_service.rs:
  226-242). A point or range read bisects the names and opens only
  the files that overlap it: one file, one task for a point read.

Commit protocol
---------------
``pushx`` has Spark write the batch into ``<store>/_staging/<token>/``
(Spark skips ``_``-prefixed directories when it lists the store). The
driver then renames each part file into the store directory under the
first ordinal it holds, and the atomic replace of ``_meta.json`` is the
one commit point. A crash before that replace leaves files whose names
start at or past the committed length: reads never see them (the
length predicate), and the next ``pushx`` deletes them and the staging
directory under the writer lock. So a crash loses the whole batch or
none of it, and a retry or a stream replay is exact.

Because Spark's writer only ever targets the staging path, its
``recacheByPath`` never drops a hot table pinned over the store; the
length literal in every read keeps such a pin answering reads at its
own length only (see ``cache.py``).

The commit relies on local-file-system ``rename`` and ``replace``
being atomic; object stores have no atomic rename, so a store there
needs a different commit point. Process crashes are covered, not
power loss (nothing is fsynced, as in the reference). Store
directories written before files were named by ordinal (parquet
``part-*`` files, a ``_meta.json`` without a schema) are not read.

Consistency: visibility is committed-batch, deliberately *stronger*
than the reference, which bumps its length header before data lands
and so can expose phantom ordinals
(dynamic_vector_manage_service.rs:291-302; SURVEY.md §7).
"""

from __future__ import annotations

import bisect
import contextlib
import json
import os
import re
import shutil
import tempfile
import threading
import uuid
from typing import Iterable, Iterator, Sequence

import pyarrow as pa
from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import (
    ArrayType,
    DataType,
    DateType,
    MapType,
    StructType,
    TimestampNTZType,
    TimestampType,
    _create_converter,
    _make_type_verifier,
)
from pyspark.storagelevel import StorageLevel

_PARTITION_MASK = (1 << 33) - 1  # low 33 bits of monotonically_increasing_id

ROWID = "rowid"

_STAGING = "_staging"
#: rows per parquet page in every store file: the unit a point read decodes
_PAGE_ROWS = 1_000
#: Spark's part file name: part-<partition id>-<job uuid>-c000[.codec].parquet
_PART = re.compile(r"part-(\d+)-.*\.parquet$")


def _file_name(first: int) -> str:
    """A data file's name: the first ordinal it holds, zero-padded so a
    plain listing sorts in ordinal order."""
    return f"{first:020d}.parquet"


def _write_files(df: DataFrame, path: str) -> None:
    """Write ``df`` as parquet under ``path``, one file per task (so a
    part file's partition id names its first ordinal) in pages of at
    most ``_PAGE_ROWS`` rows (so a point read decodes one page; see the
    module docstring)."""
    (
        df.write.option("maxRecordsPerFile", 0)
        .option("parquet.page.row.count.limit", _PAGE_ROWS)
        .parquet(path)
    )


def _internal_arrow_type(dtype: DataType) -> pa.DataType:
    """The Arrow type of ``dtype.toInternal``'s output: days since the
    epoch for a date, microseconds for a timestamp, the same recursively
    inside arrays, maps and structs."""
    if isinstance(dtype, DateType):
        return pa.int32()
    if isinstance(dtype, (TimestampType, TimestampNTZType)):
        return pa.int64()
    if isinstance(dtype, ArrayType):
        return pa.list_(_internal_arrow_type(dtype.elementType))
    if isinstance(dtype, MapType):
        return pa.map_(_internal_arrow_type(dtype.keyType), _internal_arrow_type(dtype.valueType))
    if isinstance(dtype, StructType):
        return pa.struct([pa.field(f.name, _internal_arrow_type(f.dataType)) for f in dtype.fields])
    return to_arrow_type(dtype)


def _arrow_column(values: list, dtype: DataType) -> pa.Array:
    """One column of a row list as an Arrow array of ``dtype``. Values
    that Spark converts before they reach the JVM (dates, timestamps,
    structs, ...) go through the same ``toInternal`` and are cast from
    its output, so a naive datetime means what it means to
    ``TimestampType.toInternal`` (the Python process's local time)."""
    if dtype.needConversion():
        internal = [None if v is None else dtype.toInternal(v) for v in values]
        return pa.array(internal, type=_internal_arrow_type(dtype)).cast(to_arrow_type(dtype))
    return pa.array(values, type=to_arrow_type(dtype))


def rows_frame(spark: SparkSession, rows: list, schema: StructType | str | None = None) -> DataFrame:
    """A driver-side row list as a DataFrame that enters Spark as Arrow
    batches: the JVM reads them itself, so the frame's lineage is a
    ``ParallelCollectionRDD`` and computing it starts no Python worker.
    ``spark.createDataFrame(rows, schema)`` pickles the list into a
    ``PythonRDD`` of ``defaultParallelism`` slices instead, and every
    task that reads it unpickles them in a Python worker.

    Everything else is ``createDataFrame``'s: ``Row``, dict and tuple
    rows (a missing dict key is NULL); under a schema each row passes
    Spark's own type verifier first, so the same rows raise the same
    exceptions before anything runs; without one the schema is Spark's
    list inference."""
    if schema is None:
        struct = spark._inferSchemaFromList(rows)
    else:
        struct = spark._parse_ddl(schema) if isinstance(schema, str) else schema
        verify = _make_type_verifier(struct)
        for row in rows:
            verify(row)
    tuples = list(map(_create_converter(struct), rows))
    columns = zip(*tuples) if tuples else ([] for _ in struct.fields)
    table = pa.Table.from_arrays(
        [_arrow_column(list(c), f.dataType) for c, f in zip(columns, struct.fields)], names=struct.names
    )
    return spark.createDataFrame(table, schema=struct)


def prefix_offsets(counts: dict[int, int], pid: Column, start: int = 0) -> tuple[Column, int]:
    """Partition start offsets as one constant array lookup.

    ``counts`` maps partition id to its rows (or any weight). The driver
    prefix-sums them from ``start`` in partition order, and the column
    is ``offsets[pid]``: ``element_at`` over one ``array(...)`` SQL
    literal, which Catalyst folds into a constant. There is no side
    frame, join or broadcast job, and building it takes the same few
    py4j calls at any partition count. Returns ``(column, total)``.
    """
    offsets, acc = [], start
    for p in range(max(counts, default=-1) + 1):
        offsets.append(acc)
        acc += counts.get(p, 0)
    literal = F.expr(f"array({', '.join(f'{o}L' for o in offsets or [start])})")
    return F.element_at(literal, pid.cast("int") + 1), acc - start


def _rowid(offset: Column, position: Column) -> Column:
    """``offset + position`` as the stored rowid. ``try_add`` rather
    than ``+`` keeps the column nullable, so every file stores rowid as
    an OPTIONAL int64 like the stores written before it (a plain ``+``
    over non-null inputs writes a REQUIRED column); the sum cannot
    overflow a long."""
    return F.try_add(offset, position)


def _dense_rowid_frame(tagged: DataFrame, start: int) -> tuple[DataFrame, dict[int, int]]:
    """Core rowid assignment over an already-``_mid``-tagged frame.

    Returns ``(frame_with_rowid, counts)``: ``counts`` maps each
    non-empty partition id to its rows, the same counts the prefix sum
    used, so callers never need a second counting job over the data.
    """
    pid = F.shiftright(F.col("_mid"), 33)
    rows = tagged.select(pid.alias("_pid")).groupBy("_pid").count().collect()
    counts = {r["_pid"]: r["count"] for r in rows}
    offset, _ = prefix_offsets(counts, pid, start)
    out = tagged.withColumn(ROWID, _rowid(offset, F.col("_mid").bitwiseAND(_PARTITION_MASK))).drop("_mid")
    return out, counts


def with_list_rowid(df: DataFrame, start: int) -> DataFrame:
    """Number a frame built from a driver-side row list: ONE partition
    whose rowid is ``start`` + list position. The list is already in
    order on the driver, so this needs no counting job, and writing it
    is one job and one file."""
    return df.coalesce(1).withColumn(ROWID, _rowid(F.lit(start), F.monotonically_increasing_id()))


def with_dense_rowid(df: DataFrame, start: int = 0, rowid_col: str = ROWID) -> DataFrame:
    """Assign a dense ``start``-based ordinal to every row, shuffle-free.

    Uses the documented bit layout of ``monotonically_increasing_id``:
    partition id in the high bits, a consecutive 0-based record number
    in the low 33 bits. Per-partition counts are collected (K tiny
    rows), prefix-summed on the driver, and read back as a constant
    array (``prefix_offsets``) — the data itself never shuffles, never
    joins and never funnels through one partition.

    The input must be deterministically partitioned between the count
    action and downstream use (true for file scans and cached frames).
    Callers with non-deterministic sources must persist first —
    ``OrdinalStore.pushx`` does exactly that: the counts and the write
    read the same persisted partitions, and that persist is its only
    guard (it does not re-check the written count).
    """
    tagged = df.withColumn("_mid", F.monotonically_increasing_id())
    out, _ = _dense_rowid_frame(tagged, start)
    if rowid_col != ROWID:
        out = out.withColumnRenamed(ROWID, rowid_col)
    return out


def _merged_schema(stored: dict | None, batch: StructType) -> StructType:
    """The manifest schema after appending a batch: the stored fields,
    then the batch's new ones. A retyped column raises (parquet would
    read it inconsistently); nullability is not compared."""
    if stored is None:
        return batch
    merged = StructType.fromJson(stored)
    for field in batch.fields:
        if field.name not in merged.names:
            merged.add(field)
        elif merged[field.name].dataType.simpleString() != field.dataType.simpleString():
            raise ValueError(
                f"column {field.name!r} is {merged[field.name].dataType.simpleString()} in the "
                f"store, {field.dataType.simpleString()} in the batch"
            )
    return merged


class OrdinalStore:
    """Append-only, ordinal-addressed table — the ``VectorEngine`` façade.

    API parity (reference method → here):
      push→push, pushx→pushx, pull→pull, pullx→pullx, len→count,
      is_empty→is_empty, get→get, getx→getx, getall→getall.
    ``pull``/``pullx`` return DataFrames (the relational analog of a
    deserialized struct); ``pull_row`` returns one Row for the strict
    point-read semantic. Out-of-range reads raise IndexError like the
    reference's panic (vector_engine.rs:62, bounds logic :33-46).
    """

    def __init__(self, spark: SparkSession, path: str, schema=None):
        self.spark = spark
        self.path = path
        self.schema = schema
        self._meta_path = os.path.join(path, "_meta.json")
        # in-process writer serialization, matching the reference's
        # Mutex<WritableCache> — two threads appending through the same
        # instance must not interleave count()/write/manifest. Cross-process
        # writers are additionally serialized by an advisory flock
        # (_process_write_lock), which the reference does not have.
        self._write_lock = threading.Lock()

    @contextlib.contextmanager
    def _process_write_lock(self):
        """Cross-process writer exclusion: blocking ``flock`` on a
        sidecar ``_writer.lock`` in the store directory — one writer
        per store across OS processes, a guarantee the reference lacks
        (its Mutex is in-process only). Advisory and local-FS only; on
        platforms/object stores without flock semantics this degrades
        to the in-process mutex alone (documented limitation — an
        object-store deployment should funnel writers through one
        ingest job anyway)."""
        try:
            import fcntl

            os.makedirs(self.path, exist_ok=True)
            fd = os.open(os.path.join(self.path, "_writer.lock"), os.O_CREAT | os.O_RDWR)
        except (ImportError, OSError):
            yield
            return
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            yield
        finally:
            try:
                fcntl.flock(fd, fcntl.LOCK_UN)
            finally:
                os.close(fd)

    # -- manifest -----------------------------------------------------
    def _read_meta(self) -> dict | None:
        """The committed manifest ``{"length", "schema", "streams"}``;
        None for a store nothing was ever committed to."""
        try:
            with open(self._meta_path) as f:
                meta = json.load(f)
        except FileNotFoundError:
            return None
        if "schema" not in meta:
            raise RuntimeError(
                f"{self.path} was written before store files were named by "
                "ordinal and cannot be read by this version"
            )
        return meta

    def _write_meta(self, meta: dict, root: str | None = None) -> None:
        """Atomic manifest update: temp file + ``os.replace`` in the same
        directory — the store's one commit point.

        ``meta["streams"]`` maps each ``txn`` stream id to its last
        committed epoch, so "rows visible" and "epoch marked done" are
        one rename and can never disagree — the idempotence handshake
        ``pushx`` uses to skip replayed micro-batches.
        """
        root = root or self.path
        fd, tmp = tempfile.mkstemp(dir=root, prefix="_meta.", suffix=".tmp")
        try:
            with os.fdopen(fd, "w") as f:
                json.dump(meta, f)
            os.replace(tmp, os.path.join(root, "_meta.json"))
        except BaseException:
            with contextlib.suppress(OSError):
                os.unlink(tmp)
            raise

    def last_committed_epoch(self, stream_id: str) -> int:
        """Highest epoch committed by ``pushx(..., txn=(stream_id, e))``;
        -1 if none. The streaming sink's replay detector."""
        meta = self._read_meta() or {}
        return int(meta.get("streams", {}).get(stream_id, -1))

    def count(self) -> int:
        """Record count — the reference's `len` (vector_engine.rs:92-94):
        the manifest's committed length, one small file read. Concurrent
        writers are serialized (``pushx``), so it never runs ahead of
        the data."""
        meta = self._read_meta()
        return 0 if meta is None else int(meta["length"])

    def is_empty(self) -> bool:
        return self.count() == 0

    def _ordinals(self) -> list[int]:
        """First ordinals of every data file in the store directory,
        ascending — committed files and, past the committed length,
        the orphans of a crashed write."""
        try:
            names = os.listdir(self.path)
        except FileNotFoundError:
            return []
        firsts = []
        for name in names:
            if name.endswith(".parquet"):
                stem = name[: -len(".parquet")]
                if not stem.isdigit():
                    raise RuntimeError(f"{self.path}: {name} is not an ordinal-named store file")
                firsts.append(int(stem))
        return sorted(firsts)

    def _drop_uncommitted(self, length: int) -> None:
        """Delete what a crashed write left: the staging directory, an
        unreplaced manifest temp file, and every file whose first
        ordinal is at or past the committed ``length``. Writer lock held."""
        os.makedirs(self.path, exist_ok=True)
        shutil.rmtree(os.path.join(self.path, _STAGING), ignore_errors=True)
        for name in os.listdir(self.path):
            if name.startswith("_meta.") and name.endswith(".tmp"):
                os.remove(os.path.join(self.path, name))
        for first in self._ordinals():
            if first >= length:
                os.remove(os.path.join(self.path, _file_name(first)))

    def _df(self, meta: dict | None = None) -> DataFrame:
        """The committed store: every file read with the manifest schema,
        cut at the committed length. ``self.schema`` describes only the
        payload and is used when coercing python rows in ``pushx``."""
        if meta is None:
            meta = self._read_meta()
        if meta is None:
            # nothing committed: Spark raises its missing-path or
            # no-schema error for a never-written store
            return self.spark.read.parquet(self.path).where(F.col(ROWID) < 0)
        schema = StructType.fromJson(meta["schema"])
        return self.spark.read.schema(schema).parquet(self.path).where(F.col(ROWID) < int(meta["length"]))

    # -- writes -------------------------------------------------------
    def pushx(
        self,
        batch: DataFrame | Sequence[Row] | Iterable[dict],
        deterministic_source: bool = False,
        txn: tuple[str, int] | None = None,
    ) -> int:
        """Bulk append; returns the first ordinal assigned.

        The Spark analog of `save_bulk`'s reserve-ordinals → one blob
        write → one index write pipeline
        (dynamic_vector_manage_service.rs:290-330): rowids are assigned
        shuffle-free and are ALREADY strictly increasing within each
        partition by construction (the partition's constant offset +
        the low-33-bit record number of ``monotonically_increasing_id``,
        a per-row projection that keeps row order), so page min/max
        stats are pruning-friendly without any sort. Each write task writes
        one file; the driver names it by the partition's first ordinal
        and commits by replacing the manifest (module docstring).

        A list of rows (``push``, ``IngestBuffer.flush``) is already on
        the driver and in order: it is written as ONE partition whose
        rowid is ``start`` + its position, one job and one file, with no
        persist and no counting job. ``rows_frame`` hands it to Spark:
        every row passes Spark's type verifier (a rejected row raises
        before anything is staged), and the rows travel as one Arrow
        table that the JVM reads itself, so the write task starts no
        Python worker, where ``createDataFrame(rows, schema)`` pickles
        them into a ``PythonRDD`` that the task unpickles through Python
        workers. Row-list ``pushx`` of SampleData rows
        (``tools/store_ladder.py --row-lists-only``, 4-core host,
        ``local[4]``, median of 3 in each of two runs):

            rows     createDataFrame(list)   rows_frame
            1        1.01 / 1.22 s            0.29 / 0.32 s
            250      1.04 / 1.37 s            0.27 / 0.29 s
            10k      1.31 / 1.48 s            0.46 / 0.52 s
            100k     2.37 / 2.66 s            1.87 / 1.99 s

        At 100k rows the verifier and Spark's row converter, both
        kept, are most of what is left.

        Schema evolution [EXT — the reference's schemas are fixed at
        compile time, dynamic-vector-macro]: a batch may ADD nullable
        columns relative to earlier batches; the manifest schema gains
        them and older rows read NULL for them. A batch that retypes a
        column raises ``ValueError``; one that omits a column stores
        NULL for it.

        ``deterministic_source=True`` skips the safety persist of the
        tagged batch (one full materialization) — correct ONLY when
        re-evaluating the input reproduces the same rows in the same
        partitions (file scans, ``range``, createDataFrame; NOT
        anything downstream of shuffles, ``rand``, or sampling).
        Misuse silently corrupts the ordinal invariant — when unsure,
        leave the default.

        ``txn=(stream_id, epoch)`` makes the append idempotent per
        stream: if ``epoch`` <= the last epoch recorded for
        ``stream_id`` the call is a no-op returning -1, and on success
        the epoch commits in the SAME manifest replace as the length.
        This is how the streaming sink survives micro-batch replays
        after a restart without duplicating rows (the pattern Spark's
        docs prescribe for ``foreachBatch`` exactly-once: an
        epoch-keyed idempotent sink).
        """
        n_rows = 0
        if not isinstance(batch, DataFrame):
            rows = list(batch)
            n_rows = len(rows)
            batch = rows_frame(self.spark, rows, self.schema)
        with self._write_lock, self._process_write_lock():
            meta = self._read_meta() or {"length": 0, "streams": {}}
            streams = meta.get("streams", {})
            if txn is not None and txn[1] <= streams.get(txn[0], -1):
                return -1
            start = int(meta["length"])
            self._drop_uncommitted(start)
            persisted = None
            try:
                if n_rows:
                    out, counts = with_list_rowid(batch, start), {0: n_rows}
                else:
                    tagged = batch.withColumn("_mid", F.monotonically_increasing_id())
                    if not deterministic_source:
                        # Persist the tagged frame so the counts action
                        # and the write see the SAME partitioning even
                        # for non-deterministic sources (shuffles,
                        # sampled/rand inputs) — without this, drift
                        # between the two evaluations could assign
                        # non-dense or duplicate ordinals silently.
                        tagged = persisted = tagged.persist(StorageLevel.MEMORY_AND_DISK)
                    out, counts = _dense_rowid_frame(tagged, start)
                schema = _merged_schema(meta.get("schema"), out.schema)
                staging = os.path.join(self.path, _STAGING, uuid.uuid4().hex)
                _write_files(out, staging)
            finally:
                if persisted is not None:
                    persisted.unpersist()
            end = self._place(staging, counts, start)
            if txn is not None:
                streams = {**streams, txn[0]: int(txn[1])}
            self._write_meta({"length": end, "schema": schema.jsonValue(), "streams": streams})
            shutil.rmtree(os.path.join(self.path, _STAGING), ignore_errors=True)
            return start

    def _place(self, staging: str, counts: dict[int, int], start: int) -> int:
        """Rename each non-empty partition's part file from ``staging``
        into the store, named by its first ordinal (partitions in id
        order from ``start``, as ``prefix_offsets`` numbers them), and
        return the length after the batch. A partition with no rows has
        no file to place (Spark writes one schema-only file for an empty
        batch; it stays in staging)."""
        firsts, end = {}, start
        for pid in sorted(counts):
            firsts[pid], end = end, end + counts[pid]
        parts = [(int(m.group(1)), name) for name in os.listdir(staging) if (m := _PART.match(name))]
        parts = [(pid, name) for pid, name in parts if pid in firsts]
        if sorted(pid for pid, _ in parts) != sorted(firsts):
            raise RuntimeError(f"staged part files {sorted(parts)} do not match partitions {sorted(firsts)}")
        for pid, name in parts:
            os.rename(os.path.join(staging, name), os.path.join(self.path, _file_name(firsts[pid])))
        return end

    def push(self, row: Row | dict) -> int:
        """Append one record (degenerate pushx — vector_engine.rs:79-81)."""
        return self.pushx([row])

    # -- reads --------------------------------------------------------
    def _span(self, lo: int, hi: int, what: str) -> DataFrame:
        """Rows with ``lo <= rowid < hi``; raises IndexError past the length.

        A store pinned by ``hot_table`` at the current length answers
        from its cached blocks: ``storageLevel`` looks the plan up in
        the cache manager without running a job, the probe of the
        reference's ``ReadableCache`` (readable_cache.rs:54-63).
        Otherwise the file names are bisected and only the files that
        overlap ``[lo, hi)`` are read — the reference's offset-index
        lookup (dynamic_vector_manage_service.rs:226-242) — and within
        them the pushed ``rowid`` range meets each file's page index, so
        the scan decodes only the ``_PAGE_ROWS``-row pages that overlap
        it: one page for a point read."""
        meta = self._read_meta()
        n = 0 if meta is None else int(meta["length"])
        if lo < 0 or hi < lo or hi > n:
            raise IndexError(f"{what} out of bounds for length {n}")
        df = self._df(meta)
        cond = F.col(ROWID).between(lo, hi - 1)
        if df.storageLevel != StorageLevel.NONE:
            return df.where(cond)
        firsts = [f for f in self._ordinals() if f < n]
        files = firsts[max(bisect.bisect_right(firsts, lo) - 1, 0) : bisect.bisect_left(firsts, hi)]
        if not files:
            return df.where(cond)
        paths = [os.path.join(self.path, _file_name(f)) for f in files]
        return self.spark.read.schema(StructType.fromJson(meta["schema"])).parquet(*paths).where(cond)

    def pullx(self, index: int, count: int, ordered: bool = True) -> DataFrame:
        """Contiguous range read by ordinal (reference `pullx`).

        Reads only the files whose ordinal span overlaps the range, and
        the rowid BETWEEN predicate pushed into their scan decodes only
        the overlapping pages — the analog of the reference's single
        spanning blob read (dynamic_vector_manage_service.rs:332-359).

        ``ordered=True`` gathers the range into one task and sorts it
        there (``coalesce(1)`` + ``sortWithinPartitions``), pinned or
        not: one job, no range-sampling job and no exchange, where a
        global ``orderBy`` would sample the range and shuffle it.
        Measured on a 4-core host (``local[4]``, noop sink, median of
        5, global sort -> one-task sort), unpinned: 10k rows 0.28 ->
        0.16 s, 1M 0.98 -> 0.61 s, 2M 1.13 -> 1.21 s; pinned: 0.33 ->
        0.20, 0.82 -> 0.55, 0.98 -> 1.00 s; a 10M full-store range
        (``tools/store_ladder.py``, best of 2) 6.25 -> 6.42 s. Faster up
        to 1M rows and at most 7% slower from 2M to 10M, so no size
        switches paths; ``getall(ordered=True)`` keeps the global sort.
        ``ordered=False`` skips the sort and keeps the scan parallel,
        for callers feeding joins/aggregates that don't need row order.
        """
        df = self._span(index, index + count, f"range [{index}, {index + count})")
        return df.coalesce(1).sortWithinPartitions(ROWID) if ordered else df

    def pull(self, index: int) -> DataFrame:
        """Point read by ordinal (reference `pull`): one page of one file,
        one task."""
        return self._span(index, index + 1, f"index {index}")

    def pull_row(self, index: int) -> Row:
        rows = self.pull(index).collect()
        if not rows:
            raise IndexError(f"index {index} not found (store corrupt or concurrent write)")
        return rows[0]

    def get(self, index: int) -> DataFrame | None:
        """Bounds-checked pull → None instead of raising (vector_engine.rs:33-39)."""
        try:
            return self.pull(index)
        except IndexError:
            return None

    def getx(self, index: int, count: int) -> DataFrame | None:
        try:
            return self.pullx(index, count)
        except IndexError:
            return None

    # -- maintenance --------------------------------------------------
    def stats(self) -> list[Row]:
        """Per-file layout stats: (file, n_rows, min_rowid, max_rowid).

        The observability surface for the small-files problem: many
        small appends → many small parquet files → listing + open
        overhead dominates reads at scale. One metadata-cheap scan
        (rowid column only) grouped by ``input_file_name``; feed the
        result into a ``compact()`` decision.
        """
        return (
            self._df()
            .select(F.input_file_name().alias("file"), F.col(ROWID))
            .groupBy("file")
            .agg(
                F.count("*").alias("n_rows"),
                F.min(ROWID).alias("min_rowid"),
                F.max(ROWID).alias("max_rowid"),
            )
            .orderBy("min_rowid")
            .collect()
        )

    def compact(self, n_files: int = 0) -> int:
        """Rewrite the store into ``n_files`` range-partitioned files
        (default: one file per ~1M rows), preserving every rowid.

        The maintenance pass any append-heavy store needs: ordinals and
        data are unchanged, but the physical layout goes back to few
        large files, each covering a CONTIGUOUS rowid range and sorted
        within (``repartitionByRange(rowid)`` + sortWithinPartitions),
        so page pruning for point/range reads is as tight as a
        freshly bulk-written store. The new store is built beside the
        old one — ordinal-named files plus the same manifest — and the
        two directories are swapped by rename. Offline operation —
        concurrent readers of the same path may see a partial swap
        (same single-writer contract as ``pushx``); a crash mid-swap
        leaves the complete old or complete new directory plus a
        leftover to clean, never a mix.

        Returns the row count (sanity-checked before the swap).
        """
        with self._write_lock, self._process_write_lock():
            meta = self._read_meta()
            n = 0 if meta is None else int(meta["length"])
            if n == 0:
                return 0
            if n_files <= 0:
                n_files = max(1, n // 1_000_000)
            new_path = self.path.rstrip("/") + ".compacting"
            staging = os.path.join(new_path, _STAGING)
            shutil.rmtree(new_path, ignore_errors=True)
            _write_files(
                self._df(meta).repartitionByRange(n_files, F.col(ROWID)).sortWithinPartitions(ROWID),
                staging,
            )
            spans = (
                self.spark.read.schema(StructType.fromJson(meta["schema"])).parquet(staging)
                .groupBy(F.input_file_name().alias("file"))
                .agg(F.min(ROWID).alias("lo"), F.count("*").alias("n"))
                .orderBy("lo")
                .collect()
            )
            covered = 0
            for s in spans:
                if s.lo != covered:
                    break
                covered += s.n
            if covered != n:
                shutil.rmtree(new_path, ignore_errors=True)
                raise RuntimeError(f"compact's files tile rowids 0..{covered - 1}, expected 0..{n - 1}; aborted")
            for s in spans:
                name = s.file.rsplit("/", 1)[-1]
                os.rename(os.path.join(staging, name), os.path.join(new_path, _file_name(s.lo)))
            shutil.rmtree(staging)
            self._write_meta(meta, root=new_path)
            old_path = self.path.rstrip("/") + ".old"
            shutil.rmtree(old_path, ignore_errors=True)
            os.replace(self.path, old_path)
            os.replace(new_path, self.path)
            shutil.rmtree(old_path, ignore_errors=True)
            return n

    def getall(self, ordered: bool = True) -> DataFrame:
        """Full scan (vector_engine.rs:47-53).

        ``ordered=True`` honors the reference's insertion-order
        contract with a global sort on rowid — at very large scale
        that is a full-data shuffle, so callers that don't need a
        globally-ordered *stream* (most analytics: joins, aggs,
        dedup) should pass ``ordered=False`` and keep the scan
        shuffle-free; files already hold rowids in ascending order
        (see ``pushx``), so per-file order is free.
        """
        df = self._df()
        return df.orderBy(ROWID) if ordered else df

    def ordered_spans(self) -> list[Row]:
        """``stats()`` plus proof the files TILE the ordinal range.

        The write path makes every parquet file a contiguous,
        non-overlapping rowid span (``_dense_rowid_frame`` hands each
        task a contiguous range in row order, a row list is written as
        one task, and one file per task keeps it that way;
        ``compact()`` preserves it via ``repartitionByRange``). This
        validates that invariant from the actual footer stats —
        min/max/count per file, sorted — and raises if any gap or
        overlap is found (a torn layout must fail loudly, not export
        silently misordered data). It also checks that each file's name
        is the first ordinal it holds, the index point reads bisect.
        """
        spans = self.stats()
        expected = 0
        for s in spans:
            width = s.max_rowid - s.min_rowid + 1
            if s.min_rowid != expected or width != s.n_rows:
                raise RuntimeError(
                    f"ordinal layout violated at {s.file}: span "
                    f"[{s.min_rowid}, {s.max_rowid}] rows={s.n_rows}, "
                    f"expected span start {expected}"
                )
            if s.file.rsplit("/", 1)[-1] != _file_name(s.min_rowid):
                raise RuntimeError(f"{s.file} is not named by its first rowid {s.min_rowid}")
            expected = s.max_rowid + 1
        n = self.count()
        if expected != n:
            raise RuntimeError(f"spans cover 0..{expected - 1} but store holds {n} rows")
        return spans

    def export_ordered(self) -> Iterator[tuple[int, int, DataFrame]]:
        """Shuffle-free ordered bulk export: ``(lo, hi, DataFrame)``
        per file, in ordinal order.

        ``getall(ordered=True)`` pays a global range sort — at 10M
        rows that is a sampling re-scan plus a full-data shuffle
        (measured 22x the unordered scan, BASELINE.md §D), and at
        100 TB it is the single most expensive thing you can ask a
        cluster to do; a full-range ``pullx`` sorts everything in one
        task instead, which no cluster can widen. But the store's
        files ALREADY tile the ordinal range in sorted order
        (``ordered_spans``), so a consumer that streams the corpus in
        insertion order — checkpointed training-shard export, ordered
        replication, sequential audit — can read file after file and
        never shuffle anything: the same pattern lakehouse formats
        use for sorted exports. Rows inside each yielded frame are in
        on-disk rowid order (ascending as written; parquet splits
        preserve it). Each frame is also independently re-sortable at
        file-local cost if a hard ordering guarantee is required
        downstream.
        """
        sch = self._df().schema
        for s in self.ordered_spans():
            yield (
                s.min_rowid,
                s.max_rowid,
                self.spark.read.schema(sch).parquet(s.file),
            )

    def read_ordered(self) -> DataFrame:
        """ONE DataFrame in global rowid order with NO Sort and NO
        Exchange in the plan — the reference's ``getall`` contract
        (vector_engine.rs:47-53, insertion order) at ``export_ordered``
        cost, for consumers that want a single frame rather than the
        per-file iterator.

        Construction: each file is read as its OWN single-file scan
        and the scans are unioned in span order. Union concatenates
        its children's partitions in child order, and a single-file
        scan whose file fits in one split (``<= spark.sql.files.
        maxPartitionBytes`` — the write path sizes files below this)
        is exactly one partition whose rows come back in on-disk
        order, which IS rowid order (ascending as written, validated
        by ``ordered_spans``). So partition i of the
        result is file i, rows ordered within and across partitions —
        global order with zero shuffle and zero sort, where
        ``getall(ordered=True)`` pays a range-sampling re-scan plus a
        full-data exchange (22x the unordered scan at 10M rows,
        BASELINE.md §D). A file larger than one split CANNOT promise
        scan-order rows (Spark packs splits by size, not offset), so
        only that file drops to a file-local ``coalesce(1)`` +
        partition-local sort — still no exchange anywhere.

        Plan-pinned (no Sort/Exchange on in-contract layouts) in
        tests/test_store.py, plus row-order equality vs
        ``getall(ordered=True)``. At 100 TB the union has one child
        per file — plan size is linear in file count, the same
        listing-scale concern ``stats()`` documents; ``compact()``
        first if the store is fragmented.
        """
        from functools import reduce  # noqa: PLC0415
        from urllib.parse import unquote, urlparse  # noqa: PLC0415

        spans = self.ordered_spans()
        if not spans:
            return self._df()
        sch = self._df().schema
        max_split = self._conf_bytes("spark.sql.files.maxPartitionBytes", 128 * 1024 * 1024)
        frames = []
        for s in spans:
            frame = self.spark.read.schema(sch).parquet(s.file)
            local = unquote(urlparse(s.file).path) if "://" in s.file or s.file.startswith("file:") else s.file
            try:
                oversize = os.path.getsize(local) > max_split
            except OSError:
                oversize = True  # can't prove single-split → keep it correct
            if oversize:
                frame = frame.coalesce(1).sortWithinPartitions(ROWID)
            frames.append(frame)
        return reduce(DataFrame.unionByName, frames)

    def _conf_bytes(self, key: str, default: int) -> int:
        """Parse a Spark size conf ('128MB', '134217728b', plain int)."""
        raw = str(self.spark.conf.get(key, str(default))).strip().lower()
        mult = 1
        for suffix, m in (("tb", 1 << 40), ("gb", 1 << 30), ("mb", 1 << 20),
                          ("kb", 1 << 10), ("t", 1 << 40), ("g", 1 << 30),
                          ("m", 1 << 20), ("k", 1 << 10), ("b", 1)):
            if raw.endswith(suffix):
                raw, mult = raw[: -len(suffix)], m
                break
        return int(raw) * mult

    def snapshot(self, as_of_count: int, ordered: bool = True) -> DataFrame:
        """Time-travel read: the store exactly as it was when it held
        ``as_of_count`` rows. Append-only storage makes snapshots free
        — a historical LENGTH fully identifies a historical STATE
        (rows never mutate, ordinals are dense and monotone), so the
        snapshot is just the pushed-down range predicate
        ``rowid < as_of_count``. This is the ordinal-store analog of
        a lakehouse table-format's version read, with the length
        header (vector_engine.rs:92-94's persisted count) playing the
        version number; callers record ``count()`` at any commit
        point and can reproduce that exact view forever — pipeline
        re-runs against the corpus "as of" a training run's cut.

        Bounds: ``as_of_count`` beyond the current length raises
        (that state never existed); ``compact()`` preserves rowids,
        so snapshots survive compaction.
        """
        n = self.count()
        if not 0 <= as_of_count <= n:
            raise IndexError(
                f"snapshot({as_of_count}) out of range: store has ever held "
                f"only lengths 0..{n}"
            )
        df = self._df().where(F.col(ROWID) < as_of_count)
        return df.orderBy(ROWID) if ordered else df
