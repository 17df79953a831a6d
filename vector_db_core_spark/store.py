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
  count: its ordinals are its list positions.
* **Point/range reads prune, not scan.** Rowids come out in physical
  row order within every partition and each write task writes one
  file, so every file holds one contiguous, ascending rowid span and
  Parquet row-group min/max statistics answer
  ``rowid = i`` / ``rowid BETWEEN a AND b`` by reading only the
  overlapping row groups — the Spark analog of the reference's
  O(1) slot arithmetic (dynamic_vector_manage_service.rs:226-242).
* **count() without a data scan.** Parquet footers carry row counts, so
  ``count()`` on a plain scan is metadata-only; we additionally keep a
  tiny ``_meta.json`` with the committed length (the analog of the
  reference's 8-byte persisted length header,
  dynamic_vector_manage_service.rs:24,72-79).

Consistency: visibility is committed-batch (Spark's commit protocol),
deliberately *stronger* than the reference, which bumps its length
header before data lands and so can expose phantom ordinals
(dynamic_vector_manage_service.rs:291-302; SURVEY.md §7).
"""

from __future__ import annotations

import contextlib
import json
import os
import tempfile
import threading
from typing import Iterable, Iterator, Sequence

from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException
from pyspark.storagelevel import StorageLevel

from vector_db_core_spark.sources.loaders import read_parquet

_PARTITION_MASK = (1 << 33) - 1  # low 33 bits of monotonically_increasing_id

ROWID = "rowid"


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


def _dense_rowid_frame(tagged: DataFrame, start: int) -> tuple[DataFrame, int]:
    """Core rowid assignment over an already-``_mid``-tagged frame.

    Returns ``(frame_with_rowid, total_rows)`` — the total comes from
    the same per-partition counts used for the prefix sum, so callers
    never need a second counting job over the data.
    """
    pid = F.shiftright(F.col("_mid"), 33)
    counts = tagged.select(pid.alias("_pid")).groupBy("_pid").count().collect()
    offset, total = prefix_offsets({r["_pid"]: r["count"] for r in counts}, pid, start)
    out = tagged.withColumn(ROWID, _rowid(offset, F.col("_mid").bitwiseAND(_PARTITION_MASK))).drop("_mid")
    return out, total


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
    ``OrdinalStore.pushx`` does exactly that, and additionally verifies
    the written count against the collected counts so any drift fails
    loudly instead of silently corrupting the ordinal invariant.
    """
    tagged = df.withColumn("_mid", F.monotonically_increasing_id())
    out, _ = _dense_rowid_frame(tagged, start)
    if rowid_col != ROWID:
        out = out.withColumnRenamed(ROWID, rowid_col)
    return out


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
        # one meta-vs-footer reconciliation per instance (repaired on
        # first count(), refreshed after every write through this
        # instance); crash repair still happens on reopen
        self._reconciled = False
        # in-process writer serialization, matching the reference's
        # Mutex<WritableCache> — two threads appending through the same
        # instance must not interleave count()/write/meta. Cross-process
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

    # -- length header ------------------------------------------------
    def _read_meta_dict(self) -> dict | None:
        try:
            with open(self._meta_path) as f:
                meta = json.load(f)
            int(meta["length"])
            return meta
        except (OSError, ValueError, KeyError, TypeError):
            return None

    def _read_meta(self) -> int | None:
        meta = self._read_meta_dict()
        return None if meta is None else int(meta["length"])

    def _write_meta(self, length: int, txn: tuple[str, int] | None = None) -> None:
        """Atomic header update: temp file + rename in the same dir.

        A crash can no longer leave a half-written header; a crash
        *between* the parquet commit and this rename leaves a stale
        (too-small) length, which ``count()`` repairs by reconciling
        against the parquet footers (taking the max) — so committed
        rows are never hidden and ordinals are never reused.

        ``txn=(stream_id, epoch)`` records a streaming commit in the
        SAME atomic rename as the length, so "rows visible" and "epoch
        marked done" can never disagree after a clean write — the
        idempotence handshake ``pushx`` uses to skip replayed
        micro-batches. Existing stream marks are carried forward.
        """
        os.makedirs(self.path, exist_ok=True)
        meta = self._read_meta_dict() or {}
        streams = dict(meta.get("streams") or {})
        if txn is not None:
            streams[txn[0]] = int(txn[1])
        payload: dict = {"length": length}
        if streams:
            payload["streams"] = streams
        fd, tmp = tempfile.mkstemp(dir=self.path, prefix="_meta.", suffix=".tmp")
        try:
            with os.fdopen(fd, "w") as f:
                json.dump(payload, f)
            os.replace(tmp, self._meta_path)
        except BaseException:
            try:
                os.unlink(tmp)
            except OSError:
                pass
            raise

    def last_committed_epoch(self, stream_id: str) -> int:
        """Highest epoch committed by ``pushx(..., txn=(stream_id, e))``;
        -1 if none. The streaming sink's replay detector."""
        meta = self._read_meta_dict() or {}
        return int((meta.get("streams") or {}).get(stream_id, -1))

    def _footer_count(self) -> int | None:
        """Row count from parquet footers (metadata-only job); None if
        the dataset doesn't exist yet. Only the missing-path error is
        swallowed — a transient read failure propagates rather than
        silently restarting ordinals at 0 over existing data."""
        try:
            return self._df().count()
        except AnalysisException as exc:
            # missing dir, or a dir holding only sidecars (_meta.json /
            # _writer.lock) with no parquet yet — both mean length 0;
            # any other failure propagates (never silently restart
            # ordinals at 0 over existing data)
            s = str(exc)
            if (
                "PATH_NOT_FOUND" in s
                or "Path does not exist" in s
                or "UNABLE_TO_INFER_SCHEMA" in s
            ):
                return None
            raise

    def count(self) -> int:
        """Record count — the reference's `len` (vector_engine.rs:92-94).

        The meta header is the analog of the reference's 8-byte length
        header (dynamic_vector_manage_service.rs:72-79) but is written
        *after* the data commits, so on any crash window it can only be
        stale-low; reconciling with the footer count (max) yields the
        committed length. Concurrent writers are not supported (the
        reference serializes writers on an in-process mutex; across
        processes neither engine guards this).
        """
        meta = self._read_meta()
        if meta is not None and self._reconciled:
            return meta  # O(1) header read, like the reference
        footer = self._footer_count()
        self._reconciled = True
        if meta is None and footer is None:
            return 0
        if footer is None:
            return meta
        if meta is None or footer > meta:
            self._write_meta(footer)  # repair the stale/missing header
            return footer
        return meta

    def is_empty(self) -> bool:
        return self.count() == 0

    # -- writes -------------------------------------------------------
    def _df(self) -> DataFrame:
        # the stored dataset carries payload + rowid; parquet footers
        # are authoritative (self.schema describes only the payload and
        # is used when coercing python rows in pushx). mergeSchema
        # reconciles batches appended with evolved (column-added)
        # schemas — see ``pushx`` docstring. Merging reads every
        # file's footer in a Spark job; read_parquet runs that job only
        # when the store's files changed since the last read, so the
        # first read after a write pays it and later reads do not.
        return read_parquet(self.spark, self.path, merge_schema=True)

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
        a per-row projection that keeps row order), so row-group stats
        are pruning-friendly without any sort, and one atomic parquet
        append commits it.

        A list of rows (``push``, ``IngestBuffer.flush``) is already on
        the driver and in order: it is written as ONE partition whose
        rowid is ``start`` + its position, one job and one file, with no
        persist and no counting job.

        Schema evolution [EXT — the reference's schemas are fixed at
        compile time, dynamic-vector-macro]: a batch may ADD nullable
        columns relative to earlier batches; reads merge footers
        (``mergeSchema``) and older rows surface NULL for the new
        columns. Dropping or retyping columns is not supported —
        parquet would resolve them inconsistently.

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
        the epoch commits in the SAME atomic meta rename as the length
        header. This is how the streaming sink survives micro-batch
        replays after a restart without duplicating rows (the pattern
        Spark's docs prescribe for ``foreachBatch`` exactly-once: an
        epoch-keyed idempotent sink). The remaining window is a crash
        BETWEEN the parquet commit and the meta rename — a replay then
        re-appends that one batch (at-least-once for exactly that
        batch; the reference under the same crash instead LOSES its
        whole buffer, writable_cache.rs has no WAL).
        """
        n_rows = 0
        if not isinstance(batch, DataFrame):
            rows = list(batch)
            n_rows = len(rows)
            batch = self.spark.createDataFrame(rows, schema=self.schema)
        with self._write_lock, self._process_write_lock():
            if txn is not None and txn[1] <= self.last_committed_epoch(txn[0]):
                return -1
            start = self.count()
            if n_rows:
                written = n_rows
                (
                    batch.coalesce(1)
                    .withColumn(ROWID, _rowid(F.lit(start), F.monotonically_increasing_id()))
                    .write.mode("append")
                    .parquet(self.path)
                )
            else:
                # Persist the tagged frame so the counts action and the
                # write see the SAME partitioning even for
                # non-deterministic sources (shuffles, sampled/rand
                # inputs) — without this, drift between the two
                # evaluations could assign non-dense or duplicate
                # ordinals silently.
                tagged = batch.withColumn("_mid", F.monotonically_increasing_id())
                if not deterministic_source:
                    tagged = tagged.persist(StorageLevel.MEMORY_AND_DISK)
                try:
                    out, written = _dense_rowid_frame(tagged, start)
                    # r14: no sortWithinPartitions — rowid is provably in
                    # physical row order within every partition (see the
                    # docstring), so the old sort was a semantic no-op
                    # that still paid a full Tungsten sort pass over the
                    # batch (alternating A/B on the 1M-row w1 append: min
                    # 2.08 s -> 1.62 s). A plan test pins the written
                    # files rowid-ordered.
                    out.write.mode("append").parquet(self.path)
                finally:
                    if not deterministic_source:
                        tagged.unpersist()
            self._write_meta(start + written, txn=txn)
            self._reconciled = True
            return start

    def push(self, row: Row | dict) -> int:
        """Append one record (degenerate pushx — vector_engine.rs:79-81)."""
        return self.pushx([row])

    # -- reads --------------------------------------------------------
    def pullx(self, index: int, count: int, ordered: bool = True) -> DataFrame:
        """Contiguous range read by ordinal (reference `pullx`).

        A rowid BETWEEN predicate pushed into the Parquet scan; with
        rowid-ordered row groups this touches only the overlapping
        groups — the analog of the reference's single spanning blob
        read (dynamic_vector_manage_service.rs:332-359).

        ``ordered=False`` skips the result sort (a range-sized shuffle)
        for callers feeding joins/aggregates that don't need row order
        — same guidance as ``getall``.
        """
        n = self.count()
        if index < 0 or count < 0 or index + count > n:
            raise IndexError(f"range [{index}, {index + count}) out of bounds for length {n}")
        df = self._df().where(F.col(ROWID).between(index, index + count - 1))
        return df.orderBy(ROWID) if ordered else df

    def pull(self, index: int) -> DataFrame:
        """Point read by ordinal (reference `pull`)."""
        n = self.count()
        if index < 0 or index >= n:
            raise IndexError(f"index {index} out of bounds for length {n}")
        return self._df().where(F.col(ROWID) == index)

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
        so row-group pruning for point/range reads is as tight as a
        freshly bulk-written store. Offline operation — concurrent
        readers of the same path may see a partial swap (same
        single-writer contract as ``pushx``); a crash mid-swap leaves
        the complete old or complete new directory plus a leftover to
        clean, never a mix.

        Returns the row count (sanity-checked before the swap).
        """
        import shutil

        with self._write_lock, self._process_write_lock():
            n = self.count()
            if n == 0:
                return 0
            if n_files <= 0:
                n_files = max(1, n // 1_000_000)
            new_path = self.path.rstrip("/") + ".compacting"
            shutil.rmtree(new_path, ignore_errors=True)
            (
                self._df()
                .repartitionByRange(n_files, F.col(ROWID))
                .sortWithinPartitions(ROWID)
                .write.mode("overwrite")
                .parquet(new_path)
            )
            rewritten = self.spark.read.parquet(new_path).count()
            if rewritten != n:
                shutil.rmtree(new_path, ignore_errors=True)
                raise RuntimeError(f"compact wrote {rewritten} rows, expected {n}; aborted")
            old_path = self.path.rstrip("/") + ".old"
            shutil.rmtree(old_path, ignore_errors=True)
            os.replace(self.path, old_path)
            os.replace(new_path, self.path)
            shutil.rmtree(old_path, ignore_errors=True)
            self._write_meta(n)
            self._reconciled = True
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
        silently misordered data).
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
            expected = s.max_rowid + 1
        n = self.count()
        if expected != n:
            raise RuntimeError(f"spans cover 0..{expected - 1} but store holds {n} rows")
        return spans

    def export_ordered(self) -> Iterator[tuple[int, int, DataFrame]]:
        """Shuffle-free ordered bulk export: ``(lo, hi, DataFrame)``
        per file, in ordinal order.

        ``getall(ordered=True)``/full-range ``pullx`` pay a global
        range sort — at 10M rows that is a sampling re-scan plus a
        full-data shuffle (measured 22x the unordered scan,
        BASELINE.md §D), and at 100 TB it is the single most
        expensive thing you can ask a cluster to do. But the store's
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
