"""Spans around layer calls, and Spark status-store counters per span.

Every timed call runs under ``Tracer.span``. A recorded span sets its
own Spark job group, so each job the call launches is attributable to
it, records its start, end and parent, and after the call reads the
jobs of its group from the status store (jobs, stages, tasks, records,
shuffle bytes, CPU, GC, spill). Spans stay in memory until the run
writes them out.
"""

from __future__ import annotations

import contextlib
import statistics
import time
from collections import Counter
from dataclasses import dataclass, field

#: status-store counters kept per span, summed over the span's stages
COUNTERS = (
    "jobs", "stages", "tasks", "input_records", "shuffle_read_bytes",
    "shuffle_write_bytes", "run_s", "cpu_s", "gc_s", "spill_bytes",
)


@dataclass
class Span:
    name: str
    layer: str
    start: float
    parent: int | None
    index: int
    end: float = 0.0
    counters: dict = field(default_factory=dict)
    #: values a hook or op attaches (scratch builds, plan nodes, ...)
    extra: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class StatusStore:
    """Reads finished jobs of one job group from Spark's status store
    (present whether or not the UI is enabled)."""

    def __init__(self, sc):
        self.sc = sc
        self.jsc = sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.quantiles = sc._gateway.new_array(sc._jvm.double, 2)
        self.quantiles[0] = 0.5
        self.quantiles[1] = 1.0

    def group_counters(self, group: str) -> dict:
        self.jsc.listenerBus().waitUntilEmpty()
        c: Counter = Counter()
        skew = 1.0
        for job_id in self.sc.statusTracker().getJobIdsForGroup(group):
            c["jobs"] += 1
            stage_ids = self.store.job(job_id).stageIds()
            for i in range(stage_ids.size()):
                sd = self.store.lastStageAttempt(stage_ids.apply(i))
                if sd.status().toString() != "COMPLETE":
                    continue  # skipped: its output was reused
                c["stages"] += 1
                c["tasks"] += sd.numTasks()
                c["input_records"] += sd.inputRecords()
                c["shuffle_read_bytes"] += sd.shuffleReadBytes()
                c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                c["run_s"] += sd.executorRunTime() / 1e3
                c["cpu_s"] += sd.executorCpuTime() / 1e9
                c["gc_s"] += sd.jvmGcTime() / 1e3
                c["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                if sd.numTasks() > 1:
                    skew = max(skew, self._skew(sd))
        out = {k: c.get(k, 0) for k in COUNTERS}
        out["skew"] = skew
        return out

    def _skew(self, sd) -> float:
        dist = self.store.taskSummary(sd.stageId(), sd.attemptId(), self.quantiles)
        if dist.isEmpty():
            return 1.0
        run = dist.get().executorRunTime()
        med, top = run.apply(0), run.apply(1)
        return top / med if med > 0 else 1.0


class Tracer:
    """Span recorder.

    Top-level spans (one per timed operation) always get their own job
    group and, once ``start_counting`` ran, their status-store counters,
    because the end-to-end counts come from them. Nested spans (layer
    calls inside an operation) are recorded only while ``enabled``, the
    traced mode; untraced, they leave the operation's job group alone,
    so its counters cover every job the operation launched.
    """

    def __init__(self):
        #: the session's SparkContext, set once the session is up
        self.sc = None
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._depth = 0
        self._seq = 0
        self._status: StatusStore | None = None
        self._streams: _StreamRuns | None = None
        self._claimed: set[str] = set()

    def start_counting(self) -> None:
        from pyspark.sql import SparkSession

        self._status = StatusStore(self.sc)
        self._streams = _StreamRuns()
        SparkSession.getActiveSession().streams.addListener(self._streams.listener)

    def _counters(self, group: str, first_run: int) -> dict:
        """Counters of the span's own job group plus those of streaming
        queries started inside it (each runs under its run id's group)."""
        out = self._status.group_counters(group)
        for run in self._streams.ids[first_run:]:
            if run in self._claimed:
                continue
            self._claimed.add(run)
            for k, v in self._status.group_counters(run).items():
                out[k] = max(out[k], v) if k == "skew" else out[k] + v
        return out

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        self._depth += 1
        record = self.enabled or (self._depth == 1 and self._status is not None)
        outer = self.sc.getLocalProperty("spark.jobGroup.id")
        group = None
        if self.enabled or self._depth == 1:
            self._seq += 1
            group = f"perfbench-{self._seq}-{name}"
            self.sc.setJobGroup(group, name)
        sp = None
        first_run = len(self._streams.ids) if self._streams else 0
        if record:
            parent = self._stack[-1] if self._stack else None
            sp = Span(name, layer, time.perf_counter(), parent, len(self.spans))
            self.spans.append(sp)
            self._stack.append(sp.index)
        try:
            yield sp
        finally:
            self._depth -= 1
            if sp is not None:
                sp.end = time.perf_counter()
                self._stack.pop()
                sp.counters = self._counters(group, first_run)
            if group is not None:
                if outer is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                else:
                    self.sc.setJobGroup(outer, outer)

    def dump(self) -> list[dict]:
        return [
            {"name": s.name, "layer": s.layer, "start": s.start, "end": s.end,
             "parent": s.parent, "counters": s.counters, "extra": s.extra}
            for s in self.spans
        ]


class _StreamRuns:
    """Records the run id of every streaming query started."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        class Listener(StreamingQueryListener):
            def onQueryStarted(inner, event):
                self.ids.append(str(event.runId))

            def onQueryProgress(inner, event):
                pass

            def onQueryIdle(inner, event):
                pass

            def onQueryTerminated(inner, event):
                pass

        self.ids: list[str] = []
        self.listener = Listener()


def median(xs, default: float = 0.0) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else default


def wrap_engine_hooks(tracer: Tracer) -> None:
    """Put spans around ``scratch.cached_table`` and
    ``checkpoint.loop_checkpoint``. Must run before the operator modules
    import ``loop_checkpoint`` by name."""
    from vector_db_core_spark import checkpoint, scratch

    orig_cached, orig_cut = scratch.cached_table, checkpoint.loop_checkpoint

    def cached_table(spark, key, sf_dir, builder, *args, **kwargs):
        before = scratch.build_count(key, sf_dir)
        with tracer.span(f"scratch.{key}", "scratch") as sp:
            out = orig_cached(spark, key, sf_dir, builder, *args, **kwargs)
        if sp is not None and scratch.build_count(key, sf_dir) > before:
            sp.extra["scratch_builds"] = 1
            sp.extra["scratch_build_s"] = sp.seconds
        return out

    def loop_checkpoint(df, eager=False):
        with tracer.span("checkpoint.loop_checkpoint", "checkpoint") as sp:
            out = orig_cut(df, eager=eager)
        if sp is not None:
            sp.extra["checkpoint_cuts"] = 1
            sp.extra["checkpoint_s"] = sp.seconds
        return out

    scratch.cached_table = cached_table
    checkpoint.loop_checkpoint = loop_checkpoint
