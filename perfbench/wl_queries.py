"""``query_mix``: registered queries on generated tables.

Before the session starts, ``prepare`` generates the ten input tables
from the seed and hashes each query's DuckDB ``oracle_sql()`` result on
them; that work is the benchmark's own and is not in ``setup_s``. Set-up
then runs a warm-up cycle that collects every query's result and hashes
it, and a second one on the timed path. The warm-up
absorbs JIT and codegen (its cost, less the hashing, is part of
``setup_s``), and the first cycle is the correctness check: each hash
must equal the oracle's. Each timed operation is one query, from the
callable's call to the completion of a ``noop`` sink, followed by
``clearCache()``; each cycle starts with ``scratch.reset()`` so
scratch-backed queries pay their build once per pass.
"""

from __future__ import annotations

import os
import random
import time

import catalog
import datagen
from oracle import Oracle, result_hash

#: executed-plan node names that mean rows cross the Python/Arrow boundary
PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
                "FlatMapGroupsInPandas", "PythonUDTF", "ArrowEvalPythonUDTF",
                "BatchEvalPythonUDTF")


def plan_nodes(plan, cap: int = 100_000) -> int:
    """Node count of a Catalyst plan, walked through py4j."""
    n, stack = 0, [plan]
    while stack and n < cap:
        node = stack.pop()
        n += 1
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
    return n


class QueryMix:
    #: wall time of one cycle on an idle 4-vCPU host
    nominal_cycle_s = 8.0
    #: probes before the first operation and after each one: a probe
    #: right after a loop or stream query also reads its clean-up
    probes_per_op = 3

    def __init__(self, run):
        self.run = run
        self.names = list(catalog.QUERY_MIX)
        random.Random(run.seed).shuffle(self.names)
        self.per_cycle = dict.fromkeys(self.names, 1)
        self.sf = 0.001 if run.tiny else 0.01
        self.data = os.path.join(run.work, "tables")
        self.expected: dict[str, tuple[str, int]] = {}
        self.oracle_errors: dict[str, BaseException] = {}
        self.python_kinds: set[str] = set()

    # -- set-up ----------------------------------------------------
    def prepare(self) -> None:
        datagen.generate(self.data, self.run.seed, self.sf)
        import __spark_entry__ as entry

        self.queries = entry.queries()
        sqls = entry.oracle_sql()
        orc = Oracle(self.data)
        try:
            for name in self.names:
                try:
                    self.expected[name] = orc.hash(sqls[name])
                except Exception as exc:  # noqa: BLE001 - recorded as a failed check
                    self.oracle_errors[name] = exc
        finally:
            orc.close()

    def setup(self) -> None:
        from vector_db_core_spark import scratch

        self.scratch = scratch
        spark = self.run.spark
        got: dict[str, tuple[str, int]] = {}
        scratch.reset()
        for name in self.names:
            try:
                df = self.queries[name](spark, self.data)
                rows = df.collect()
                t = time.thread_time()
                got[name] = (result_hash([tuple(r) for r in rows], df.columns), len(rows))
                self.run.harness_cpu_s += time.thread_time() - t
            except Exception as exc:  # noqa: BLE001
                self.run.fail(f"{name} warm-up", exc)
            finally:
                spark.catalog.clearCache()
        if self.run.args.inject_failure and got:
            name = self.names[0]
            got[name] = ("injected", got[name][1])
        for name in self.names:
            if name in self.oracle_errors:
                self.run.fail(f"{name} oracle", self.oracle_errors[name])
            elif name in got:
                self.run.check(got[name] == self.expected[name],
                               f"{name} matches its DuckDB oracle {got[name]} vs {self.expected[name]}")
        # One more untimed pass, on the timed path (noop sink): without it
        # the first timed pass still pays codegen and JIT for the sink
        # plans and cost 10-30% more CPU and wall time than the next.
        for name, fn in self.cycle_ops(-1):
            try:
                fn()
            except Exception as exc:  # noqa: BLE001
                self.run.fail(f"{name} warm-up pass", exc)

    # -- the closed loop ---------------------------------------------
    def cycle_ops(self, cycle: int):
        self.scratch.reset()
        for name in self.names:
            yield name, lambda name=name: self._run_query(name)

    def _run_query(self, name: str) -> bool:
        spark, tracer = self.run.spark, self.run.tracer
        with tracer.span("build", "driver"):
            df = self.queries[name](spark, self.data)
        if tracer.enabled:
            with tracer.span("plan", "driver") as sp:
                qe = df._jdf.queryExecution()
                executed = qe.executedPlan()
            sp.extra["plan_nodes"] = plan_nodes(qe.optimizedPlan())
            text = executed.toString()
            if any(node in text for node in PYTHON_NODES):
                self.python_kinds.add(name)
        with tracer.span("sink", "sink"):
            df.write.mode("overwrite").format("noop").save()
        spark.catalog.clearCache()
        return True

    def verify(self) -> None:
        pass

    def layer_metrics(self, samples, totals, med: dict[str, float]) -> dict:
        m = {f"operators.{q}_s": med.get(q, 0.0) for q in self.names}
        m["python.queries"] = len(self.python_kinds)
        m["python.queries_s"] = sum(med.get(q, 0.0) for q in self.python_kinds)
        m["streaming.replay_s"] = sum(v for q, v in med.items() if q.startswith("streaming_"))
        return m

    def close(self) -> None:
        pass
