"""One benchmark run: set up, warm up, measure a closed loop, verify.

Started by ``run.py``, which prepares the environment. One client runs
operations back to back (a closed loop) on the engine's own session
(``get_spark()``, ``local[$SPARK_GRAFT_CPUS]``). The last line of
standard output is the result object.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import statistics
import sys
import time
import traceback
from dataclasses import dataclass

import catalog
from layers import Tracer, median, wrap_engine_hooks


@dataclass
class Sample:
    kind: str
    seconds: float
    cpu_s: float
    cycle: int
    traced: bool
    span: int | None
    #: median CPU seconds of the probes taken just before and just after
    probe_s: float


class Run:
    """State shared by the harness and one workload."""

    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.seed = args.seed
        self.tiny = args.tiny
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        #: CPU seconds of the benchmark's own set-up work (inputs, oracle, hashing)
        self.harness_cpu_s = 0.0
        self.layer: dict[str, float] = {}
        #: (sort, jobs) CPU seconds of each probe taken in the loop
        self.probes: list[tuple[float, float]] = []
        self.spark = None
        self.tracer: Tracer | None = None

    def check(self, ok: bool, what: str) -> bool:
        """Count one verified operation; a miss counts as failed."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)
            print(f"perfbench: FAILED {what}", file=sys.stderr, flush=True)
        return ok

    def fail(self, what: str, exc: BaseException) -> None:
        traceback.print_exception(exc, file=sys.stderr)
        self.check(False, f"{what}: {type(exc).__name__}: {str(exc).splitlines()[0][:200] if str(exc) else ''}")


def vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


#: thread names (as the kernel truncates them) of the JIT compilers,
#: whose CPU is warm-up work, not work the operations asked for
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat(path: str) -> tuple[str, list[str]] | None:
    try:
        with open(path) as f:
            head, rest = f.read().rsplit(")", 1)
    except OSError:
        return None
    return head.split("(", 1)[1], rest.split()


def _session_procs():
    """(pid, stat fields) of every live process in this session: driver
    Python, driver JVM, Spark's Python daemon and workers."""
    sid = os.getsid(0)
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _stat(f"/proc/{pid}/stat")
            if st is not None and int(st[1][3]) == sid:
                yield pid, st[1]


def session_cpu_s(jit: bool = True) -> float:
    """User plus system CPU seconds this session's processes (driver
    Python, driver JVM, Spark's Python daemon and workers) used since
    they started, with every thread, live or ended, and every child they
    have reaped (Spark's launcher JVM, ended Python workers). Time the
    hypervisor steals from the VM is not in these counters, so they move
    much less than wall time with a busy neighbour. With ``jit=False``
    the JIT compiler threads are left out: their CPU is warm-up work,
    not work the operations asked for."""
    ticks = 0
    for pid, st in _session_procs():
        ticks += sum(int(x) for x in st[11:15])
        if not jit:
            for tid in _jit_tids(pid):
                t = _stat(f"/proc/{pid}/task/{tid}/stat")
                if t is not None:
                    ticks -= int(t[1][11]) + int(t[1][12])
    return ticks / os.sysconf("SC_CLK_TCK")


_JIT_TIDS: dict[str, list[str]] = {}


def _jit_tids(pid: str) -> list[str]:
    """Thread ids of a process's JIT compiler threads. ``run.py`` starts
    the JVM with a fixed set of them, so they are looked up once."""
    if pid not in _JIT_TIDS:
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            tids = []
        _JIT_TIDS[pid] = [tid for tid in tids
                          if (t := _stat(f"/proc/{pid}/task/{tid}/stat")) is not None
                          and t[0].startswith(JIT_THREADS)]
    return _JIT_TIDS[pid]


#: the probe: a fixed multi-threaded sort in the JVM and a fixed set of
#: tiny scheduler jobs; no engine code and no SQL, so only the session's
#: scheduler settings and the host's load move it, the load as it moves
#: the workload
PROBE_INTS = 2_000_000
PROBE_JOBS = 4


def probe_cpu_s(spark) -> tuple[float, float]:
    """CPU seconds (JIT threads left out) the run's processes spend on
    the probe's sort and on its jobs."""
    jvm = spark.sparkContext._jvm
    sc = spark.sparkContext._jsc.sc()
    ints = jvm.java.util.Random(7).ints(PROBE_INTS).toArray()
    cpu = session_cpu_s(jit=False)
    jvm.java.util.Arrays.parallelSort(ints)
    sort_s = session_cpu_s(jit=False) - cpu
    cpu = session_cpu_s(jit=False)
    for _ in range(PROBE_JOBS):
        sc.range(0, 4_000, 1, 4).count()
    return sort_s, session_cpu_s(jit=False) - cpu


def host_cpu_ticks() -> list[int]:
    """Host-wide CPU ticks by state (``/proc/stat``: user, nice, system,
    idle, iowait, irq, softirq, steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def host_fingerprint(spark, load_start, ticks_start) -> dict:
    ticks = [b - a for a, b in zip(ticks_start, host_cpu_ticks())]
    mem_total = None
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_total = int(line.split()[1])
    jvm = spark.sparkContext._jvm
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_kb": mem_total,
        "loadavg_start": load_start,
        "loadavg_end": list(os.getloadavg()),
        # share of the host's CPU time the hypervisor gave to other guests during the run
        "steal_pct": 100.0 * ticks[7] / max(1, sum(ticks)),
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark.master": spark.sparkContext.master,
        "spark.driver.memory": spark.sparkContext.getConf().get("spark.driver.memory", None),
    }


def closed_loop(run: Run, wl, seconds: float, trace: bool) -> tuple[list[Sample], int]:
    """Run the workload's cycles back to back.

    A run measures a fixed number of whole cycles, ``seconds`` divided
    by the workload's nominal cycle time (its wall time on an idle
    host), at least one. A fixed count rather than a deadline keeps
    the work, and so the counts, the same on a slower host: the store
    grows every cycle and its full scans read what is there. With
    ``trace``, at least two cycles run, alternating untraced and traced.

    An operation returns its result check, a bool or a function that
    gives one; a function runs after the operation's time and CPU are
    taken, so the benchmark's own row checks are not measured.

    The probe runs ``wl.probes_per_op`` times before the first operation
    and after each one, outside the operations' time and CPU; each sample
    keeps the median of the probes just before and just after it.
    """
    tracer = run.tracer
    samples: list[Sample] = []

    def probes() -> list[float]:
        taken = [probe_cpu_s(run.spark) for _ in range(wl.probes_per_op)]
        run.probes += taken
        return [sort_s + jobs_s for sort_s, jobs_s in taken]

    before = probes()
    n = max(1, round(seconds / wl.nominal_cycle_s))
    for cycle in range(max(2, n) if trace else n):
        traced = trace and cycle % 2 == 1
        tracer.enabled = traced
        for kind, fn in wl.cycle_ops(cycle):
            with tracer.span(kind, "op") as sp:
                cpu = session_cpu_s(jit=False)
                t = time.perf_counter()
                try:
                    ok = fn()
                except Exception as exc:  # noqa: BLE001 - the loop must finish and report
                    run.fail(f"{kind} (cycle {cycle})", exc)
                    continue
                dt = time.perf_counter() - t
                cpu = session_cpu_s(jit=False) - cpu
            after = probes()
            probe = median(before + after)
            before = after
            try:
                ok = ok() if callable(ok) else ok
            except Exception as exc:  # noqa: BLE001
                run.fail(f"{kind} (cycle {cycle}) check", exc)
                continue
            run.check(ok is not False, f"{kind} (cycle {cycle}) result")
            samples.append(Sample(kind, dt, cpu, cycle, traced,
                                  sp.index if sp is not None else None, probe))
    tracer.enabled = False
    return samples, cycle + 1


def kind_stat(samples: list[Sample], traced: bool, stat=median, field="seconds") -> dict[str, float]:
    by: dict[str, list[float]] = {}
    for s in samples:
        if s.traced == traced:
            by.setdefault(s.kind, []).append(getattr(s, field))
    return {k: stat(v) for k, v in by.items()}


def geomean_ms(per_kind: dict[str, float]) -> float:
    return math.exp(sum(math.log(max(v, 1e-3) * 1e3) for v in per_kind.values()) / max(1, len(per_kind)))


def pass_seconds(per_cycle: dict[str, int], per_kind: dict[str, float]) -> float:
    return sum(n * per_kind[k] for k, n in per_cycle.items() if k in per_kind)


def per_pass_count(wl, samples: list[Sample], spans, key: str, traced: bool) -> float:
    """Σ over operation kinds of (count per cycle) x (mean over the
    kind's samples of the operation's status-store counter ``key``)."""
    by: dict[str, list[float]] = {}
    for s in samples:
        if s.traced == traced and s.span is not None:
            by.setdefault(s.kind, []).append(spans[s.span].counters.get(key, 0))
    return sum(n * statistics.fmean(by[k]) for k, n in wl.per_cycle.items() if k in by)


def pass_cpu_s(samples: list[Sample]) -> float:
    """Median over untraced cycles of the CPU seconds the cycle's
    operations took."""
    by: dict[int, float] = {}
    for s in samples:
        if not s.traced:
            by[s.cycle] = by.get(s.cycle, 0.0) + s.cpu_s
    return median(by.values())


def pass_cpu_probes(samples: list[Sample]) -> float:
    """Median over untraced cycles of the Σ over the cycle's operations
    of (CPU seconds / the probe's CPU seconds around the operation)."""
    by: dict[int, float] = {}
    for s in samples:
        if not s.traced:
            by[s.cycle] = by.get(s.cycle, 0.0) + s.cpu_s / s.probe_s
    return median(by.values())


def probe_s(run: Run) -> float:
    """Median CPU seconds of one probe in the run's loop."""
    return median(sort_s + jobs_s for sort_s, jobs_s in run.probes)


def end_to_end(wl, samples: list[Sample], spans, setup_s: float) -> dict:
    """Set-up time, CPU time per pass in probes, and the work one pass
    asks of Spark. Wall and raw CPU times per pass are per-layer numbers
    (see README: with the host's load they moved by more than the widest
    bound)."""
    return {
        "setup_s": setup_s,
        "pass_cpu_probes": pass_cpu_probes(samples),
        "jobs_per_pass": per_pass_count(wl, samples, spans, "jobs", False),
        "tasks_per_pass": per_pass_count(wl, samples, spans, "tasks", False),
        "input_records_per_pass": per_pass_count(wl, samples, spans, "input_records", False),
        "shuffle_bytes_per_pass": per_pass_count(wl, samples, spans, "shuffle_write_bytes", False),
    }


def subtree_totals(spans) -> list[dict]:
    """Per span: its own and all descendants' counters, hook values and
    child durations (``t.<name>``)."""
    totals = [dict() for _ in spans]
    for i in range(len(spans) - 1, -1, -1):
        sp = spans[i]
        tot = totals[i]
        for k, v in list(sp.counters.items()) + list(sp.extra.items()):
            if isinstance(v, bool):
                v = int(v)
            tot[k] = max(tot.get(k, 0), v) if k == "skew" else tot.get(k, 0) + v
        if sp.parent is not None:
            ptot = totals[sp.parent]
            for k, v in tot.items():
                ptot[k] = max(ptot.get(k, 0), v) if k == "skew" else ptot.get(k, 0) + v
            key = f"t.{sp.name}"
            ptot[key] = ptot.get(key, 0.0) + sp.seconds
    return totals


def per_layer(run: Run, wl, samples: list[Sample]) -> dict:
    """Per-layer numbers from the traced cycles, each a per-pass value:
    the sum over operation kinds of (kind's count per pass) x (median
    over the kind's traced samples)."""
    spans = run.tracer.spans
    totals = subtree_totals(spans)
    traced = [s for s in samples if s.traced and s.span is not None]

    def per_pass(key: str) -> float:
        out = 0.0
        for kind, n in wl.per_cycle.items():
            vals = [totals[s.span].get(key, 0) for s in traced if s.kind == kind]
            out += n * median(vals)
        return out

    med_t = kind_stat(samples, traced=True)
    med_u = kind_stat(samples, traced=False)
    pass_t = pass_seconds(wl.per_cycle, kind_stat(samples, traced=True, stat=statistics.fmean))
    pass_u = pass_seconds(wl.per_cycle, kind_stat(samples, traced=False, stat=statistics.fmean))
    traced_cycles = {s.cycle for s in traced}
    m = {
        "driver.build_s": per_pass("t.build"),
        "driver.plan_s": per_pass("t.plan"),
        "driver.plan_nodes": per_pass("plan_nodes"),
        "spark.jobs": per_pass("jobs"),
        "spark.stages": per_pass("stages"),
        "spark.tasks": per_pass("tasks"),
        "scan.input_records": per_pass("input_records"),
        "shuffle.write_bytes": per_pass("shuffle_write_bytes"),
        "shuffle.read_bytes": per_pass("shuffle_read_bytes"),
        "shuffle.skew": max([totals[s.span].get("skew", 1.0) for s in traced] or [1.0]),
        "executor.run_s": per_pass("run_s"),
        "executor.cpu_s": per_pass("cpu_s"),
        "executor.gc_s": per_pass("gc_s"),
        "executor.spill_bytes": per_pass("spill_bytes"),
        "scratch.builds": per_pass("scratch_builds"),
        "scratch.build_s": per_pass("scratch_build_s"),
        "checkpoint.cuts": per_pass("checkpoint_cuts"),
        "checkpoint.s": per_pass("checkpoint_s"),
        "trace.overhead_pct": 100.0 * (pass_t / pass_u - 1.0) if pass_u > 0 else 0.0,
        # means per kind, so the slow first pull_row after each write counts
        "wall.pass_s": pass_u,
        "wall.op_geomean_ms": geomean_ms(med_u),
        "cpu.pass_s": pass_cpu_s(samples),
        "cpu.probe_s": probe_s(run),
        "cpu.probe_sort_s": median(p[0] for p in run.probes),
        "cpu.probe_jobs_s": median(p[1] for p in run.probes),
        "trace.spans": sum(sp.layer != "op" for sp in spans) / max(1, len(traced_cycles)),
    }
    m.update(wl.layer_metrics(samples, totals, med_t))
    return m


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--workload", required=True, choices=catalog.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--tiny", action="store_true",
                   help="self-check scale: smallest inputs, same code paths")
    p.add_argument("--inject-failure", action="store_true",
                   help="corrupt one verified result (self-check of the failure count)")
    return p.parse_args(argv)


def main(argv) -> int:
    t_launch = float(os.environ.get("PERFBENCH_T0", time.time()))
    args = parse_args(argv)
    work = os.environ["PERFBENCH_WORK"]
    load_start = list(os.getloadavg())
    ticks_start = host_cpu_ticks()
    run = Run(args, work)

    import wl_queries
    import wl_store
    from vector_db_core_spark.session import get_spark

    run.tracer = Tracer()
    wrap_engine_hooks(run.tracer)
    wl = (wl_store.StoreWorkload if args.workload == "store" else wl_queries.QueryMix)(run)
    # inputs and expected results are the benchmark's own work: made
    # before the session starts and left out of setup_s
    cpu = session_cpu_s()
    try:
        wl.prepare()
    except Exception as exc:  # noqa: BLE001 - report the failed run, not a traceback only
        run.fail("prepare", exc)
        print(json.dumps({"failures": run.failures}), flush=True)
        return 1
    run.harness_cpu_s += session_cpu_s() - cpu

    t = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    run.spark = spark
    run.tracer.sc = spark.sparkContext
    run.layer["session.start_s"] = time.perf_counter() - t

    t = time.perf_counter()
    try:
        wl.setup()
    except Exception as exc:  # noqa: BLE001 - report the failed run, not a traceback only
        run.fail("setup", exc)
        print(json.dumps({"failures": run.failures}), flush=True)
        return 1
    run.layer["session.warmup_s"] = time.perf_counter() - t
    run.layer["session.setup_wall_s"] = time.time() - t_launch
    # CPU, not wall, time: the set-up's wall time moved 38-69 s between
    # runs as the hypervisor's steal went from 2% to 29%
    setup_s = session_cpu_s() - run.harness_cpu_s
    # the probe's own warm-up, after set-up is measured: its JIT and
    # first jobs are not in the loop's probes
    for _ in range(3):
        probe_cpu_s(spark)
    run.tracer.start_counting()

    samples, cycles = closed_loop(run, wl, args.seconds, bool(args.trace))
    try:
        wl.verify()
    except Exception as exc:  # noqa: BLE001
        run.fail("verify", exc)

    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    run.layer["session.peak_rss_mb"] = (vm_hwm_kb(jvm_pid) + vm_hwm_kb("self")) / 1024.0
    host = host_fingerprint(spark, load_start, ticks_start)

    if args.trace:
        values = dict.fromkeys(catalog.LAYER_NAMES, 0.0)
        values.update(run.layer)
        values.update(per_layer(run, wl, samples))
        names = catalog.LAYER_NAMES
    else:
        values = end_to_end(wl, samples, run.tracer.spans, setup_s)
        names = catalog.E2E_NAMES
    metrics = {n: {"value": float(values[n]), "unit": catalog.UNITS[n]} for n in names}

    out_dir = os.environ.get("PERFBENCH_OUT")
    if out_dir:
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
        with open(path, "w") as f:
            json.dump({"host": host, "args": vars(args), "cycles": cycles,
                       "samples": [s.__dict__ for s in samples], "probes": run.probes, "failures": run.failures,
                       "layer": run.layer, "metrics": metrics, "spans": run.tracer.dump()}, f)
    wl.close()
    print("perfbench host " + json.dumps(host), flush=True)
    print(f"perfbench samples={len(samples)} cycles={cycles} failures={run.failures[:5]}", flush=True)
    print(json.dumps({"correct": run.failed == 0, "attempted": max(1, run.attempted),
                      "failed": run.failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
