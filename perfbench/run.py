"""Benchmark launcher.

    python3 perfbench/run.py --workload {store,query_mix} \\
        --seed N --seconds S --trace {0,1}

Runs from any working directory. The engine is found one directory
above this file. The launcher gives the run a private work directory
inside the checkout (tables, store, Spark local dirs, temp files), puts
the checkout on the Python path of the driver and of Spark's Python
workers, and starts ``worker.py`` in a session of its own. It relays
the worker's output, then stops every process left in that session and
removes the work directory. The last line printed is the result object;
per-run artifacts (host fingerprint, samples, spans) are written under
``.perfbench_out/``.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TIMEOUT_S = 170


def _session_pids(sid: int) -> list[int]:
    """Live processes of session ``sid``. Spark's Python daemon moves to
    its own process group, so a group kill would miss it; it stays in
    the worker's session."""
    pids = []
    for pid in os.listdir("/proc"):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        if fields[0] != "Z" and int(fields[3]) == sid:
            pids.append(int(pid))
    return pids


def _stop_session(sid: int) -> None:
    """SIGTERM, then SIGKILL, every process of the session; wait until none is left."""
    for sig, grace in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 10.0)):
        deadline = time.monotonic() + grace
        for pid in _session_pids(sid):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        while time.monotonic() < deadline:
            if not _session_pids(sid):
                return
            time.sleep(0.05)


def _terminate(signum, frame):
    signal.signal(signal.SIGTERM, signal.SIG_IGN)  # a second signal must not cut the clean-up
    raise SystemExit(1)


def main(argv: list[str]) -> int:
    t0 = time.time()
    signal.signal(signal.SIGTERM, _terminate)
    if not os.path.isdir(os.path.join(ROOT, "vector_db_core_spark")):
        print(f"perfbench: engine package not found under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    # the engine, the benchmark, and the engine's oracle sweep (result normal form)
    path = [ROOT, HERE, os.path.join(ROOT, "tools")] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])
    env.update({
        # driver and Spark's Python workers import the engine from the checkout
        "PYTHONPATH": os.pathsep.join(path),
        "SPARK_GRAFT_CPUS": env.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # no hsperfdata file under /tmp: the run writes only inside the checkout.
        # A fixed set of JIT compiler threads, so their CPU can be told apart.
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads",
        "TZ": "UTC",
        "PYTHONHASHSEED": "0",
        "PERFBENCH_T0": repr(t0),
        "PERFBENCH_WORK": work,
        "PERFBENCH_OUT": os.path.join(ROOT, ".perfbench_out"),
    })
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), *argv],
        cwd=work, env=env, stdout=subprocess.PIPE, text=True, start_new_session=True,
    )
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {TIMEOUT_S} s", file=sys.stderr)
        out, code = "", 1
    else:
        code = proc.returncode
    finally:
        _stop_session(proc.pid)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    for line in lines[:-1]:
        print(line)
    if code != 0 or not lines:
        print(f"perfbench: worker exited with code {code}", file=sys.stderr)
        return 1
    result = json.loads(lines[-1])
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
