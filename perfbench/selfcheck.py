"""Self-check of the benchmark at the smallest scale (a few minutes).

    python3 perfbench/selfcheck.py

Checks that ``BENCHMARK.json`` and ``catalog.py`` name the same metrics
with the same units, directions and bounds; that every workload, traced
and untraced, prints every metric it names with its unit and passes its
correctness checks; that an injected wrong result raises the failure
count; and that the launcher exits non-zero, printing no result, when
the engine is absent.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

import catalog

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def check(ok: bool, what: str) -> None:
    if not ok:
        raise SystemExit(f"selfcheck FAILED: {what}")
    print(f"ok  {what}", flush=True)


def launch(*args: str, cwd: str = ROOT, run_py: str = os.path.join(HERE, "run.py")):
    proc = subprocess.run([sys.executable, run_py, *args], cwd=cwd, capture_output=True,
                          text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    return proc.returncode, (json.loads(lines[-1]) if proc.returncode == 0 and lines else None)


def check_manifest() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        doc = json.load(f)
    check([w["name"] for w in doc["workloads"]] == list(catalog.WORKLOADS), "workload names")
    check([(m["name"], m["unit"], m["better"], m["bound"]) for m in doc["end_to_end"]]
          == [tuple(m) for m in catalog.END_TO_END], "end-to-end metrics match the catalog")
    check([(m["name"], m["unit"], m["better"]) for m in doc["per_layer"]]
          == [m[:3] for m in catalog.PER_LAYER], "per-layer metrics match the catalog")


def check_run(workload: str, trace: int) -> None:
    code, res = launch("--workload", workload, "--seed", "3", "--seconds", "1",
                       "--trace", str(trace), "--tiny")
    what = f"{workload} trace={trace}"
    check(code == 0 and res is not None and set(res) == RESULT_KEYS, f"{what}: result line")
    names = catalog.LAYER_NAMES if trace else catalog.E2E_NAMES
    check(list(res["metrics"]) == list(names)
          and all(res["metrics"][n]["unit"] == catalog.UNITS[n] for n in names),
          f"{what}: every metric printed with its unit")
    check(res["correct"] and res["failed"] == 0 and res["attempted"] > 1,
          f"{what}: correctness checks ran ({res['attempted']}) and passed")


def check_injected(workload: str) -> None:
    code, res = launch("--workload", workload, "--seed", "3", "--seconds", "1",
                       "--trace", "0", "--tiny", "--inject-failure")
    check(code == 0 and res["failed"] == 1 and not res["correct"],
          f"{workload}: an injected wrong result is counted as failed")


def check_bare_dir() -> None:
    scratch = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(scratch, exist_ok=True)
    bare = tempfile.mkdtemp(prefix="bare-", dir=scratch)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        code, res = launch("--workload", "store", "--seed", "1", "--seconds", "1", "--trace", "0",
                           cwd=bare, run_py=os.path.join(bare, "perfbench", "run.py"))
        check(code != 0 and res is None, "no engine: non-zero exit and no result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def main() -> None:
    check_manifest()
    check_bare_dir()
    for workload in catalog.WORKLOADS:
        for trace in (0, 1):
            check_run(workload, trace)
    for workload in ("store", "query_mix"):
        check_injected(workload)
    print("selfcheck passed")


if __name__ == "__main__":
    main()
