"""Self-test of the benchmark: every workload at smoke size, both modes.

    python3 perfbench/selftest.py

Runs each workload of BENCHMARK.json on sf0.001 data (``--smoke``) with
``--trace 0`` and ``--trace 1`` and checks that the printed workload name,
metric names, units and directions match BENCHMARK.json, that the result
line has exactly the contract's keys, and that the checks passed.  Then
runs the benchmark in a directory holding only BENCHMARK.json and the
benchmark's files, where it must fail without printing a result.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--smoke"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def check_run(spec: dict, workload: str, trace: int) -> list[str]:
    out = _run(ROOT, workload, trace)
    errs = []
    if out.returncode != 0:
        return [f"{workload} trace={trace}: exit {out.returncode}: {out.stderr[-2000:]}"]
    lines = out.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
        errs.append(f"result keys {sorted(res)}")
    if res["correct"] is not True or res["attempted"] < 1 or res["failed"] != 0:
        errs.append(f"correct={res['correct']} attempted={res['attempted']} failed={res['failed']}")
    declared = spec["per_layer" if trace else "end_to_end"]
    if f"workload {workload}" not in lines:
        errs.append("workload name not printed")
    for m in declared:
        got = res["metrics"].get(m["name"])
        if got is None or got["unit"] != m["unit"] or not math.isfinite(got["value"]):
            errs.append(f"metric {m['name']}: {got}")
        elif not trace and got["value"] <= 0:
            errs.append(f"end-to-end metric {m['name']} reads {got['value']}")
        want = [m["unit"], m["better"]]
        if not any(x.split()[2:] == want for x in lines if x.split()[:1] == [m["name"]]):
            errs.append(f"no printed line '{m['name']} <value> {' '.join(want)}'")
    if len(res["metrics"]) != len(declared):
        errs.append(f"{len(res['metrics'])} metrics printed, {len(declared)} declared")
    return [f"{workload} trace={trace}: {e}" for e in errs]


def check_bare_directory() -> list[str]:
    """Without the engine beside it the benchmark must fail, printing no result."""
    bare = os.path.join(ROOT, ".bench_build", "perfbench", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    out = _run(bare, "llm_operators", 0)
    shutil.rmtree(bare, ignore_errors=True)
    if out.returncode == 0 or '"correct"' in out.stdout:
        return [f"bare directory: exit {out.returncode}, stdout {out.stdout[-200:]!r}"]
    return []


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, HERE)
    import run

    errs = []
    if list(run.WORKLOADS) != [w["name"] for w in spec["workloads"]]:
        errs.append(f"run.py workloads {run.WORKLOADS} != BENCHMARK.json")
    for w in spec["workloads"]:
        for trace in (0, 1):
            errs += check_run(spec, w["name"], trace)
            print(f"checked {w['name']} trace={trace}", flush=True)
    errs += check_bare_directory()
    for e in errs:
        print(f"FAIL {e}")
    print("selftest", "failed" if errs else "passed")
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main())
