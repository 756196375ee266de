#!/usr/bin/env python
"""Paired A/B of two checkouts on the perfbench end-to-end metrics.

Runs N pairs of ``perfbench/run.py --trace 0`` for each workload, one run
from the PARENT checkout and one from the CHANGE checkout per pair,
alternating which side goes first (even pairs: parent first).  Pair i
uses seed ``seeds[i % len(seeds)]``; both sides of a pair use the same
seed and ``--seconds``.  Each checkout runs its own copy of the
benchmark, so both write under their own ``.bench_build/``.

For every workload and end-to-end metric of BENCHMARK.json (read from the
change checkout) it prints each side's median and quartiles, the pairs
each side won (ties count for neither), and whether a gain may be
claimed: the change wins at least 9/10 of the pairs and its median is
better than the parent's by more than the parent's inter-quartile range.
It also prints, for each metric, whether the change's median is worse
than the parent's by more than the metric's BENCHMARK.json bound.  A run
that exits non-zero, is not ``correct`` or reports failed operations is
listed, and its metrics are left out.

    python tools/ab_pairs.py --parent ../parent --change . \\
        --workload api_session --pairs 10 --seeds 11,12,13,21,22,23,24,31,32,33

``--out FILE`` also writes every run's JSON result there.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def run_one(checkout: str, workload: str, seed: int, seconds: float) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        res = {"correct": False, "metrics": {}}
    # run.py prints each request kind's median ("  <kind>  <s> s  median of n")
    res["kinds"] = {
        line.split()[0]: float(line.split()[1])
        for line in lines
        if line.startswith("  ") and "median of" in line
    }
    res["returncode"] = p.returncode
    if p.returncode:
        res["stderr_tail"] = p.stderr.strip().splitlines()[-5:]
    return res


def ok(res: dict) -> bool:
    return res["returncode"] == 0 and res.get("correct") and not res.get("failed")


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def report(workload: str, pairs: list[tuple[dict, dict]], spec: dict) -> None:
    print(f"\n== {workload}: {len(pairs)} pairs")
    for i, (par, chg) in enumerate(pairs):
        for side, res in (("parent", par), ("change", chg)):
            if not ok(res):
                print(f"  pair {i} {side}: rc={res['returncode']} "
                      f"correct={res.get('correct')} failed={res.get('failed')} "
                      f"{res.get('stderr_tail', '')}")
    good = [(p, c) for p, c in pairs if ok(p) and ok(c)]
    print(f"{'metric':<18}{'parent q1/med/q3':>30}{'change q1/med/q3':>30}"
          f"{'wins p/c':>10}  verdict")
    for m in spec["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        xp = [p["metrics"][name]["value"] for p, _ in good]
        xc = [c["metrics"][name]["value"] for _, c in good]
        if not xp:
            print(f"{name:<18} no complete pair")
            continue
        qp, qc = quartiles(xp), quartiles(xc)

        def better(a, b):
            return a < b if lower else a > b

        wc = sum(better(c, p) for p, c in zip(xp, xc))
        wp = sum(better(p, c) for p, c in zip(xp, xc))
        gap = (qp[1] - qc[1]) if lower else (qc[1] - qp[1])
        gain = wc >= 0.9 * len(good) and gap > qp[2] - qp[0]
        worse = -gap > m["bound"] * qp[1]
        verdict = "GAIN" if gain else "REGRESSION" if worse else "no claim"
        fmt = "{:.3f}/{:.3f}/{:.3f}"
        print(f"{name:<18}{fmt.format(*qp):>30}{fmt.format(*qc):>30}"
              f"{f'{wp}/{wc}':>10}  {verdict}")
    kinds = sorted({k for p, c in good for k in (*p["kinds"], *c["kinds"])})
    if kinds:
        print(f"{'kind (per-run median s)':<30}{'parent min/med/max':>26}"
              f"{'change min/med/max':>26}")
    for k in kinds:
        cells = []
        for side in (0, 1):
            xs = [pair[side]["kinds"][k] for pair in good if k in pair[side]["kinds"]]
            cells.append("{:.4f}/{:.4f}/{:.4f}".format(
                min(xs), statistics.median(xs), max(xs)) if xs else "-")
        print(f"{k:<30}{cells[0]:>26}{cells[1]:>26}")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--parent", required=True, help="parent checkout")
    p.add_argument("--change", required=True, help="change checkout")
    p.add_argument("--workload", action="append", required=True)
    p.add_argument("--pairs", type=int, default=10)
    p.add_argument("--seeds", default="1,2,3,4,5,6,7,8,9,10")
    p.add_argument("--seconds", type=float, default=None,
                   help="run length (default: BENCHMARK.json run_seconds)")
    p.add_argument("--out", help="write every run's JSON result here")
    args = p.parse_args(argv)

    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = args.seconds if args.seconds is not None else spec["run_seconds"]
    seeds = [int(s) for s in args.seeds.split(",")]
    runs = {}
    for wl in args.workload:
        pairs = []
        for i in range(args.pairs):
            seed = seeds[i % len(seeds)]
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            got = {}
            for side in order:
                got[side] = run_one(getattr(args, side), wl, seed, seconds)
                got[side]["seed"] = seed
            pairs.append((got["parent"], got["change"]))
            print(f"{wl} pair {i} seed {seed} done", file=sys.stderr, flush=True)
        runs[wl] = pairs
        report(wl, pairs, spec)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(runs, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
