"""One run of one benchmark workload; the last stdout line is its JSON result.

    python3 perfbench/run.py --workload llm_operators --seed 1 --seconds 10 --trace 0

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json, ``--trace 1``
its per-layer metrics (and writes the run's spans under
``.bench_build/perfbench/spans/``).  Metric names and units come from
BENCHMARK.json; a per-layer metric of a layer the workload does not call
reads 0.  The run exits 1 when an output check fails, 2 when the engine
cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

WORKLOADS = ("llm_operators", "api_session")


def _run(args, tracer) -> dict:
    if args.workload == "api_session":
        import api_workload

        return api_workload.run(args.seed, tracer)
    import llm_workload

    return llm_workload.run(args.seed, args.seconds, tracer, args.smoke)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="sf0.001 data (self-test)")
    args = p.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    try:
        import duckdb  # noqa: F401
        import pyspark  # noqa: F401

        import r_e_hive__spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine or its tools: {e}", file=sys.stderr)
        return 2

    from harness import WORK, Tracer

    tracer = Tracer(args.trace == 1)
    res = _run(args, tracer)

    if args.trace:
        declared = spec["per_layer"]
        res["layer"]["trace.untracked_s"] = sum(
            tracer.untracked_s(s["id"])
            for s in tracer.spans
            if any(k["parent"] == s["id"] for k in tracer.spans)
        )
        tracer.write(os.path.join(WORK, "spans", f"{args.workload}-seed{args.seed}.json"))
        values = res["layer"]
    else:
        declared = spec["end_to_end"]
        values = res["e2e"]
    print(f"workload {args.workload}")
    metrics = {}
    for m in declared:
        v = values.get(m["name"], 0.0 if args.trace else None)
        if v is None:
            raise RuntimeError(f"workload produced no {m['name']}")
        metrics[m["name"]] = {"value": float(v), "unit": m["unit"]}
        print(f"{m['name']:<48} {float(v):16.6f} {m['unit']:<6} {m['better']}")
    for kind, (med, n) in sorted(res["kinds"].items()):
        print(f"  {kind:<46} {med:16.6f} s      median of {n}")
    for problem in res["problems"]:
        print(f"CHECK FAILED {problem}", file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": res["correct"],
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
