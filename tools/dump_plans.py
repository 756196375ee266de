#!/usr/bin/env python
"""Dump .explain("formatted") for benched queries to plans/<round>/.

Usage:
  python tools/dump_plans.py <tag> [name,name,...]

Writes plans/r12/<query>_<tag>.txt (SPARK_GRAFT_PLAN_ROUND picks the
round directory) for every benched query (relational bench=True set + LLM
set + fastpath twins) and every RehiveAPI point read in ``API_READS``, or
only the named ones (any declared or retired query may be named).  Environment contract matches bench.py
(SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS) so the captured plans are the
plans the bench times.  The API reads run on ``RehiveAPI.from_fixtures``
after one warm ``get_user`` (so the tables the API caches are
materialized); their files hold the EXECUTED plan (final AQE plan, after a
collect), where query files hold the plan before execution.

The files are the round-11 optimization evidence: the judge reads
<query>_before.txt / <query>_after.txt against OPTIMIZATION_r11.md's
plan-shape claims (Exchange counts, join strategies, PushedFilters).
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ROUND_DIR = os.path.join("plans", os.environ.get("SPARK_GRAFT_PLAN_ROUND", "r12"))

API_USER = "u0001"
# the frames the get_user / request_withdrawal endpoints run for their
# point read, before get_user pins its row on the driver
API_READS = {
    "api_get_user": lambda api, uid: api._with_package(api.users_current(uid)),
    "api_request_withdrawal": lambda api, uid: api.users_current(uid).select(
        "commission_balance"
    ),
}


def _explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _api_plans(spark, names):
    """(name, executed plan) of each named API point read."""
    if not names:
        return
    from r_e_hive__spark.api import RehiveAPI

    with RehiveAPI.from_fixtures(spark) as api:
        api.get_user(API_USER)  # the warm read
        for name in names:
            df = API_READS[name](api, API_USER)
            df.collect()  # explain now shows the final plan of this run
            yield name, _explain(df)


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    only = set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from r_e_hive__spark.queries import RETIRED, load_all
    from r_e_hive__spark.queries.fastpaths import FASTPATHS
    from r_e_hive__spark.session import get_spark

    merged = {**load_all(), **RETIRED}
    qset = {name: q.spark_fn for name, q in merged.items() if q.bench}
    from tools.bench_common import LLM_BENCH

    qset.update({name: merged[name].spark_fn for name in LLM_BENCH})
    qset.update(FASTPATHS)
    api_reads = sorted(API_READS)
    if only is not None:
        # a named query need not be benched: any declared or retired query
        # (e.g. x4_lsh_neighbor_pairs) or fast-path twin can be dumped
        named = {name: q.spark_fn for name, q in merged.items()}
        named.update(FASTPATHS)
        unknown = only - set(named) - set(API_READS)
        if unknown:
            raise SystemExit(f"unknown query names: {sorted(unknown)}")
        qset = {n: f for n, f in named.items() if n in only}
        api_reads = [n for n in api_reads if n in only]

    spark = get_spark(app_name="rehive-dump-plans", master=f"local[{cpus}]")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ROUND_DIR)
    os.makedirs(out_dir, exist_ok=True)

    def write(name: str, source: str, text: str) -> None:
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(f"# {name} @ {source} ({tag})\n\n{text}")
        print(f"wrote {path} ({len(text)} chars)")

    for name, fn in sorted(qset.items()):
        try:
            text = _explain(fn(spark, sf_dir))
        except Exception as exc:  # capture the failure instead of aborting the dump
            text = f"ERROR building {name}: {exc!r}\n"
        write(name, sf_dir, text)
    for name, text in _api_plans(spark, api_reads):
        write(name, f"RehiveAPI.from_fixtures, user {API_USER}", text)


if __name__ == "__main__":
    main()
