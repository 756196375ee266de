"""The ``llm_operators`` workload: the LLM-pipeline operators' production paths.

A closed loop with one client over fixed data (``datagen`` at sf0.01).
One pass runs every query of ``LLM`` once, in an order drawn from the
seed; an operation is one query: the Python call that builds its
DataFrame, then a noop-sink write that materialises every output column.
A first, untimed pass collects every result and checks it against the
registry's oracle SQL on DuckDB (it also warms the JVM, the Python
workers and the BM25 index); timed passes follow until ``--seconds``
have elapsed, at least ``MIN_PASSES`` of them.
"""

from __future__ import annotations

import random
import time

import datagen
import oracle
from harness import WORK, Ops, Session, Tracer, median

from r_e_hive__spark.oracle.diff import duckdb_connection

LLM = (
    "x23_bm25_topk_fast",
    "x17_semdedup_fast",
    "x25_quantized_topk_fast",
    "x9_chunk_documents",
    "x2_ngram_jaccard_topk",
    "x2_minhash_lsh_neardup",
    "x3_cosine_topk",
    "x4_lsh_neighbor_pairs",
    "x20_duplicate_spans",
    "x32_fuzzy_join",
)
# fast twin -> (exact twin whose oracle it answers, float tolerance: the
# twin rounds its scores to 6 dp where the exact twin keeps decimals)
FAST_TWINS = {
    "x23_bm25_topk_fast": ("x23_bm25_topk", 1e-9),
    "x17_semdedup_fast": ("x17_semdedup", 1e-9),
    "x25_quantized_topk_fast": ("x25_quantized_topk", 1.5e-6),
}

SF, SMOKE_SF = 0.01, 0.001
TABLES = ("documents", "embeddings", "part")
MIN_PASSES = 1
SETUP_REPEATS = 3


def _registry() -> tuple[dict, dict]:
    """(name -> query function, name -> oracle SQL) over declared, retired
    and fast-path queries."""
    from r_e_hive__spark.queries import RETIRED, load_all
    from r_e_hive__spark.queries.fastpaths import FASTPATHS

    reg = {name: q.spark_fn for name, q in {**load_all(), **RETIRED}.items()}
    reg.update(FASTPATHS)
    oracles = {name: q.oracle for name, q in {**load_all(), **RETIRED}.items()}
    return reg, oracles


def run(seed: int, seconds: float, tracer: Tracer, smoke: bool) -> dict:
    data_dir = datagen.ensure_data(f"{WORK}/data", SMOKE_SF if smoke else SF)
    rng = random.Random(seed)
    ops = Ops()
    layer: dict[str, float] = {}

    sess = Session(tracer)
    try:
        spark = sess.spark
        layer["session.start_s"] = sess.start_s
        from r_e_hive__spark.catalog import clear_table_cache, register_testdata

        warm = []
        # the JVM starts once; traced runs repeat the warm-up, warm
        for i in range(SETUP_REPEATS if tracer.enabled else 1):
            if i:
                clear_table_cache()
            with tracer.span("catalog.warm"):
                t0 = time.perf_counter()
                for df in register_testdata(spark, data_dir, TABLES).values():
                    df.count()
                warm.append(time.perf_counter() - t0)
        # the first warm-up is the cold one a session pays (first
        # registration, Python workers, codegen); the repeats are warm
        setup_s = sess.start_s + warm[0]
        if tracer.enabled:
            layer["catalog.warm_s"] = median(warm[1:])
        base_mb = sess.storage_mb()
        layer["catalog.cached_mb"] = base_mb
        reg, oracles = _registry()

        # untimed pass: every result against its independent answer
        mismatches = []
        con = duckdb_connection(data_dir)
        for name in rng.sample(LLM, len(LLM)):
            ops.attempted += 1
            try:
                with tracer.span(f"check.{name}"):
                    got = reg[name](spark, data_dir).toPandas()
            except Exception as e:  # a failing query is counted, not fatal
                ops.failed += 1
                mismatches.append(f"{name}: {type(e).__name__}: {e}")
                continue
            exact, rel = FAST_TWINS.get(name, (name, None))
            with tracer.span(f"oracle.{name}"):
                want = con.execute(oracles[exact]).fetchdf()
            diff = oracle.check(name, got, want, rel)
            if diff:
                mismatches.append(f"{name}: {diff}")
        con.close()

        pinned: list[float] = []
        t_loop = time.perf_counter()
        passes = 0
        while passes < MIN_PASSES or time.perf_counter() - t_loop < seconds:
            for name in rng.sample(LLM, len(LLM)):
                sess.fence()
                ops.attempted += 1
                try:
                    _timed_query(reg[name], name, spark, data_dir, ops, tracer)
                except Exception as e:
                    ops.failed += 1
                    mismatches.append(f"{name}: {type(e).__name__}: {e}")
                    continue
                if tracer.enabled:
                    pinned.append(sess.storage_mb() - base_mb)
            passes += 1

        if tracer.enabled:
            layer["operators.pinned_mb"] = max(pinned) if pinned else 0.0
            with tracer.span("calibration.range_sum"):
                layer["calibration.range_sum_s"] = sess.range_sum_s()
        peak = sess.peak_rss_mb()
    finally:
        sess.close()

    e2e = {"setup_s": setup_s, **ops.end_to_end(), "peak_rss_mb": peak}
    if tracer.enabled:
        for name in ops.lat:
            layer[f"queries.{name}.build_s"] = median(ops.build[name])
            layer[f"queries.{name}.exec_s"] = median(ops.exec[name])
            layer[f"queries.{name}.p50_s"] = median(ops.lat[name])
            layer[f"queries.{name}.jobs"] = median(ops.jobs[name])
            layer[f"queries.{name}.build_jobs"] = median(ops.build_jobs[name])
    return {
        "correct": not mismatches,
        "problems": mismatches,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "e2e": e2e,
        "layer": layer,
        "kinds": {k: (median(v), len(v)) for k, v in ops.lat.items()},
    }


def _timed_query(fn, name, spark, data_dir, ops: Ops, tracer: Tracer) -> None:
    with tracer.span(f"queries.{name}", kind=name) as op:
        with tracer.span("build") as b:
            t0 = time.perf_counter()
            df = fn(spark, data_dir)
            t1 = time.perf_counter()
        with tracer.span("exec"):
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
    ops.add(name, t1 - t0, t2 - t1)
    if op is not None:
        ops.add_jobs(name, tracer.jobs(op["id"]), tracer.jobs(b["id"]))
