"""Physical-plan assertions: the scale discipline, enforced by tests.

Correctness tests prove the engine computes the right answer at sf0.01;
these prove the *plans* are the ones that survive a 100× scale-up
(SURVEY.md §4.2): filters reach the parquet scan, small dimensions
broadcast, top-k never full-sorts, aggregation is partial+final, and no
declared query smuggles a row-at-a-time Python UDF into the hot path.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE, count_jobs


def plan(df, mode: str = "formatted") -> str:
    """Capture the physical plan string (same JVM hook df.explain uses)."""
    return df.sparkSession._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


# ---------------------------------------------------------------------------
# Predicate pushdown + column pruning reach the parquet scan
# ---------------------------------------------------------------------------


def test_filter_pushdown_to_parquet(spark):
    # raw scan (no table cache in the way): the shipdate filter must appear
    # in PushedFilters and the ReadSchema must be pruned to the 2 used cols
    df = (
        spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
        .where(F.col("l_quantity") > 45.0)
        .select("l_orderkey", "l_quantity")
    )
    p = plan(df)
    assert "PushedFilters: [" in p and "GreaterThan(l_quantity,45.0)" in p, p
    read_schema = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert read_schema and "l_extendedprice" not in read_schema[0], read_schema
    assert "l_orderkey" in read_schema[0] and "l_quantity" in read_schema[0]


def test_partition_count_follows_input(spark):
    # a raw parquet scan splits by maxPartitionBytes — never 1 giant task
    # for a big file, never thousands for a tiny one
    df = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    n = df.rdd.getNumPartitions()
    assert 1 <= n <= 64, n


# ---------------------------------------------------------------------------
# Join strategy: small dims broadcast, never shuffle the fact side for them
# ---------------------------------------------------------------------------


def test_dim_joins_broadcast(spark):
    # q5 retired from the driver surface in round 8 second wave (ledger in
    # queries/__init__.py) — its broadcast-gate plan pin keeps running here
    # via the RETIRED registry (load_all() first: it populates RETIRED)
    from r_e_hive__spark.queries import RETIRED, load_all

    qs = {**load_all(), **RETIRED}
    for name in ("j1_relation_load", "q3_shipping_priority", "q5_local_supplier"):
        p = plan(qs[name].spark_fn(spark, SF_SMOKE), "simple")
        assert "BroadcastHashJoin" in p, f"{name}: no broadcast join\n{p}"


def test_semi_anti_joins_stay_joins(spark):
    from r_e_hive__spark.queries import load_all

    qs = load_all()
    p = plan(qs["j56_semi_anti_join"].spark_fn(spark, SF_SMOKE), "simple")
    assert "LeftSemi" in p, p
    assert "LeftAnti" in p, p


# ---------------------------------------------------------------------------
# Top-k compiles to TakeOrderedAndProject (no full sort of the fact table)
# ---------------------------------------------------------------------------


def test_topk_avoids_full_sort(spark):
    # o3_topk_orders retired from the driver surface in round 7 (ledger in
    # queries/__init__.py) — the plan pin stays, reading the merged registry
    from r_e_hive__spark.queries import RETIRED, load_all

    # load_all() FIRST: dict displays evaluate left-to-right, and RETIRED
    # is only populated by the module imports load_all() triggers — the
    # reversed order reads an empty RETIRED in a fresh process (round-7
    # code review, reproduced)
    merged = {**load_all(), **RETIRED}
    p = plan(merged["o3_topk_orders"].spark_fn(spark, SF_SMOKE), "simple")
    assert "TakeOrderedAndProject" in p, p


# ---------------------------------------------------------------------------
# Aggregation is partial (map-side combine) + final
# ---------------------------------------------------------------------------


def test_aggregation_is_partial_plus_final(spark):
    from r_e_hive__spark.queries import load_all

    p = plan(load_all()["q1_pricing_summary"].spark_fn(spark, SF_SMOKE), "formatted")
    assert p.count("HashAggregate") >= 2, p
    assert "partial_" in p, p  # map-side partial aggregate functions


def test_whole_stage_codegen_covers_agg(spark):
    from r_e_hive__spark.queries import load_all

    df = load_all()["q1_pricing_summary"].spark_fn(spark, SF_SMOKE)
    df.collect()  # AQE only stamps codegen spans on the final executed plan
    p = plan(df, "simple")
    assert "isFinalPlan=true" in p, p
    assert "*(" in p, p  # WholeStageCodegen spans marked with *


# ---------------------------------------------------------------------------
# No row-at-a-time Python UDF in ANY declared query (Arrow-vectorized
# exchanges — ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas — are the
# only sanctioned Python crossings; SURVEY.md §2.10)
# ---------------------------------------------------------------------------


@pytest.mark.slow
def test_no_row_at_a_time_python_udf_anywhere(spark):
    from r_e_hive__spark.queries import load_all

    offenders = {}
    for name, q in load_all().items():
        p = plan(q.spark_fn(spark, SF_SMOKE), "simple")
        if "BatchEvalPython" in p:
            offenders[name] = p
    assert not offenders, f"row-at-a-time Python UDFs in: {sorted(offenders)}"


# ---------------------------------------------------------------------------
# Fixed-point money path: the hot aggregation/window accumulators must be
# plain BIGINTs (whole-stage codegen), never BigDecimal — the decimal form
# is only ever reconstructed per GROUP (a handful of rows) in the final
# projection.  Guards VERDICT r3 item 2: "no BigDecimal above precision 18
# in the accumulators".
# ---------------------------------------------------------------------------


def test_money_aggregates_accumulate_in_long(spark):
    from r_e_hive__spark.queries import RETIRED, load_all

    # a1_user_balance retired from the declared surface in round 6 — its
    # fixed-point plan shape stays guarded here via the RETIRED registry
    # (load_all() first: it populates RETIRED — round-7 code review)
    qs = {**load_all(), **RETIRED}
    for name in ("q1_pricing_summary", "st2_windows", "a1_user_balance"):
        p = plan(qs[name].spark_fn(spark, SF_SMOKE), "formatted")
        agg_fn_lines = [
            ln for ln in p.splitlines() if "partial_sum" in ln or "Functions [" in ln
        ]
        assert agg_fn_lines, f"{name}: no aggregate functions found\n{p}"
        offenders = [ln for ln in agg_fn_lines if "decimal" in ln]
        assert not offenders, f"{name}: decimal accumulator in aggregate\n{offenders}"


def test_running_balance_window_accumulates_in_long(spark):
    from r_e_hive__spark.queries import load_all

    p = plan(load_all()["st6_running_state"].spark_fn(spark, SF_SMOKE), "simple")
    window_lines = [ln for ln in p.splitlines() if "Window [" in ln]
    assert window_lines, p
    offenders = [ln for ln in window_lines if "decimal" in ln]
    assert not offenders, f"decimal accumulator in window frame\n{offenders}"


# ---------------------------------------------------------------------------
# q5 cardinality gate: broadcast-sized build => lineitem is never shuffled;
# oversized build => selective-first shuffle plan
# ---------------------------------------------------------------------------


def test_q3_gate_picks_broadcast_then_shuffle(spark):
    from r_e_hive__spark.catalog import session_memo
    from r_e_hive__spark.queries import load_all

    q3 = load_all()["q3_shipping_priority"]
    key = ("broadcast_gate", "q3", SF_SMOKE)

    session_memo(spark).pop(key, None)
    # the cold build runs the probe job; the memoized decision spares the
    # warm build every job
    assert count_jobs(spark, lambda: q3.spark_fn(spark, SF_SMOKE)) > 0
    assert session_memo(spark)[key][0] is True
    assert count_jobs(spark, lambda: q3.spark_fn(spark, SF_SMOKE)) == 0
    p = plan(q3.spark_fn(spark, SF_SMOKE), "simple")
    assert "BroadcastHashJoin [l_orderkey" in p, p

    session_memo(spark)[key] = (False, "probe")
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        p_big = plan(q3.spark_fn(spark, SF_SMOKE), "simple")
        assert "SortMergeJoin" in p_big or "ShuffledHashJoin" in p_big, p_big
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
        session_memo(spark).pop(key, None)


def test_q5_gate_picks_broadcast_then_shuffle(spark):
    from r_e_hive__spark.catalog import session_memo
    from r_e_hive__spark.queries import RETIRED, load_all

    q5 = {**load_all(), **RETIRED}["q5_local_supplier"]
    key = ("broadcast_gate", "q5", SF_SMOKE)

    session_memo(spark).pop(key, None)
    p = plan(q5.spark_fn(spark, SF_SMOKE), "simple")
    assert session_memo(spark)[key][0] is True
    # build side broadcast: the lineitem probe feeds a BroadcastHashJoin and
    # no exchange hashes on the lineitem join key
    assert "BroadcastHashJoin [l_orderkey" in p, p

    # force the at-scale decision and assert the shuffle plan comes back.
    # At smoke scale every table is under the auto-broadcast threshold, so
    # disable it for the check — at real scale the fact side exceeds it.
    session_memo(spark)[key] = (False, "probe")
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        p_big = plan(q5.spark_fn(spark, SF_SMOKE), "simple")
        assert "SortMergeJoin" in p_big or "ShuffledHashJoin" in p_big, p_big
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
        session_memo(spark).pop(key, None)


# ---------------------------------------------------------------------------
# Round-6 declared temporal family: the DRIVER-FACING query paths compile
# to the scale shapes the operators promise (operator-level pins live in
# tests/test_temporal.py; these pin the exact declared compositions).
# ---------------------------------------------------------------------------


def test_declared_asof_plan_no_join(spark):
    from r_e_hive__spark.queries import load_all

    p = plan(load_all()["x10_asof_join"].spark_fn(spark, SF_SMOKE), "simple")
    # union-tag + window: the as-of itself contributes NO join operator
    assert "Join" not in p, p
    assert "Window" in p


def test_declared_range_join_plan_equi_not_bnlj(spark):
    from r_e_hive__spark.queries import load_all

    p = plan(load_all()["x11_range_join"].spark_fn(spark, SF_SMOKE), "simple")
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "CartesianProduct" not in p, p
    assert ("SortMergeJoin" in p) or ("HashJoin" in p), p


def test_declared_rollup_merge_partial_aggregation(spark):
    from r_e_hive__spark.queries import load_all

    p = plan(load_all()["x12_rollup_merge"].spark_fn(spark, SF_SMOKE))
    # decomposable monoid: every aggregation level has a map-side partial
    # stage (sums are exact decimal BY DESIGN here — money semantics —
    # unlike the fixed-point queries guarded above)
    assert "partial" in p.lower(), p


def test_lsh_pairs_no_pair_level_exchange(spark):
    """VERDICT r8 item 1 (scale-shape pin): lsh_neighbor_pairs must not
    shuffle candidate pairs — the legacy dropDuplicates exchange hash-
    partitioned on (id_a, id_b) with BOTH dim-64 vectors per row (18-33 GB
    of /tmp at sf1).  The first-matching-band emission needs no pair-level
    exchange at all; the only exchanges allowed are on the pre-join chunk
    keys or broadcast."""
    from r_e_hive__spark.catalog import load_table
    from r_e_hive__spark.operators import similarity as S
    from r_e_hive__spark.queries._lsh_planes import _LSH_PLANES

    emb = load_table(spark, SF_SMOKE, "embeddings")
    df = S.lsh_neighbor_pairs(
        emb, "vec_id", "embedding", dim=64, n_planes=16, bands=4,
        cosine_threshold=0.30, exact_decimal=True, planes=_LSH_PLANES,
    )
    p = plan(df, "simple")
    assert "hashpartitioning(id_a" not in p, p
    assert "hashpartitioning(id_b" not in p, p


def test_minhash_simhash_pairs_no_pair_level_exchange(spark):
    """Round-9 follow-through of the x4 shuffle fix: the MinHash and
    SimHash pair generators use the same first-matching-band emission, so
    no plan may hash-partition on (id_a, id_b) — the legacy dropDuplicates
    exchange carried both signature arrays per candidate row."""
    from r_e_hive__spark.catalog import load_table
    from r_e_hive__spark.operators import dedup as D

    docs = load_table(spark, SF_SMOKE, "documents").limit(300)
    for df in (
        D.minhash_lsh_pairs(docs, "text", "doc_id", jaccard_threshold=None),
        D.simhash_neardup_pairs(docs, "text", "doc_id"),
    ):
        p = plan(df, "simple")
        assert "hashpartitioning(id_a" not in p, p
        assert "hashpartitioning(id_b" not in p, p


def test_minhash_first_band_filter_hash_free(spark):
    """Round-11 (VERDICT r10 item 3): band_signatures precomputes each
    row's EARLIER band hashes (the x4 carry-the-bucket-word discipline),
    so the first-matching-band predicate is pure array indexing — the
    legacy shape recomputed up to bands-1 xxhash64-over-concat hashes per
    CANDIDATE (measured ~15% of the sf1 x22 probe).  Pin it at both
    levels: the predicate tree hashes nothing when the arrays are
    supplied, and the pair plan builds each side's bands exactly once
    (2*bands hash sites total — a third site would mean CollapseProject
    re-inlined the band array into a second consumer, the double-build
    this test's bind_once construction prevents)."""
    from pyspark.sql import functions as F

    from r_e_hive__spark.catalog import load_table
    from r_e_hive__spark.operators import dedup as D

    pred = D._first_matching_band(
        F.col("sig_a"), F.col("sig_b"), 8, 4,
        bh_a=F.col("bh_a"), bh_b=F.col("bh_b"),
    )
    assert "xxhash64" not in repr(pred)
    # legacy fallback (an index persisted without the column) still hashes
    legacy = D._first_matching_band(F.col("sig_a"), F.col("sig_b"), 8, 4)
    assert "xxhash64" in repr(legacy)

    docs = load_table(spark, SF_SMOKE, "documents").limit(300)
    df = D.minhash_lsh_pairs(docs, "text", "doc_id", jaccard_threshold=None)
    p = df._jdf.queryExecution().optimizedPlan().toString()
    bands = 8  # minhash_lsh_pairs default
    assert p.count("xxhash64(concat_ws") == 2 * bands, p


def test_hot_array_lambdas_tokenize_once(spark):
    """Round-10 bind_once pin: Spark's higher-order array functions are
    interpreted and re-eval any captured expression subtree once per
    lambda invocation, so a tokenizer captured inside a transform/filter
    lambda re-splits the document per array element (the x16 sf5 wedge:
    449 s -> 3.4 s at sf0.1 after let-binding).  Guard the fix
    structurally: each hot construct's expression tree must contain its
    expensive leaf (regexp split / url parse) exactly once."""
    from pyspark.sql import functions as F

    from r_e_hive__spark.functions import text as TX
    from r_e_hive__spark.operators.lm import _bigram_pairs
    from tests.test_hof_lint import leaf_counts

    def n_splits(col):
        # boundary-anchored count over the public repr, not ._jc (r10
        # ADVICE); the surface-wide gate lives in tests/test_hof_lint.py —
        # this keeps the original four-construct historical pin.
        return leaf_counts(col)["split"]

    assert n_splits(F.expr(TX.shingles_sql("`t`", 3))) == 1
    assert n_splits(TX.word_ngrams(F.col("t"), 2)) == 1
    assert n_splits(_bigram_pairs(F.col("t"))) == 1
    # top_ngram_fraction binds its gram argument: the grams tree (here a
    # full word_ngrams build, 1 split) must appear ONCE, not once per
    # reference inside the mode-count lambda
    assert n_splits(TX.top_ngram_fraction(TX.word_ngrams(F.col("t"), 2))) == 1


# ---------------------------------------------------------------------------
# Round-12 structural pins: shared expensive intermediates are materialized
# ONCE (lazy localCheckpoint), not re-derived per consumer.  Exchange reuse
# never fires over an InMemoryRelation source (measured in round 12), so
# without the checkpoint each consumer of these frames re-executed the
# upstream scan + compute; the pin is that the operator's plan reads the
# source through Scan ExistingRDD leaves only — zero parquet/in-memory
# scans of the input remain in the consuming plan.
# ---------------------------------------------------------------------------


def _source_scan_count(p: str) -> int:
    return p.count("Scan parquet") + p.count("InMemoryTableScan")


def test_semantic_dedup_expr_reads_checkpointed_base_once(spark):
    from r_e_hive__spark.catalog import load_table
    from r_e_hive__spark.operators import similarity as S

    emb = load_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", "embedding"
    )
    cents = S.kmeans_centroids(emb, n_clusters=4, sample_limit=128)
    out = S.semantic_dedup(
        emb, "vec_id", "embedding", cents, 0.2, strategy="expr"
    )
    p = plan(out)
    assert _source_scan_count(p) == 0, p[:2000]
    assert "ExistingRDD" in p or "LogicalRDD" in p, p[:2000]


def test_minhash_and_simhash_pairs_read_fingerprints_once(spark):
    from r_e_hive__spark.catalog import load_table
    from r_e_hive__spark.operators import dedup as D

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    # minhash: the est-only path reads the checkpointed signature frame on
    # both join sides; the verify path additionally reads the pruned,
    # checkpointed candidate shingle sets (the corpus itself never scans)
    p_est = plan(
        D.minhash_lsh_pairs(docs, "text", "doc_id", jaccard_threshold=None)
    )
    assert _source_scan_count(p_est) == 0, p_est[:2000]
    p_sim = plan(D.simhash_neardup_pairs(docs, "text", "doc_id"))
    assert _source_scan_count(p_sim) == 0, p_sim[:2000]


def test_duplicate_spans_reads_hash_stream_once(spark):
    from r_e_hive__spark.catalog import load_table
    from r_e_hive__spark.operators import dedup as D

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    p = plan(D.duplicate_spans(docs, "text", "doc_id", strategy="expr"))
    assert _source_scan_count(p) == 0, p[:2000]
