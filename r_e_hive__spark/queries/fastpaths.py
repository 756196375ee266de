"""Bench-only fast-path twins of declared queries (round 7).

The declared x17/x25 queries deliberately force the ``expr`` strategy
with exact decimal arithmetic so their DuckDB oracles can replay them
value-for-value — that is the CORRECTNESS configuration, not the one a
pipeline user runs.  The production path is ``strategy="auto"`` (BLAS /
Arrow at scale, float64 with 6-dp rounding), whose equality to the expr
path is pinned by tests/test_auto_strategy.py.  These twins exist so the
LLM bench set tracks the FAST path too: a regression in the blocked
matmul or the Arrow batching moves a recorded number instead of hiding
behind the exact-decimal instrument row.

NOT registered as declared queries (no independent oracle — the task is
identical to the exact twin, so tools/baseline_duckdb.py pairs each fast
twin with its exact twin's oracle via bench_common.LLM_FAST).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from r_e_hive__spark.operators import similarity as S
from r_e_hive__spark.queries._util import T


def x17_semdedup_fast(spark, sf_dir):
    """x17_semdedup on the production path: strategy='auto' (BLAS per
    cluster at scale), float64 cosines rounded 6 dp."""
    from r_e_hive__spark.queries._ivf_centroids import _IVF_CENTROIDS
    from r_e_hive__spark.queries.similarity import _SEMDEDUP_TAU

    (embeddings,) = T(spark, sf_dir, "embeddings")
    return (
        S.semantic_dedup(
            embeddings.select("vec_id", "embedding"),
            "vec_id",
            "embedding",
            centroids=_IVF_CENTROIDS,
            cosine_threshold=_SEMDEDUP_TAU,
        )
        .select("vec_id", F.col("_sd_cluster").alias("cluster"))
        .orderBy("vec_id")
    )


def x25_quantized_topk_fast(spark, sf_dir):
    """x25_quantized_topk on the production path: strategy='auto'
    (vectorized integer shortlist + float re-rank at scale)."""
    (embeddings,) = T(spark, sf_dir, "embeddings")
    queries_df = embeddings.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return S.quantized_topk(
        queries_df,
        embeddings,
        "query_id",
        "vec_id",
        "embedding",
        k=10,
        shortlist_mult=4,
        rerank=True,
    )


def _bm25_disk_index(spark, sf_dir: str) -> str:
    """Build (once per session × sf_dir) the save_postings layout and
    return its path.  The production BM25 shape is index-once/search-many
    — the declared query rebuilds the inverted index per run (the
    oracle-replay configuration), which at search time is pure overhead.
    Round 8 (VERDICT r7 item 5): the index is a REAL
    term-bucket-partitioned parquet artifact (``save_postings``), not a
    session cache — searches partition-prune it, and the same directory
    would serve other sessions and engines.  The dir is deleted when this interpreter exits; dirs of other sessions
    are left on disk — they may belong to a LIVE concurrent process."""
    import hashlib
    import os
    import tempfile

    from r_e_hive__spark.catalog import remove_at_exit, session_memo
    from r_e_hive__spark.operators.ranking import save_postings

    memo = session_memo(spark)
    key = ("bm25_index", sf_dir)
    path = memo.get(key)
    if path is None:
        h = hashlib.md5(sf_dir.encode("utf-8")).hexdigest()[:10]
        path = os.path.join(
            tempfile.gettempdir(),
            f"rehive_bm25_idx_{spark.sparkContext.applicationId}_{h}",
        )
        (documents,) = T(spark, sf_dir, "documents")
        save_postings(
            documents.select("doc_id", "text"), "text", "doc_id", path
        )
        remove_at_exit(path)
        memo[key] = path
    return path


def x23_bm25_topk_fast(spark, sf_dir):
    """x23_bm25_topk on the production path: search against a PERSISTED
    term-bucket-partitioned postings index + build-time corpus stats — a
    search is a driver-computed md5 bucket list pushed as a
    PartitionFilter → pushed-down term filter → tiny df-count agg →
    per-doc sum → TakeOrderedAndProject, never an index rebuild."""
    from r_e_hive__spark.operators.ranking import load_pruned_postings, tokenize_py
    from r_e_hive__spark.queries.text import _BM25_QUERY, bm25_declared_topk

    path = _bm25_disk_index(spark, sf_dir)
    terms = sorted(set(tokenize_py(_BM25_QUERY)))
    # the routing/prune contract has ONE home (operators/ranking.py) —
    # shared with bm25_search_indexed so twin and library cannot desync
    pruned, stats = load_pruned_postings(spark, path, terms)
    (documents,) = T(spark, sf_dir, "documents")
    # the scoring tail is the declared query's own helper — the
    # determinism contract (rounding, tie-break, top-k) has ONE home
    return bm25_declared_topk(documents, postings=pruned, stats=stats)


FASTPATHS = {
    "x17_semdedup_fast": x17_semdedup_fast,
    "x25_quantized_topk_fast": x25_quantized_topk_fast,
    "x23_bm25_topk_fast": x23_bm25_topk_fast,
}


_SCALED_TARGET_CLUSTER = 256


def x17_semdedup_scaled(spark, sf_dir):
    """SemDeDup at the paper's k-scaling rule — k = N / target_cluster_size
    (target 256), the configuration whose in-cluster pair work stays ~linear
    in N (Σ m_c² ≈ N · target when clusters stay near target size), vs the
    declared instrument's FIXED 8 centroids whose pairing is quadratic in
    the corpus (round 9, VERDICT r8 item 4: sf≥5 LLM sweeps previously had
    to EXCLUDE semdedup; this row carries the at-scale signal).

    Spark-only bench row — no DuckDB pairing: the oracle replay is the k=8
    exact-decimal instrument (x17_semdedup); a thousand-centroid literal
    replay is not SQL-feasible, and bench.py excludes this row from the
    llm geomean (bench_common.LLM_SPARK_ONLY) so the cross-engine series
    stays comparable.  Centroids are strided seed vectors (every stride-th
    embedding by vec_id, unit-normalized — deterministic, parameter-sized
    collect); production passes train_kmeans output (amortized offline
    training), which does not change the dedup-STAGE cost shape this row
    measures."""
    import math

    from r_e_hive__spark.queries.similarity import _SEMDEDUP_TAU

    (embeddings,) = T(spark, sf_dir, "embeddings")
    emb = embeddings.select("vec_id", "embedding").where(
        F.col("embedding").isNotNull()
    )
    n = emb.count()
    k = max(8, n // _SCALED_TARGET_CLUSTER)
    stride = max(1, n // k)
    seeds = (
        emb.where(F.col("vec_id") % stride == 0)
        .orderBy("vec_id")
        .limit(k)
        .collect()
    )
    cents = []
    for r in seeds:
        v = [float(x) for x in r["embedding"]]
        nn = math.sqrt(sum(x * x for x in v)) or 1.0
        cents.append([x / nn for x in v])
    return (
        S.semantic_dedup(
            emb,
            "vec_id",
            "embedding",
            centroids=cents,
            cosine_threshold=_SEMDEDUP_TAU,
        )
        .select("vec_id", F.col("_sd_cluster").alias("cluster"))
        .orderBy("vec_id")
    )


FASTPATHS["x17_semdedup_scaled"] = x17_semdedup_scaled
