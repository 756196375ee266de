"""Operator library — reusable DataFrame-level operators.

One module per SURVEY.md §2 operator family.  Everything here is a plain
function ``DataFrame -> DataFrame`` (or a small builder class), declarative
where possible so Catalyst keeps optimizing through it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from r_e_hive__spark.catalog import session_memo


def ensure_parallelism(df: DataFrame, target: int | None = None) -> DataFrame:
    """Spread a narrow input across the cluster before CPU-heavy work.

    Small single-row-group parquet files arrive as ONE partition, which would
    serialize shingling/hashing/vector math onto one core no matter how many
    executors exist.  Repartition only when the input has fewer partitions
    than the default parallelism — a well-partitioned 100 TB input passes
    through untouched (no extra shuffle), while a 1-partition input costs one
    tiny row-shuffle and unlocks full fan-out for everything downstream.
    """
    sc = df.sparkSession.sparkContext
    target = target or sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


# Measured strategy crossovers (BASELINE.md round-5 A/Bs).  The Arrow/
# numpy strategies pay a fixed ~0.5 s Python-worker-startup + transfer tax
# that only amortizes past tens of thousands of rows; below it the pure-JVM
# expression path wins.  Calibration anchors (Catalyst sizeInBytes == parquet
# file size for scans): documents sf0.1 = 5 k docs ≈ 0.6 MB (expr wins the
# shingler A/B), sf1 = 50 k docs ≈ 6 MB (pandas wins); embeddings sf0.1 =
# 2 k × 64-dim ≈ 0.8 MB (BLAS top-k already ~11× there).  Module-level so
# tests can monkeypatch the gate both ways.
SHINGLE_PANDAS_MIN_BYTES = 4 << 20  # ~30-40 k docs at fixture density
BLAS_MIN_BYTES = 256 << 10  # ~600 × 64-dim vectors

# Round-12 recalibration: the round-11/12 expr-path rewrites (SQL-parsed
# builds, micro-unit folds, one-quantize-per-row, single pair-dot
# evaluation) moved the BLAS crossover for the TOP-K SCAN shape — work
# ∝ candidates × queries × dim, LIGHT per candidate byte — far above the
# round-5 value.  Measured (brute_force_topk float, 4 queries, fenced
# best-of-3, exec-only): sf0.1 0.8 MB expr 0.29 vs numpy 0.50; sf1
# 5.2 MB expr 0.74 vs numpy 0.85; sf5 26 MB expr 1.03 vs numpy 0.62 —
# crossover between 5 and 26 MB of candidate bytes.  The PAIR-JOIN shape
# (semantic_dedup: work ∝ n²/k·dim, HEAVY per byte) keeps the original
# low gate — measured same session: sf0.1 numpy 1.16 vs expr 2.03, sf1
# numpy 3.4 vs expr 38.6.  One threshold cannot serve both shapes; the
# per-task Python/Arrow tax is architecture-level (it exists on any
# cluster), so both constants stay scale-expressed in candidate BYTES,
# not local core counts.
BLAS_MIN_BYTES_TOPK = 8 << 20  # ~16 k × 64-dim vectors


def plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's size estimate for ``df``'s optimized plan, or None when
    stats are unreadable — the zero-job input to every strategy="auto"
    gate (same machinery as plan_fits_broadcast)."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None


# Catalyst returns spark.sql.defaultSizeInBytes (Long.MaxValue by default)
# for plans it cannot estimate (LogicalRDD — every createDataFrame /
# RDD-backed frame).  That is a SENTINEL, not an estimate: treating it as
# real would route tiny in-memory frames to the Python/Arrow path, the
# exact case the crossover gates exist to avoid (round-6 code review).
# Real data is orders of magnitude below 2^60 (100 TB ≈ 2^47).
_STATS_UNKNOWN = 1 << 60


def resolve_strategy(df: DataFrame, small: str, large: str, min_bytes: int) -> str:
    """Pick a strategy by estimated input size: ``large`` (the Arrow/numpy
    fast path, whose fixed Python tax amortizes with volume) at or above
    ``min_bytes``, else ``small`` (the pure-JVM path).  Unreadable or
    sentinel stats → ``small``: deterministic, and guessing big would
    ship data to Python blindly."""
    size = plan_size_bytes(df)
    if size is None or size >= _STATS_UNKNOWN:
        return small
    return large if size >= min_bytes else small


# Density normalization for the TEXT gates (round 7, VERDICT r6 item 7).
# SHINGLE_PANDAS_MIN_BYTES was calibrated at the fixture's density
# (~300 chars/doc): at that density the byte threshold doubles as a
# "tens-of-thousands of docs" threshold, and the expr path's per-ROW
# overheads (split + array allocs + two HOF passes per doc) stay in
# proportion.  A corpus of the SAME total bytes made of 100× longer
# documents has 100× fewer rows — the Arrow pass's per-row serialization
# overhead shrinks to nothing while the interpreted per-TOKEN HOF cost is
# unchanged, so the Arrow side wins at a LOWER total size.  The gate
# therefore scales the threshold by (fixture density / measured density),
# never above the calibrated value and never below the fixed Python-tax
# floor.
FIXTURE_TEXT_CHARS = 300.0  # avg chars/doc of the calibration corpus
ARROW_TAX_FLOOR_BYTES = 256 << 10  # below this the ~0.5 s tax never pays


def _measured_text_density(df: DataFrame, text_col: str) -> float | None:
    """avg(length(text_col)) over the WHOLE frame — unbiased, unlike a
    LIMIT-n probe, which reads only the first file and misroutes any
    corpus whose files are length-clustered (round-7 code review).  Only
    ever called inside the ambiguous band, where the input is < min_bytes
    (≈4 MB) by construction, so the full one-column scan is a trivial
    job.  Remembered per (session, semantic plan, column), so repeated
    "auto" resolutions of the same input (every bench rep, every reuse of
    a loaded table) pay the job once per session."""
    try:
        memo = session_memo(df.sparkSession)
        key = ("density", df.semanticHash(), text_col)
    except Exception:
        memo = key = None
    if key is not None and key in memo:
        return memo[key]
    try:
        from pyspark.sql import functions as F

        row = df.agg(F.avg(F.length(F.col(text_col)))).first()
        bpr = float(row[0]) if row is not None and row[0] is not None else None
        measured = True  # the job ran; a NULL avg is a DETERMINISTIC
        # answer (all-NULL/empty text) and caches like any other — only
        # a job FAILURE must stay uncached so a transient error doesn't
        # pin the fallback strategy for the session (round-7 reviews:
        # first pass caught the pinning, second pass the re-run-per-call
        # regression for deterministic-None frames)
    except Exception:
        bpr, measured = None, False
    if key is not None and measured:
        memo[key] = bpr
    return bpr


def resolve_text_strategy(
    df: DataFrame, text_col: str, small: str, large: str, min_bytes: int
) -> str:
    """:func:`resolve_strategy` for text operators, with the crossover
    density-normalized by the measured avg ``text_col`` length.

    Zero-job on the common fast paths (size ≥ min_bytes → large;
    size < the Arrow-tax floor, or unreadable stats → small).  Only in
    the ambiguous band does it run ONE tiny one-column aggregation
    (session-cached) to measure density — callers composing gates into
    plans that must stay lazy should pass an explicit strategy instead
    of "auto" (the percentile_gate laziness discipline)."""
    size = plan_size_bytes(df)
    if size is None or size >= _STATS_UNKNOWN:
        return small
    if size >= min_bytes:
        return large
    if size < ARROW_TAX_FLOOR_BYTES:
        return small
    bpr = _measured_text_density(df, text_col)
    if not bpr or bpr <= FIXTURE_TEXT_CHARS:
        return small  # fixture-or-denser corpus: the calibrated gate holds
    eff = max(ARROW_TAX_FLOOR_BYTES, min_bytes * FIXTURE_TEXT_CHARS / bpr)
    return large if size >= eff else small


def plan_fits_broadcast(df: DataFrame) -> bool:
    """True iff Catalyst's size estimate for ``df``'s optimized plan is
    within the session's ``autoBroadcastJoinThreshold`` — the same gate
    Spark's planner applies to pick a broadcast join, reused one level up
    by every operator that chooses a gather-vs-distributed strategy
    (dedup verify joins, the graph closure, sequence ids, the packing
    prefix-sum).  ``max(thresh, 0)`` maps threshold=-1 (broadcast
    disabled) to "nothing fits"; unreadable stats/conf → False, the
    conservative (distributed) answer.  One implementation so a fix lands
    everywhere (round-4 code review)."""
    return size_fits_broadcast(df, plan_size_bytes(df))


def size_fits_broadcast(df: DataFrame, size: int | None) -> bool:
    """:func:`plan_fits_broadcast` for a size already read from ``df``."""
    if size is None:
        return False
    try:
        thresh = int(df.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    except Exception:
        return False
    return 0 <= size <= max(thresh, 0)
