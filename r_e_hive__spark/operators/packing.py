"""Corpus packing operators: weighted prefix-sums and token-budget sharding.

The training-data pipeline counterpart of ``io.sequence_ids``: given a
per-document weight (token count), assign each document a running offset and
a shard id so that consecutive documents fill fixed token-budget shards —
the step that turns a curated corpus into the fixed-size training shards a
loader consumes.  The reference has no analog (it pages with LIMIT/OFFSET,
render-complete-deploy.js:512-516); this is declared LLM-pipeline surface
(SURVEY.md §2.11 X9).

Scale design
------------
Packing is a prefix-sum over a total order — the classic "looks inherently
sequential" operator.  Two strategies, auto-gated by Catalyst's size
estimate exactly like ``io.sequence_ids``:

- **small** (group fits one task): one window per partition group —
  ``SUM(w) OVER (PARTITION BY pcols ORDER BY ocols)``.  One shuffle.
- **large**: two-phase distributed prefix-sum.  ``repartitionByRange`` on
  (pcols, ocols) splits every group across many range partitions; a
  per-(range-partition, group) weight total (one tiny row each) is
  prefix-summed on the driver-sized offsets table and broadcast back; the
  within-partition window then runs with the range-partition id in its key,
  so no single task ever holds a whole group.  The result is identical to
  the single-window plan and independent of partition boundaries.

Weights must be non-negative integers (token counts); sums stay in int64
codegen (no decimal, no Python).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window


def _auto_distributed(df: DataFrame) -> bool:
    """True when Catalyst's size estimate exceeds the broadcast threshold
    (shared gate: operators.plan_fits_broadcast); the auto gate of this
    prefix-sum and of ``io.sequence_ids``.  NOTE the asymmetry with the
    other call sites: unreadable stats gate to the SMALL-window path here
    (False), preserving the original smoke-scale behavior."""
    from r_e_hive__spark import operators

    size = operators.plan_size_bytes(df)
    return size is not None and not operators.size_fits_broadcast(df, size)


def weighted_prefix_sum(
    df: DataFrame,
    weight_col: str,
    order_cols: Sequence[Column | str],
    partition_cols: Sequence[str] = (),
    out_col: str = "_cum",
    distributed: bool | None = None,
) -> DataFrame:
    """Running total of ``weight_col`` over ``order_cols`` within each
    ``partition_cols`` group (inclusive of the current row), as int64."""
    pcols = list(partition_cols)
    ocols = list(order_cols)
    if distributed is None:
        distributed = _auto_distributed(df)
    w = F.col(weight_col).cast("long")

    if not distributed:
        spec = (
            Window.partitionBy(*pcols).orderBy(*ocols)
            if pcols
            else Window.orderBy(*ocols)
        ).rowsBetween(Window.unboundedPreceding, 0)
        return df.withColumn(out_col, F.sum(w).over(spec))

    # Two subtrees consume the ranged batch and repartitionByRange's sampled
    # bounds are not guaranteed identical across re-executions — pin one
    # materialization (same trick as io.sequence_ids / operators/graph).
    ranged = (
        df.repartitionByRange(*pcols, *ocols)
        .sortWithinPartitions(*pcols, *ocols)
        .localCheckpoint(eager=True)
    )
    with_pid = ranged.withColumn("_pid", F.spark_partition_id())
    # one tiny row per (range partition, group): the cross-partition offsets
    w_off = Window.partitionBy(*pcols).orderBy("_pid") if pcols else Window.orderBy("_pid")
    offsets = (
        with_pid.groupBy("_pid", *pcols)
        .agg(F.sum(w).alias("_w"))
        .withColumn("_off", F.sum("_w").over(w_off) - F.col("_w"))
        .drop("_w")
    )
    # within-partition running total; _pid in the key bounds every task to
    # one range partition of one group
    w_local = Window.partitionBy("_pid", *pcols).orderBy(*ocols).rowsBetween(
        Window.unboundedPreceding, 0
    )
    # offsets is one row per (range partition, GROUP): tiny for the common
    # few-groups case, but a high-cardinality partition_cols (lang x domain
    # on a web corpus) makes it millions of rows — gate the broadcast hint
    # on the actual count instead of hinting unconditionally (round-4
    # review).  localCheckpoint (not persist) so the count does not
    # recompute the aggregation: checkpoint blocks are ContextCleaner-owned
    # and freed when the frame is garbage-collected, whereas df.persist()
    # registers a CacheManager entry that outlives the call and accumulates
    # across invocations in a long-lived session (round-4 ADVICE).  The
    # 4M-row cap is the same HashedRelation ceiling the q5 gate uses.
    offsets = offsets.localCheckpoint(eager=True)
    off_side = offsets if offsets.count() > 4_000_000 else F.broadcast(offsets)
    return (
        with_pid.join(off_side, ["_pid", *pcols])
        .withColumn(out_col, (F.col("_off") + F.sum(w).over(w_local)).cast("long"))
        .drop("_pid", "_off")
    )


def pack_shards(
    df: DataFrame,
    weight_col: str,
    order_cols: Sequence[Column | str],
    budget: int,
    partition_cols: Sequence[str] = (),
    shard_col: str = "shard_id",
    distributed: bool | None = None,
) -> DataFrame:
    """Assign consecutive documents (in ``order_cols`` order, per
    ``partition_cols`` group) to fixed token-budget shards.

    A document lands in the shard where it *starts*:
    ``shard_id = (running_total − weight) DIV budget``.  Shard boundaries
    therefore fall every ``budget`` tokens of the cumulative stream: a
    shard's documents all start inside one budget window, a single
    over-budget document spans windows without stalling the pipeline, and
    a shard can hold FEWER than ``budget`` tokens when an over-budget
    neighbor consumed most of its window (e.g. budget=10, weights
    [19, 2, 30] → shards 0, 1, 2 with shard 1 holding only the 2-token
    doc) — the guarantee is bounded per-shard START positions, not a
    per-shard token minimum.  Integer arithmetic end-to-end.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    cum = "_cum_w"
    out = weighted_prefix_sum(
        df,
        weight_col,
        order_cols,
        partition_cols=partition_cols,
        out_col=cum,
        distributed=distributed,
    )
    start = F.col(cum) - F.col(weight_col).cast("long")
    # start ≥ 0, so integer floor division = (start − start % budget) / budget,
    # all in int64 (the final `/` divides exact multiples; cast truncates the
    # ".0" — no float rounding can occur below 2^53 total tokens per group)
    shard = ((start - (start % F.lit(budget))) / F.lit(budget)).cast("long")
    return out.withColumn(shard_col, shard).drop(cum)


def chunk_documents(
    df: DataFrame,
    text_col: str,
    id_col: str,
    chunk_size: int,
    overlap: int = 0,
) -> DataFrame:
    """Split each document into fixed-size overlapping TOKEN windows — the
    context-window chunker every RAG index / pretraining sequence prep
    runs between curation (X1-X22) and packing (``pack_shards``).

    Output: one row per chunk — ``(id_col, chunk_id, chunk_start,
    n_chunk_tokens, chunk_text)`` where ``chunk_id`` is 0-based within the
    document, ``chunk_start`` is the token offset, and ``chunk_text`` is
    the space-rejoined token window.  Chunk starts advance by
    ``stride = chunk_size - overlap``; the tail chunk may be shorter than
    ``chunk_size`` but is emitted only if it extends PAST the previous
    chunk's coverage (``n_chunk_tokens > overlap``) — a tail fully
    contained in its predecessor adds no new tokens and would duplicate
    training data.  Every token of every document appears in ≥1 chunk;
    documents with no tokens (NULL/empty/whitespace text) emit nothing.

    Tokenization is the repo's cross-engine ASCII-whitespace class
    (operators/ranking.tokenize) — the DuckDB/Python differentials replay
    it exactly.  Rejoining with single spaces canonicalizes intra-doc
    whitespace, the standard chunker behavior.

    Scale: strictly MAP-ONLY — tokens array → ``sequence`` of starts →
    ``posexplode`` → ``slice``/``array_join``, all whole-stage-codegen
    expressions.  No shuffle at any scale; output rows ≈
    input tokens × (1 + overlap/stride) — the explode is bounded by the
    overlap ratio, not quadratic in anything.
    """
    if chunk_size <= 0:
        raise ValueError(f"chunk_size must be positive, got {chunk_size}")
    if not 0 <= overlap < chunk_size:
        raise ValueError(
            f"overlap must be in [0, chunk_size), got {overlap} for "
            f"chunk_size {chunk_size}"
        )
    from r_e_hive__spark.operators.ranking import tokenize

    stride = chunk_size - overlap
    toks = tokenize(F.col(text_col))
    n = F.size("_toks")
    starts = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(stride))
    return (
        df.select(F.col(id_col), toks.alias("_toks"))
        .where(F.size("_toks") > 0)
        .select(
            id_col,
            "_toks",
            F.posexplode(starts).alias("chunk_id", "chunk_start"),
        )
        .withColumn(
            "n_chunk_tokens",
            F.least(F.lit(chunk_size), F.size("_toks") - F.col("chunk_start")),
        )
        # drop a tail that adds no tokens beyond the previous chunk
        .where(
            (F.col("chunk_id") == 0) | (F.col("n_chunk_tokens") > F.lit(overlap))
        )
        .select(
            id_col,
            "chunk_id",
            "chunk_start",
            "n_chunk_tokens",
            F.array_join(
                F.slice(F.col("_toks"), F.col("chunk_start") + 1, F.lit(chunk_size)),
                " ",
            ).alias("chunk_text"),
        )
    )
