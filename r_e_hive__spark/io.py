"""Physical table I/O: the engine's sources and sinks (SURVEY.md §2.1).

The reference's write surface is Drizzle inserts/updates against Postgres
(S3 ``db.insert`` render-complete-deploy.js:218-224 et al., S4
insert-RETURNING :425-429, S5 update-in-place :226-230 et al.).  The engine
re-expresses it on immutable Parquet:

- ``append_facts`` — S3: append-only fact writes, optionally
  hive-partitioned (``lang=…/``, ``event_date=…/``) so downstream reads
  partition-prune (X6's partition-by-lang routing is this with
  ``partition_cols=('lang',)``).
- ``append_returning`` — S4: assigns contiguous ids past the current max
  via ``row_number()`` over a caller-declared deterministic order (never
  ``monotonically_increasing_id`` — nondeterministic across partitionings,
  SURVEY.md §1.3), appends, returns the generated rows.
- ``materialize_current_state`` — S5: compacts an event log into a
  latest-record-wins snapshot table — the refresh step for the views in
  pipelines/views.py.
- ``read_csv_table`` / ``read_json_table`` — explicit-schema ingest
  (schema system is *declared*, never inferred — SURVEY.md §1.3).

Scale notes: appends are one job with no shuffle (writer tasks follow input
partitioning); partitioned appends shuffle-free too but produce one file
per (task × partition-value) — repartition by the partition columns first
when the value cardinality is low to avoid small files.  Parquet has no
transactional MERGE here by design (SURVEY.md §2.1 S5): mutation is an
append of events + a deterministic snapshot job, all-or-nothing per output
directory.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from r_e_hive__spark.operators.relational import latest_record_wins


def append_facts(
    df: DataFrame, path: str, partition_cols: Sequence[str] = ()
) -> None:
    """S3: append rows to a Parquet fact table, optionally hive-partitioned.

    With ``partition_cols``, rows are first repartitioned BY those columns so
    each output partition directory is written by few tasks (bounded file
    count) instead of every task writing every value (tasks × values files).
    """
    w = df
    if partition_cols:
        w = df.repartition(*[F.col(c) for c in partition_cols])
    writer = w.write.mode("append").format("parquet")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.save(path)


def sequence_ids(
    rows: DataFrame,
    order_cols: Sequence[Column],
    out_col: str = "_seq",
    distributed: bool | None = None,
) -> DataFrame:
    """Assign the global 1..N sequence over a caller-declared total order.

    ``distributed=None`` (auto) picks by Catalyst's size estimate, the same
    gate ``operators/graph.ancestor_closure`` uses:

    - **small** (broadcast-sized; the reference's RETURNING inserts are one
      row per HTTP request): one single-partition ``row_number`` window —
      one shuffle, minimal jobs.
    - **large**: the scalable two-phase scheme — ``repartitionByRange`` on
      the order (Spark's distributed sort), per-partition counts rolled
      into prefix-sum offsets (one tiny row per partition, broadcast back),
      plus the within-partition ``row_number``.  No single task ever sees
      more than one partition of data, so the assignment scales to any
      batch size.  The assigned sequence equals the rank in the total
      order, so it is identical under either strategy and independent of
      partition boundaries.
    """
    from pyspark.sql.window import Window

    if distributed is None:
        from r_e_hive__spark.operators.packing import _auto_distributed

        distributed = _auto_distributed(rows)
    if not distributed:
        w = Window.orderBy(*order_cols)
        return rows.withColumn(out_col, F.row_number().over(w).cast("long"))

    # The sorted batch feeds TWO subtrees (offset counts + the join back),
    # and repartitionByRange's sampled bounds are not guaranteed identical
    # across re-executions — pin one materialization so both subtrees see
    # the SAME partitioning (same trick as the closure operator's rounds).
    ranged = (
        rows.repartitionByRange(*order_cols)
        .sortWithinPartitions(*order_cols)
        .localCheckpoint(eager=True)
    )
    with_pid = ranged.withColumn("_pid", F.spark_partition_id())
    # one row per partition — prefix-sum window over ≤ #partitions rows
    offsets = (
        with_pid.groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .withColumn(
            "_off", F.sum("_cnt").over(Window.orderBy("_pid")) - F.col("_cnt")
        )
        .select("_pid", "_off")
    )
    w_local = Window.partitionBy("_pid").orderBy(*order_cols)
    return (
        with_pid.join(F.broadcast(offsets), "_pid")
        .withColumn(
            out_col,
            (F.col("_off") + F.row_number().over(w_local)).cast("long"),
        )
        .drop("_pid", "_off")
    )


def append_returning(
    spark: SparkSession,
    rows: DataFrame,
    path: str,
    id_col: str,
    order_cols: Sequence[Column],
) -> DataFrame:
    """S4: insert-with-RETURNING on an append-only table.

    New ids are ``max(existing id) + row_number()`` over ``order_cols`` (a
    caller-declared total order — determinism contract SURVEY.md §2.12).
    Returns the appended rows with their assigned ids.  The max-lookup is a
    single-row aggregate (fast scan over the id column only); the sequence
    assignment is :func:`sequence_ids` — one single-partition window for
    insert-batch-sized inputs (the reference's RETURNING inserts are one
    row per HTTP request), the two-phase distributed scheme when the batch
    is big (backfill/bulk-load shape).
    """
    from r_e_hive__spark import storage

    # a missing path or a directory with no data files is the first insert;
    # any other failure (corrupt footer, FS error, permissions) propagates:
    # restarting at base=0 would append duplicate ids with no error
    try:
        files = storage.parquet_files(path)
    except FileNotFoundError:
        files = {}
    read_path = storage.spark_path(path)
    base = 0
    if files:
        base = spark.read.parquet(read_path).agg(F.max(id_col)).collect()[0][0] or 0
    assigned = sequence_ids(rows, order_cols, out_col=id_col).withColumn(
        id_col, (F.lit(base) + F.col(id_col)).cast("long")
    )
    assigned.write.mode("append").format("parquet").save(path)
    return spark.read.parquet(read_path).where(F.col(id_col) > base)


def materialize_current_state(
    events: DataFrame,
    path: str,
    key_cols: Sequence[str],
    order_cols: Sequence[Column],
) -> DataFrame:
    """S5: compact an event log to its latest-record-wins snapshot table.

    Deterministic given a total ``order_cols`` per key.  Overwrites the
    snapshot directory atomically-per-job; readers of the previous snapshot
    re-read the new one on next query (the Parquet-and-views stand-in for a
    lakehouse MERGE)."""
    snap = latest_record_wins(events, key_cols, order_cols)
    snap.write.mode("overwrite").format("parquet").save(path)
    return snap


def read_csv_table(
    spark: SparkSession, path: str, schema: StructType, header: bool = True
) -> DataFrame:
    """Explicit-schema CSV ingest — no inferSchema (two passes + guessed
    types violate the declared-schema rule, SURVEY.md §1.3)."""
    return spark.read.csv(path, schema=schema, header=header, mode="FAILFAST")


def read_json_table(
    spark: SparkSession, path: str, schema: StructType
) -> DataFrame:
    """Explicit-schema JSON-lines ingest; corrupt records fail fast."""
    return spark.read.json(path, schema=schema, mode="FAILFAST")


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str],
    mode: str = "overwrite",
    dynamic: bool = True,
) -> None:
    """Hive-layout partitioned parquet write (the X6 routing sink and the
    general 100 TB table layout: ``lang=en/``, ``event_date=2024-01-21/``…).

    Partition pruning makes reads over a partition predicate touch only
    the matching directories — asserted on the scan's ``PartitionFilters``
    in tests/test_io.py.  ``dynamic=True`` sets
    ``spark.sql.sources.partitionOverwriteMode=dynamic`` for the write, so
    ``mode='overwrite'`` replaces ONLY the partitions present in ``df``
    (the idempotent daily-refresh pattern); static overwrite would drop
    every other partition.  Choose LOW-cardinality columns: one directory
    and ≥1 file per value — a high-cardinality key belongs in bucketing
    (metastore.persist_bucketed), not partitioning."""
    # same bounded-file-count discipline as append_facts: co-locate each
    # partition value's rows before the write
    w = df.repartition(*[F.col(c) for c in partition_cols])
    (
        # per-WRITE option, not the session conf: mutating the global conf
        # races against concurrent writers in the same session (round-4
        # review); the writer option takes precedence over the conf
        w.write.mode(mode)
        .option("partitionOverwriteMode", "dynamic" if dynamic else "static")
        .partitionBy(*partition_cols)
        .parquet(path)
    )
