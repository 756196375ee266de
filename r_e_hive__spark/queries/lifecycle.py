"""Declared queries: write-path lifecycle + remaining scalar surface
(SURVEY.md §2.1 S4/S7, §2.8 F4/F14/F16/F17, §2.9 ST4).

These pin the last inventory rows: the append+RETURNING id-assignment
shape, JSON egress, the cast/default/escape-hatch scalar surface, and the
watermark late-data semantics in batch-equivalent form.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from r_e_hive__spark.queries import query, retired_query
from r_e_hive__spark.queries._util import T

# ---------------------------------------------------------------------------
# S4 — append + RETURNING: generated ids for an appended batch
# ---------------------------------------------------------------------------


@query(
    "s4_append_returning",
    """
    WITH existing AS (
      SELECT MAX(o_orderkey) AS mx FROM orders WHERE o_orderstatus <> 'P'
    )
    SELECT (SELECT mx FROM existing) + ROW_NUMBER() OVER (ORDER BY o_orderkey) AS new_id,
           o_orderkey AS source_key, o_custkey
    FROM orders WHERE o_orderstatus = 'P'
    ORDER BY new_id
    """,
    survey_rows=("S4", "S3", "S8"),
)
def s4_append_returning(spark, sf_dir):
    """Append + RETURNING (insert-then-return-generated-row,
    render-complete-deploy.js:425-429): Spark has no auto-increment, so the
    engine assigns ids as max(existing) + the io.sequence_ids global
    sequence over a deterministic order — never
    monotonically_increasing_id (nondeterministic across partitionings,
    SURVEY.md §1.3).  sequence_ids auto-gates between a single-partition
    window (insert-batch-sized input) and the two-phase distributed
    assignment (bulk-load-sized input); the ids are identical either way."""
    from r_e_hive__spark.io import sequence_ids

    (orders,) = T(spark, sf_dir, "orders")
    mx = orders.where(F.col("o_orderstatus") != "P").agg(
        F.max("o_orderkey").alias("mx")
    )
    batch = orders.where(F.col("o_orderstatus") == "P")
    return (
        sequence_ids(batch, [F.col("o_orderkey")], out_col="_seq")
        .crossJoin(F.broadcast(mx))
        .select(
            (F.col("mx") + F.col("_seq")).alias("new_id"),
            F.col("o_orderkey").alias("source_key"),
            "o_custkey",
        )
        .orderBy("new_id")
    )


# ---------------------------------------------------------------------------
# S7 — JSON egress (row → JSON document)
# ---------------------------------------------------------------------------


@retired_query(
    "s7_json_egress",
    """
    SELECT n_nationkey,
           to_json(struct_pack(n_nationkey := n_nationkey, n_name := n_name,
                               n_regionkey := n_regionkey)) AS js
    FROM nation ORDER BY n_nationkey
    """,
    survey_rows=("S7", "F10"),
)
def s7_json_egress(spark, sf_dir):
    """JSON egress — every reference endpoint serializes result rows to JSON
    (render-complete-deploy.js:359, 396, 408); the engine's row→document
    form is to_json(struct(...)), byte-identical across engines for
    int/string fields."""
    (nation,) = T(spark, sf_dir, "nation")
    return (
        nation.select(
            "n_nationkey",
            F.to_json(
                F.struct(F.col("n_nationkey"), F.col("n_name"), F.col("n_regionkey"))
            ).alias("js"),
        )
        .orderBy("n_nationkey")
    )


# ---------------------------------------------------------------------------
# F4/F14/F16/F17 — casts, percentage display, insert defaults, raw-SQL hatch
# ---------------------------------------------------------------------------


@retired_query(
    "f4_cast_defaults_expr",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(CAST(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS VARCHAR) AS DECIMAL(12,2)) AS DOUBLE) AS price_roundtrip,
           CAST(CAST(l_discount AS DECIMAL(3,2)) * 100 AS INT) AS discount_pct,
           COALESCE(NULLIF(l_returnflag, 'N'), 'none') AS flag_or_default,
           CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(0.05 AS DECIMAL(3,2)) AS DOUBLE) AS fee
    FROM lineitem
    WHERE l_orderkey % 50 = 0
    ORDER BY l_orderkey, l_linenumber
    """,
    survey_rows=("F4", "F14", "F16", "F17", "F1"),
)
def f4_cast_defaults_expr(spark, sf_dir):
    """Scalar surface completion: parseFloat string→decimal cast (F4,
    render-complete-deploy.js:216), rate×100 display (F14, :1069), literal
    defaults on insert (F16, :38/:51/:60), and the raw-SQL escape hatch (F17,
    the sql`` fragments :228/:287) via selectExpr — the engine keeps the same
    declarative-builder + raw-SQL dual surface as the reference.  RETIRED
    round 8 (50-cap rotation for x20/x22): F-family stays driver-pinned
    twice over by f_scalar_suite (F1-F17 sweep incl. decimal casts) and
    f7_f12_orders_scalars; this oracle keeps running in
    tests/test_retired_queries.py."""
    (lineitem,) = T(spark, sf_dir, "lineitem")
    return (
        lineitem.where(F.col("l_orderkey") % 50 == 0)
        .selectExpr(  # F17: raw SQL fragments inside the builder
            "l_orderkey",
            "l_linenumber",
            "CAST(CAST(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS STRING) AS DECIMAL(12,2)) AS DOUBLE) AS price_roundtrip",
            "CAST(CAST(l_discount AS DECIMAL(3,2)) * 100 AS INT) AS discount_pct",
            "COALESCE(NULLIF(l_returnflag, 'N'), 'none') AS flag_or_default",
            "CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(0.05 AS DECIMAL(3,2)) AS DOUBLE) AS fee",
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


# ---------------------------------------------------------------------------
# ST4 — watermark / late-data semantics, batch-equivalent formulation
# ---------------------------------------------------------------------------


@query(
    "st4_late_data",
    """
    WITH arrivals AS (
      SELECT event_id, ts, event_type,
             ts + (event_id % 47) * INTERVAL 1 MINUTE AS arrival_ts
      FROM events
    ), marked AS (
      SELECT event_id, ts, event_type,
             MAX(ts) OVER (ORDER BY arrival_ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - INTERVAL 10 MINUTE AS wm
      FROM arrivals
    )
    SELECT event_type,
           CAST(SUM(CASE WHEN ts >= wm THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN ts < wm THEN 1 ELSE 0 END) AS BIGINT) AS n_late
    FROM marked GROUP BY event_type ORDER BY event_type
    """,
    survey_rows=("ST4", "ST1"),
)
def st4_late_data(spark, sf_dir):
    """Watermark late-data accounting (ST4), batch-equivalent: arrival order
    is event time plus a deterministic per-event delay; the watermark is the
    running max event time over arrival order minus a 10-minute
    allowed-lateness — exactly what ``withWatermark('ts', '10 minutes')``
    tracks per partition (streaming twin: streaming/jobs.py:tumbling_counts,
    exercised under readStream in tests/test_streaming.py)."""
    T(spark, sf_dir, "events")
    return spark.sql(
        """
        WITH arrivals AS (
          SELECT event_id, ts, event_type,
                 ts + (event_id % 47) * INTERVAL '1' MINUTE AS arrival_ts
          FROM events
        ), marked AS (
          SELECT event_id, ts, event_type,
                 MAX(ts) OVER (ORDER BY arrival_ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - INTERVAL '10' MINUTE AS wm
          FROM arrivals
        )
        SELECT event_type,
               CAST(SUM(CASE WHEN ts >= wm THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               CAST(SUM(CASE WHEN ts < wm THEN 1 ELSE 0 END) AS BIGINT) AS n_late
        FROM marked GROUP BY event_type ORDER BY event_type
        """
    )


# ---------------------------------------------------------------------------
# X14 — copy-on-write delete + compaction (declared round 8 second wave;
# VERDICT r7 "What's missing" item 3)
# ---------------------------------------------------------------------------

_X14_LO, _X14_HI = 3000, 4499


@query(
    "x14_cow_delete",
    f"""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority
    FROM orders
    WHERE NOT (o_orderkey BETWEEN {_X14_LO} AND {_X14_HI}
               AND o_orderstatus = 'F')
    ORDER BY o_orderkey
    """,
    survey_rows=("X14",),
)
def x14_cow_delete(spark, sf_dir):
    """Copy-on-write DELETE + compaction, end to end on real files: copy
    ``orders`` into a range-clustered 8-file parquet table (clustering is
    what makes the footer-pruned touch set small — layout and targeted
    deletes compose), ``delete_where`` the GDPR-shaped slice
    (o_orderkey ∈ [3000, 4499] AND o_orderstatus = 'F' — range conjunct
    plus extra predicate), ``compact_files`` the rewrite's output, and
    return what a reader then sees.  The oracle is the logical DELETE
    (NOT(predicate) over the original table), so equality pins the whole
    physical pipeline — footer min/max pruning touched the right files,
    the rewrite dropped exactly the matching rows and lost/duplicated
    nothing, and compaction is content-preserving (operators/
    lifecycle.py; the staging + swap atomicity contract).  At
    100 TB the touch set is O(matching data), not O(table): untouched
    files are never read past their footers.  The result frame is
    localCheckpoint-ed before the scratch table is deleted, so the
    returned DataFrame does not depend on the scratch dir's lifetime."""
    import os
    import shutil
    import tempfile

    from r_e_hive__spark.operators.lifecycle import compact_files, delete_where

    (orders,) = T(spark, sf_dir, "orders")
    workdir = tempfile.mkdtemp(prefix="x14_cow_")
    table = os.path.join(workdir, "orders_cow")
    try:
        (
            orders.repartitionByRange(8, "o_orderkey")
            .sortWithinPartitions("o_orderkey")
            .write.parquet(table)
        )
        delete_where(
            spark,
            table,
            "o_orderkey",
            _X14_LO,
            _X14_HI,
            extra_predicate=F.col("o_orderstatus") == "F",
        )
        compact_files(spark, table, target_bytes=256 << 20)
        return (
            spark.read.parquet(table)
            .select(
                "o_orderkey",
                "o_custkey",
                "o_orderstatus",
                "o_totalprice",
                "o_orderdate",
                "o_orderpriority",
            )
            .orderBy("o_orderkey")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


# ---------------------------------------------------------------------------
# X13 — z-order (Morton) clustering key (declared round 8 second wave;
# VERDICT r7 "What's missing" item 3)
# ---------------------------------------------------------------------------

_Z_COLS = ("o_custkey", "o_totalprice")
_Z_BITS = 16  # stride 2 -> 16-bit ranks, top interleaved bit at 2*15+1 = 31


def _du_zexpr() -> str:
    """DuckDB twin of operators/layout.zvalue for stride 2: per-column
    min-max rank scaling (same double arithmetic, same clamp order), then
    Morton interleave as an UNROLLED per-bit sum — an independent
    construction vs the engine's mask-doubling spread chain (the
    cross-paradigm-differential discipline of x19/x33), equal because bit
    positions are disjoint."""
    max_rank = (1 << _Z_BITS) - 1
    ranks = []
    for c in _Z_COLS:
        # degenerate-span guard mirrors the engine's zvalue rule
        # (operators/layout.py: span <= 0 -> rank 0); without it a
        # constant-column fixture divides by zero here while the engine
        # emits rank 0 and the differential diverges (ADVICE r8)
        ranks.append(
            f"CASE WHEN hi_{c} > lo_{c} THEN "
            f"LEAST({max_rank}, GREATEST(0, CAST(FLOOR("
            f"(CAST({c} AS DOUBLE) - lo_{c}) / (hi_{c} - lo_{c}) * {max_rank}"
            f") AS BIGINT))) ELSE 0 END"
        )
    terms = []
    for i, r in enumerate(ranks):
        for b in range(_Z_BITS):
            # fully parenthesized: DuckDB/Postgres give << LOWER precedence
            # than +, so a bare `a << p + b << q` chain associates wrongly
            terms.append(f"(((({r}) >> {b}) & 1) << {2 * b + i})")
    return " + ".join(terms)


_X13_ZORDER = f"""
    WITH b AS (
      SELECT {", ".join(
        f"MIN(CAST({c} AS DOUBLE)) AS lo_{c}, MAX(CAST({c} AS DOUBLE)) AS hi_{c}"
        for c in _Z_COLS)}
      FROM orders
    )
    SELECT o_orderkey, CAST({_du_zexpr()} AS BIGINT) AS zval
    FROM orders CROSS JOIN b
    ORDER BY zval, o_orderkey
"""


@query(
    "x13_zorder",
    _X13_ZORDER,
    survey_rows=("X13",),
)
def x13_zorder(spark, sf_dir):
    """Z-order (Morton) clustering key over (o_custkey, o_totalprice) —
    operators/layout.zvalue: min-max rank scaling to 16 bits (pure
    shift/mask expression chain, whole-stage codegen, no UDF) and the
    mask-doubling bit spread, with bounds from one stats aggregate (the
    zorder_by shape; the collect is two min/max doubles — parameter-
    sized).  The oracle recomputes the z-value per row as an unrolled
    per-bit Morton sum over independently-derived ranks, so the scaling
    arithmetic ((x−lo)/span·65535, IEEE-identical in both engines), the
    clamp order, and every bit position are value-pinned cross-engine.
    The physical payoff — repartitionByRange(zval) + write giving tight
    per-file min/max on EVERY clustered column — is layout-dependent and
    stays pinned by tests/test_layout.py's row-group skip fractions and
    the BASELINE.md sf1 scan A/B."""
    from r_e_hive__spark.operators.layout import column_bounds, zvalue

    (orders,) = T(spark, sf_dir, "orders")
    cols = list(_Z_COLS)
    bounds = column_bounds(orders, cols)  # the zorder_by stats scan
    return (
        orders.select(
            "o_orderkey", zvalue(orders, cols, bounds).alias("zval")
        )
        .orderBy("zval", "o_orderkey")
    )


# ---------------------------------------------------------------------------
# X31 — file-level Bloom index (declared round 9; VERDICT r8 item 3: the
# md5 build+probe differential landed in tests/test_bloom_index.py round 8,
# promoted to a driver pin this rotation)
# ---------------------------------------------------------------------------

_X31_GROUPS = 32
_X31_BLOCK = 16384  # second file-key level: o_orderkey div 16384
# With <=1024 rows per file the sizing clamps to the _MIN_ITEMS floor, so
# m/k are data-independent LITERALS both engines share: n=1024, fpp=0.01 ->
# m = ceil(-1024*ln(.01)/ln(2)^2) = 9816, k = min(8, round(m/1024*ln2)) = 7.
# The two-level file key g = (o_orderkey % 32) + 32*(o_orderkey div 16384)
# bounds rows-per-file at <=512 for ANY scale factor (orderkeys are dense:
# a 16384-key block holds <=16384 orders, split 32 ways), so the clamp —
# and with it the oracle's m/k literals — holds at every sweep sf, not
# just the graded ones (round-9 review: the single-level key left the
# floor at sf>=0.1).  The Spark side still asserts the built index
# carries exactly these (fail loud, not hash-drift, on non-dense data).
_X31_M, _X31_K = 9816, 7
_X31_PROBES = (1, 2, 3, 5, 7, 11, 999999998, 999999999)
# File-count guard (round 10, VERDICT r9 item 6): the declared layout's
# file count is ~GROUPS * max_orderkey/BLOCK and rows/file <= BLOCK/GROUPS;
# with the oracle's m/k literals requiring the <=1024-row sizing floor,
# rows/file <= 1024 AND files <= _X31_MAX_FILES are jointly satisfiable
# only up to ~_X31_MAX_FILES*1024 = ~4M orders (sf ~2.7 on this data).
# Beyond that the query raises BEFORE the expensive layout write (the sf20
# sweep previously wrote ~59k files as a documented cap — now a loud
# guard, like the m/k check below).  Production sizing for bigger tables
# lives in operators/index.build_bloom_index, which re-derives m/k from
# actual per-file row counts instead of pinning literals.
_X31_MAX_FILES = 4096


def _x31_lane(v_sql: str, i: int) -> str:
    """DuckDB twin of operators/index._positions md5 mode: position lane i
    of value v = first 15 md5 hex digits of v||':'||i as an integer, mod m
    (the X22/X24 md5-anchor trick; bit-exact vs Spark's conv/pmod)."""
    return (
        f"CAST(('0x' || substring(md5({v_sql} || ':{i}'), 1, 15)) AS BIGINT)"
        f" % {_X31_M}"
    )


def _x31_oracle() -> str:
    build_lanes = ", ".join(_x31_lane("v", i) for i in range(_X31_K))
    probe_vals = ", ".join(f"({v})" for v in _X31_PROBES)
    probe_lanes = ", ".join(
        _x31_lane("CAST(val AS VARCHAR)", i) for i in range(_X31_K)
    )
    return f"""
    WITH raw AS (
      SELECT (o_orderkey % {_X31_GROUPS}) + {_X31_GROUPS} * (o_orderkey // {_X31_BLOCK}) AS g,
             CAST(o_custkey AS VARCHAR) AS v
      FROM orders WHERE o_custkey IS NOT NULL
    ),
    filepos AS (
      SELECT DISTINCT g, pos FROM (
        SELECT g, unnest([{build_lanes}]) AS pos FROM raw
      )
    ),
    probes(val) AS (VALUES {probe_vals}),
    probepos AS (
      SELECT DISTINCT val, pos FROM (
        SELECT val, unnest([{probe_lanes}]) AS pos FROM probes
      )
    ),
    need AS (SELECT val, COUNT(*) AS n FROM probepos GROUP BY val)
    SELECT CAST(pp.val AS BIGINT) AS probe_value, CAST(f.g AS BIGINT) AS g
    FROM probepos pp JOIN filepos f USING (pos)
    GROUP BY pp.val, f.g
    HAVING COUNT(DISTINCT pp.pos) = (SELECT n FROM need WHERE need.val = pp.val)
    ORDER BY probe_value, g
    """


@query(
    "x31_bloom_index",
    _x31_oracle(),
    survey_rows=("X31",),
)
def x31_bloom_index(spark, sf_dir):
    """X31 file-level Bloom index, end to end on real files: copy
    ``orders`` into a 32-file table clustered by g = o_orderkey % 32 (one
    data file per partition dir — file identity is then the DETERMINISTIC
    g, which is what lets a from-scratch oracle name the same files), build
    the per-file Bloom bitmap over ``o_custkey`` in md5 mode
    (operators/index.build_bloom_index: one map-side-combined bit_or
    aggregate — the bitmap words, not the data, cross the wire), then
    probe a fixed value list and return every (probe_value, candidate
    file) the pruner keeps.  The DuckDB oracle recomputes each file's
    bit-position set from the RAW rows and re-derives every probe's
    candidate set — lane derivation, m/k use, and the all-k-bits candidacy
    rule all replayed (the tests/test_bloom_index.py differential,
    promoted to the driver surface in the round-9 rotation).  At 100 TB
    the index is O(set bits) per file, the probe is k driver-side lane
    hashes + a metadata-sized scan — reads skip files with zero data I/O
    (bloom_skip_fraction's story), exactly how parquet-external key
    skipping earns its keep."""
    import os
    import re
    import shutil
    import tempfile

    from r_e_hive__spark.operators import index as bx

    (orders,) = T(spark, sf_dir, "orders")
    max_key = orders.agg(F.max("o_orderkey")).first()[0]
    n_files = _X31_GROUPS * (int(max_key) // _X31_BLOCK + 1)
    if n_files > _X31_MAX_FILES:
        raise ValueError(
            f"x31_bloom_index: declared layout would write ~{n_files} files "
            f"(> {_X31_MAX_FILES}); its domain ends near "
            f"{_X31_MAX_FILES * _X31_BLOCK // _X31_GROUPS} orderkeys "
            f"(~sf2.7) — for bigger tables use operators/index."
            f"build_bloom_index with data-derived sizing instead of the "
            f"oracle's pinned m/k literals"
        )
    workdir = tempfile.mkdtemp(prefix="x31_bloom_")
    table = os.path.join(workdir, "orders_by_g")
    try:
        (
            orders.withColumn(
                "g",
                (F.col("o_orderkey") % _X31_GROUPS)
                + _X31_GROUPS * F.expr(f"o_orderkey div {_X31_BLOCK}"),
            )
            # hash-partitioning on g puts every row of a group in ONE task,
            # so each partition dir gets exactly one data file regardless
            # of the partition count
            .repartition("g")
            .write.partitionBy("g")
            .parquet(table)
        )
        idx = bx.build_bloom_index(
            spark, table, "o_custkey", hash_fn="md5"
        ).localCheckpoint(eager=True)
        meta = idx.select("m", "k").first()
        if (int(meta["m"]), int(meta["k"])) != (_X31_M, _X31_K):
            raise ValueError(
                f"x31_bloom_index: sizing left the _MIN_ITEMS floor "
                f"(got m={meta['m']}, k={meta['k']}; oracle pins "
                f"m={_X31_M}, k={_X31_K}) — a data file exceeds 1024 rows; "
                f"this declared query's domain is the graded sf0.001/sf0.01"
            )
        rows = []
        for v in _X31_PROBES:
            pos = bx.probe_positions(
                spark, table, "o_custkey", v, _X31_M, _X31_K, "md5"
            )
            for r in bx.bloom_prune(idx, pos).select("file").collect():
                # anchored to the partition-dir segment: a TMPDIR path
                # containing "g=<digits>" elsewhere must not match
                # (r9 ADVICE)
                g = int(re.search(r"/g=(\d+)/", r["file"]).group(1))
                rows.append((v, g))
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    return spark.createDataFrame(
        rows, "probe_value BIGINT, g BIGINT"
    ).orderBy("probe_value", "g")
