"""Multi-dimensional clustering (z-order) + row-group data skipping.

The 100 TB problem this solves: a table laid out in one column's order
gives parquet row-groups tight min/max bounds on THAT column only — a
predicate on any other column reads every row group.  Interleaving the
bits of several columns' normalized ranks (the Morton / z-order curve,
the same layout Delta's OPTIMIZE ZORDER BY and Iceberg's sort orders
target) makes every clustered column's values *locally dense* per file
and row group, so the vectorized parquet reader's min/max pruning skips
most of the table for a selective predicate on ANY of them.

Everything stays JVM-side whole-stage codegen: the rank scaling and bit
spreading are shift/mask expression chains (no UDF), the clustering
itself is one ``repartitionByRange`` + ``sortWithinPartitions`` on the
z-value — exactly one shuffle, the same cost as a linear sort-write.

``rowgroup_skip_fraction`` reads the written footers (pyarrow) and
reports what fraction of row groups a predicate can prune — the
measurable artifact the tests and BASELINE.md pin.

Scope: numeric (integral/floating/timestamp) columns, 2-4 of them; ranks
are min-max scaled to 16 bits.  Heavily skewed value distributions get
coarse ranks at the hot end — the standard caveat; percentile-based
binning would fix it at the cost of an extra pass (documented, not
built: min-max matches what the format's own writers do).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from r_e_hive__spark import storage

_BITS = 16
_MAX_RANK = (1 << _BITS) - 1

# spread a 16-bit int so its bits occupy every k-th position of a 64-bit
# word (k = stride = number of interleaved columns).  Masks generated per
# stride; the shift/mask doubling chain is the classic Morton spread.


def _spread(c: Column, stride: int) -> Column:
    c = c.bitwiseAND(F.lit(_MAX_RANK))
    if stride == 1:
        return c
    # place bit i of c at position i*stride via the classic mask-doubling
    # chain: after the `group` step, groups of `group` bits sit
    # group*stride apart.  Work down from 8 to 1.
    for group in (8, 4, 2, 1):
        sh = group * (stride - 1)
        mask = 0
        # mask of allowed positions after this step: groups of `group` bits
        # every group*stride positions.  Positions ≥63 are excluded: the
        # rank widths in zvalue keep every real bit below the long sign
        # bit, and a bit-63 literal would overflow py4j's signed long.
        pos = 0
        while pos < 63:
            for g in range(group):
                if pos + g < 63:
                    mask |= 1 << (pos + g)
            pos += group * stride
        c = c.bitwiseOR(F.shiftleft(c, sh)).bitwiseAND(F.lit(mask))
    return c


def zvalue(df: DataFrame, cols: Sequence[str], bounds: dict | None = None) -> Column:
    """The interleaved z-value as a LongType column expression.

    ``bounds``: {col: (min, max)} — pass precomputed stats (e.g. from the
    metastore) to keep this a pure expression; when absent the caller
    should use :func:`zorder_by`, which computes them in one aggregate.
    """
    cols = list(cols)
    if not 2 <= len(cols) <= 4:
        raise ValueError("z-order needs 2-4 columns")
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"columns not in frame: {missing}")
    if bounds is None:
        raise ValueError("zvalue needs bounds; use zorder_by for auto stats")
    stride = len(cols)
    # keep the top interleaved bit below the long sign bit: stride 4
    # needs 15-bit ranks (15*4+3 = 63 would be the sign)
    max_rank = (1 << min(_BITS, 63 // stride)) - 1
    z = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        lo, hi = bounds[c]
        lo_f, hi_f = float(lo), float(hi)
        span = hi_f - lo_f
        if span <= 0:
            rank = F.lit(0).cast("long")
        else:
            rank = F.least(
                F.lit(max_rank).cast("long"),
                F.greatest(
                    F.lit(0).cast("long"),
                    F.floor(
                        (F.col(c).cast("double") - F.lit(lo_f))
                        / F.lit(span)
                        * max_rank
                    ).cast("long"),
                ),
            )
        z = z.bitwiseOR(F.shiftleft(_spread(rank, stride), i))
    return z


def column_bounds(df: DataFrame, cols: Sequence[str]) -> dict | None:
    """Min/max (as doubles) per column in ONE aggregate — the stats scan
    :func:`zorder_by` and the declared x13 query share (on a real
    deployment, metastore column stats replace this).  Returns None for
    empty/all-NULL input (no bounds exist to scale against)."""
    cols = list(cols)
    aggs = []
    for c in cols:
        aggs += [
            F.min(F.col(c).cast("double")).alias(f"__min_{c}"),
            F.max(F.col(c).cast("double")).alias(f"__max_{c}"),
        ]
    row = df.agg(*aggs).collect()[0]
    bounds = {c: (row[f"__min_{c}"], row[f"__max_{c}"]) for c in cols}
    if any(v[0] is None for v in bounds.values()):
        return None
    return bounds


def zorder_by(
    df: DataFrame, cols: Sequence[str], num_files: int | None = None
) -> DataFrame:
    """Cluster ``df`` along the z-order curve of ``cols``.

    One aggregate computes the min/max bounds (:func:`column_bounds`),
    then one ``repartitionByRange`` on the z-value + an intra-partition
    sort.  Write the result with plain ``.write.parquet`` and every
    output file/row-group carries tight min/max on EVERY clustered
    column."""
    cols = list(cols)
    bounds = column_bounds(df, cols)
    if bounds is None:
        return df  # empty input: nothing to cluster
    z = df.withColumn("__z", zvalue(df, cols, bounds))
    parts = [num_files] if num_files else []
    return (
        z.repartitionByRange(*parts, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
    )


def rowgroup_stats(path: str, col: str) -> list[tuple]:
    """(min, max, n_rows) per parquet row group under ``path`` — read
    from the footers only, no data scan; a stats-less chunk reads as
    (None, None, n_rows), which rowgroup_skip_fraction counts unskippable."""
    out = []
    for f in storage.parquet_files(path):
        ranges = storage.rowgroup_ranges(storage.footer(f), col)
        if ranges is None:
            raise KeyError(f"column {col!r} not in {f}")
        out += ranges
    return out


def rowgroup_skip_fraction(path: str, col: str, lo, hi) -> float:
    """Fraction of row groups a ``col BETWEEN lo AND hi`` predicate can
    prune from their footer min/max — the data-skipping figure of merit
    (1.0 = scan nothing, 0.0 = scan everything)."""
    stats = rowgroup_stats(path, col)
    if not stats:
        return 0.0
    skipped = sum(
        1
        for mn, mx, _ in stats
        if mn is not None and mx is not None and (mx < lo or mn > hi)
    )
    return skipped / len(stats)
