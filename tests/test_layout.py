"""Z-order clustering + row-group data skipping (operators/layout.py).

The bit-interleave is pinned against a pure-Python Morton reference; the
end-to-end write is checked for row preservation and for the actual
figure of merit — what fraction of parquet row groups a selective
predicate prunes on EACH clustered dimension, vs a linear single-column
sort layout of the same data.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from r_e_hive__spark.catalog import load_table
from r_e_hive__spark.operators.layout import (
    _spread,
    rowgroup_skip_fraction,
    rowgroup_stats,
    zorder_by,
    zvalue,
)

SF = "/root/testdata/sf0.01"


def _morton_ref(x: int, stride: int) -> int:
    out = 0
    for i in range(16):
        if x >> i & 1:
            out |= 1 << (i * stride)
    return out


def test_spread_matches_python_reference(spark):
    vals = list(range(1024)) + [4097, 21845, 32767, 43690, 65535]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    for stride in (2, 3, 4):
        dom = [v for v in vals if v < (1 << (15 if stride == 4 else 16))]
        got = {
            r["v"]: r["s"]
            for r in df.where(F.col("v").isin(dom))
            .select("v", _spread(F.col("v"), stride).alias("s"))
            .collect()
        }
        for v in dom:
            assert got[v] == _morton_ref(v, stride), (stride, v)


def test_zvalue_never_negative_and_monotone_on_diagonal(spark):
    """The sign bit stays clear for every stride, and z is monotone along
    the diagonal (equal ranks in all dims ⇒ interleave preserves order)."""
    df = spark.createDataFrame([(i, i, i, i) for i in range(0, 1000, 7)],
                               "a long, b long, c long, d long")
    for cols in (["a", "b"], ["a", "b", "c"], ["a", "b", "c", "d"]):
        bounds = {c: (0, 993) for c in cols}
        rows = df.select("a", zvalue(df, cols, bounds).alias("z")).orderBy("a").collect()
        zs = [r["z"] for r in rows]
        assert all(z >= 0 for z in zs)
        assert zs == sorted(zs)


def test_zorder_write_skips_on_both_dimensions(spark, tmp_path, path_forms):
    ev = load_table(spark, SF, "events").select("event_id", "user_id", "value")
    z = zorder_by(ev, ["user_id", "value"], num_files=16)
    zdirs = path_forms(tmp_path, "z")
    for d in zdirs.values():
        z.write.parquet(d)
    dz, dl = zdirs["plain"], str(tmp_path / "l")
    (
        ev.repartitionByRange(16, F.col("user_id"))
        .sortWithinPartitions("user_id")
        .write.parquet(dl)
    )
    # row preservation
    assert spark.read.parquet(dz).count() == ev.count()

    s = ev.agg(
        F.min("user_id"), F.max("user_id"), F.min("value"), F.max("value")
    ).collect()[0]
    u_lo = (s[0] + s[1]) // 2
    u_hi = u_lo + max(1, (s[1] - s[0]) // 20)
    v_lo = (s[2] + s[3]) / 2
    v_hi = v_lo + (s[3] - s[2]) / 20

    z_u = rowgroup_skip_fraction(dz, "user_id", u_lo, u_hi)
    z_v = rowgroup_skip_fraction(dz, "value", v_lo, v_hi)
    l_u = rowgroup_skip_fraction(dl, "user_id", u_lo, u_hi)
    l_v = rowgroup_skip_fraction(dl, "value", v_lo, v_hi)

    # z-order prunes meaningfully on BOTH dimensions…
    assert z_u >= 0.25, (z_u, z_v)
    assert z_v >= 0.5, (z_u, z_v)
    # …while the linear layout prunes only its own sort column
    assert l_u >= 0.5
    assert l_v <= 0.2, l_v
    # and the stats reader sees every row group, however the path is spelled
    for form, d in zdirs.items():
        n_rows = sum(n for _, _, n in rowgroup_stats(d, "user_id"))
        assert n_rows == ev.count(), form


def test_zorder_rejects_bad_arity_and_passes_empty(spark):
    df = spark.createDataFrame([], "a long, b long")
    with pytest.raises(ValueError):
        zvalue(df, ["a"], {"a": (0, 1)})
    with pytest.raises(ValueError):
        zvalue(df, ["a", "b", "a", "b", "a"], {})
    # empty input: no bounds -> returned unclustered, still writable
    assert zorder_by(df, ["a", "b"]).count() == 0


def test_rowgroup_stats_missing_statistics_unskippable(spark, tmp_path):
    """Round-5 review: a stats-less column chunk must count as
    NOT prunable, not crash the footer reader."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pa.table({"a": list(range(100)), "b": [None] * 100})
    p = str(tmp_path / "nostats.parquet")
    pq.write_table(t, p, write_statistics=False)
    assert rowgroup_skip_fraction(p, "a", 1000, 2000) == 0.0
    stats = rowgroup_stats(p, "a")
    assert stats and stats[0][0] is None and stats[0][2] == 100
