"""X31 — file-level Bloom-filter index (operators/index.py).

Pins: no false negatives (the Bloom guarantee the lookup correctness
rests on), end-to-end lookup == plain filter, fpp bounded on absent
values, meaningful skip fraction on a multi-file layout, null/edge
handling."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from r_e_hive__spark.operators import index as bx

SF = "/root/testdata/sf0.001"


def _write_orders(spark, out: str) -> None:
    """Orders rewritten as many files clustered by DATE — so a point
    lookup on o_custkey (uncorrelated with the layout) can only be
    pruned by the Bloom index, never by min/max."""
    (
        spark.read.parquet(f"{SF}/orders.parquet")
        .repartitionByRange(16, "o_orderdate")
        .sortWithinPartitions("o_orderdate")
        .write.mode("overwrite")
        .parquet(out)
    )


@pytest.fixture(scope="module")
def orders_path(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("bloom") / "orders")
    _write_orders(spark, out)
    return out


@pytest.fixture(scope="module")
def orders_index(spark, orders_path, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("bloom") / "orders_bloomidx")
    return bx.build_bloom_index(spark, orders_path, "o_custkey", out_path=out)


def test_index_shape_and_metadata(spark, orders_path, orders_index):
    n_files = (
        spark.read.parquet(orders_path)
        .select(F.input_file_name().alias("f"))
        .distinct()
        .count()
    )
    rows = orders_index.collect()
    # every file has non-null o_custkey rows, so every file is indexed
    assert len(rows) == n_files
    assert {r["col"] for r in rows} == {"o_custkey"}
    ms = {r["m"] for r in rows}
    ks = {r["k"] for r in rows}
    assert len(ms) == 1 and len(ks) == 1
    (m,), (k,) = ms, ks
    assert m > 0 and 1 <= k <= 8
    for r in rows:
        assert all(0 <= w <= (m - 1) // 64 for w in r["words"])


def test_lookup_equals_plain_filter_no_false_negatives(
    spark, orders_path, tmp_path, path_forms
):
    """Build + lookup over every path spelling (plain, ``file://`` URI,
    glob characters): the index's file column must read back as the
    same files, never as a glob or an undecoded URI."""
    base = spark.read.parquet(orders_path)
    keys = [
        r["o_custkey"]
        for r in base.select("o_custkey").distinct().orderBy("o_custkey").limit(40).collect()
    ]
    wants = {
        key: base.where(F.col("o_custkey") == key).orderBy("o_orderkey").collect()
        for key in keys[::4] + keys[-3:]
    }
    assert all(wants.values())  # the pin is vacuous on an absent key
    for form, path in path_forms(tmp_path, "orders").items():
        _write_orders(spark, path)
        index = bx.build_bloom_index(
            spark, path, "o_custkey", out_path=f"{path}_idx"
        )
        for key, want in wants.items():
            got = (
                bx.bloom_lookup(spark, path, index, "o_custkey", key)
                .orderBy("o_orderkey")
                .collect()
            )
            assert got == want, (form, key)


def test_absent_values_mostly_skip_everything(spark, orders_path, orders_index):
    meta = orders_index.first()
    m, k = int(meta["m"]), int(meta["k"])
    total = orders_index.count()
    # keys far outside the customer domain: all absent
    probes = list(range(10_000_000, 10_000_050))
    kept = 0
    for v in probes:
        pos = bx.probe_positions(spark, orders_path, "o_custkey", v, m, k)
        kept += bx.bloom_prune(orders_index, pos).count()
    # expected kept-file rate == fpp (1%); allow generous slack for a
    # 50-probe sample, but far below "keeps everything"
    assert kept <= 0.2 * total * len(probes) / 10

    res = bx.bloom_lookup(spark, orders_path, orders_index, "o_custkey", probes[0])
    assert res.count() == 0
    assert res.columns == spark.read.parquet(orders_path).columns


def test_skip_fraction_meaningful_on_clustered_other_column(
    spark, orders_path, orders_index
):
    """A present key lives in a handful of files out of 16: skipping must
    actually happen (the whole point vs a min/max-only reader, which
    skips 0 here because every file spans the full custkey domain)."""
    from r_e_hive__spark.operators.layout import rowgroup_skip_fraction

    base = spark.read.parquet(orders_path)
    key = base.groupBy("o_custkey").count().orderBy("count", "o_custkey").first()[
        "o_custkey"
    ]
    meta = orders_index.first()
    pos = bx.probe_positions(
        spark, orders_path, "o_custkey", key, int(meta["m"]), int(meta["k"])
    )
    assert bx.bloom_skip_fraction(orders_index, pos) >= 0.5
    # and min/max skipping over the same predicate is useless on this
    # layout — the contrast that motivates the Bloom sidecar
    assert rowgroup_skip_fraction(orders_path, "o_custkey", key, key) <= 0.25


def test_nulls_not_indexed_and_probe_rejects_null(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.createDataFrame(
        [Row(id=1, v="a"), Row(id=2, v=None), Row(id=3, v="b")]
    ).coalesce(1).write.parquet(path)
    idx = bx.build_bloom_index(spark, path, "v")
    with pytest.raises(ValueError, match="NULL"):
        bx.bloom_lookup(spark, path, idx, "v", None)
    got = bx.bloom_lookup(spark, path, idx, "v", "a").collect()
    assert [r["id"] for r in got] == [1]


def test_all_null_file_correctly_skippable(spark, tmp_path):
    """A file whose indexed column is entirely NULL gets no index row —
    and dropping it is CORRECT for equality probes (col = v never
    matches a null)."""
    path = str(tmp_path / "t")
    spark.createDataFrame([(1, "x"), (2, "y")], "id int, v string").coalesce(
        1
    ).write.parquet(path)
    spark.createDataFrame([(3, None), (4, None)], "id int, v string").coalesce(
        1
    ).write.mode("append").parquet(path)
    idx = bx.build_bloom_index(spark, path, "v")
    assert idx.count() == 1  # only the non-null file
    got = bx.bloom_lookup(spark, path, idx, "v", "x").collect()
    assert [r["id"] for r in got] == [1]


def test_param_validation(spark, orders_path):
    with pytest.raises(ValueError, match="not in table"):
        bx.build_bloom_index(spark, orders_path, "nope")
    with pytest.raises(ValueError, match="fpp"):
        bx._bloom_params(100, 1.5)
    idx = bx.build_bloom_index(spark, orders_path, "o_orderkey")
    with pytest.raises(ValueError, match="index is over"):
        bx.bloom_lookup(spark, orders_path, idx, "o_custkey", 1)


def test_bloom_params_formulas():
    m, k = bx._bloom_params(10_000, 0.01)
    # classic sizing: ~9.59 bits/item, ~7 hashes at 1%
    assert 9 * 10_000 < m < 10 * 10_000
    assert k == 7
    # floor kicks in for tiny files
    m_small, _ = bx._bloom_params(1, 0.01)
    assert m_small == bx._bloom_params(1024, 0.01)[0]


def test_md5_mode_cross_engine_differential(spark, orders_path, tmp_path_factory):
    """hash_fn='md5' makes the whole build+probe decision pipeline
    DuckDB-replayable (the X22/X24 md5-anchor trick): position lane i of
    value v is the first 15 md5 hex digits of f'{v}:{i}' as an integer
    mod m — DuckDB computes the identical integer via CAST('0x' || hex
    AS BIGINT) (verified bit-exact).  The oracle recomputes each file's
    bit-position set from the RAW data and re-derives every probe's
    candidate file set; set equality pins the lane derivation, the use
    of m/k, and the all-k-bits candidacy rule — the differential that
    upgrades X31 from Python-reference pinning to cross-engine."""
    import os

    import duckdb

    out = str(tmp_path_factory.mktemp("bloom") / "orders_md5idx")
    idx = bx.build_bloom_index(
        spark, orders_path, "o_custkey", out_path=out, hash_fn="md5"
    )
    meta = idx.select("m", "k", "hash_fn").first()
    m, k = int(meta["m"]), int(meta["k"])
    assert meta["hash_fn"] == "md5"

    def du_lane(v_sql: str, i: int) -> str:
        return (
            f"CAST(('0x' || substring(md5({v_sql} || ':{i}'), 1, 15)) AS BIGINT)"
            f" % {m}"
        )

    con = duckdb.connect()
    lanes = ", ".join(
        du_lane("CAST(o_custkey AS VARCHAR)", i) + f" AS p{i}" for i in range(k)
    )
    con.execute(
        f"""CREATE TABLE raw AS
            SELECT parse_filename(filename) AS fname, {lanes}
            FROM read_parquet('{orders_path}/*.parquet', filename=true)
            WHERE o_custkey IS NOT NULL"""
    )
    union = " UNION ".join(f"SELECT fname, p{i} AS pos FROM raw" for i in range(k))
    con.execute(f"CREATE TABLE filepos AS {union}")

    base = spark.read.parquet(orders_path)
    present = [
        r["o_custkey"]
        for r in base.select("o_custkey").distinct().orderBy("o_custkey").limit(10).collect()
    ]
    absent = [10**9 + 7, 10**9 + 33]
    for v in present + absent:
        pos = bx.probe_positions(spark, orders_path, "o_custkey", v, m, k, "md5")
        got = sorted(
            os.path.basename(r["file"])
            for r in bx.bloom_prune(idx, pos).select("file").collect()
        )
        probes = ", ".join(du_lane(f"'{int(v)}'", i) for i in range(k))
        want = sorted(
            r[0]
            for r in con.execute(
                f"""WITH probe AS (SELECT DISTINCT unnest([{probes}]) AS pos)
                    SELECT fname FROM filepos JOIN probe USING (pos)
                    GROUP BY fname
                    HAVING COUNT(DISTINCT pos) = (SELECT COUNT(*) FROM probe)"""
            ).fetchall()
        )
        assert got == want, f"candidate drift for {v}: {got} vs {want}"
        if v in present:
            truly = sorted(
                os.path.basename(r["f"])
                for r in base.where(F.col("o_custkey") == v)
                .select(F.input_file_name().alias("f"))
                .distinct()
                .collect()
            )
            assert set(truly) <= set(got)  # Bloom: no false negatives


def test_legacy_index_without_hash_fn_column_probes_xxhash64(
    spark, orders_path, orders_index
):
    """A sidecar written before the hash_fn column existed must keep
    probing with xxhash64 (the legacy-store guard, mirroring the band
    store): drop the column and the lookup still equals a plain filter."""
    legacy = orders_index.drop("hash_fn")
    key = (
        spark.read.parquet(orders_path)
        .select("o_custkey")
        .orderBy("o_custkey")
        .first()["o_custkey"]
    )
    got = (
        bx.bloom_lookup(spark, orders_path, legacy, "o_custkey", key)
        .orderBy("o_orderkey")
        .collect()
    )
    want = (
        spark.read.parquet(orders_path)
        .where(F.col("o_custkey") == key)
        .orderBy("o_orderkey")
        .collect()
    )
    assert got == want and len(want) > 0


def test_x31_declared_query_file_count_guard(spark, tmp_path):
    """The declared x31 query refuses (loudly, BEFORE the layout write) any
    orders table whose two-level key would exceed _X31_MAX_FILES files —
    the round-10 promotion of the documented sf20 sweep cap into a guard
    (VERDICT r9 item 6).  A table with orderkeys past ~2.1M trips it."""
    from r_e_hive__spark.queries.lifecycle import (
        _X31_BLOCK,
        _X31_GROUPS,
        _X31_MAX_FILES,
        x31_bloom_index,
    )

    limit = _X31_MAX_FILES * _X31_BLOCK // _X31_GROUPS
    big = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").withColumn(
        "o_orderkey", F.col("o_orderkey") + F.lit(limit)
    )
    big.write.parquet(str(tmp_path / "orders.parquet"))
    with pytest.raises(ValueError, match="files"):
        x31_bloom_index(spark, str(tmp_path))
