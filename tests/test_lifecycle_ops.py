"""Targeted copy-on-write delete + compaction (operators/lifecycle.py).

The scale property under test: delete touches ONLY footer-intersecting
files (untouched files stay byte-identical), and compaction only
rewrites the small ones — both jobs are O(affected data), not O(table).
"""

from __future__ import annotations

from pyarrow.fs import FileSelector
from pyspark.sql import functions as F

from r_e_hive__spark.catalog import load_table
from r_e_hive__spark.operators.layout import zorder_by
from r_e_hive__spark.operators.lifecycle import compact_files, delete_where
from r_e_hive__spark.storage import parquet_files, resolve, spark_path

SF = "/root/testdata/sf0.01"


def _write_clustered(spark, d):
    ev = load_table(spark, SF, "events").select("event_id", "user_id", "value")
    # range-cluster by user_id -> tight per-file user_id footers
    ev.repartitionByRange(16, F.col("user_id")).sortWithinPartitions(
        "user_id"
    ).write.parquet(d)
    return ev


def _stamps(d):
    """path -> (size, mtime) of every data file: 'byte-identical' proxy."""
    return {f: (i.size, i.mtime_ns) for f, i in parquet_files(d).items()}


def test_delete_where_touches_only_intersecting_files(
    spark, tmp_path, path_forms
):
    for form, d in path_forms(tmp_path, "tbl").items():
        ev = _write_clustered(spark, d)
        before = _stamps(d)
        lo, hi = ev.agg(F.min("user_id"), F.max("user_id")).collect()[0]
        mid = (lo + hi) // 2
        n_match = ev.where(F.col("user_id") == mid).count()
        assert n_match > 0

        out = delete_where(spark, d, "user_id", mid)
        assert out["rows_deleted"] == n_match, form
        assert out["files_total"] == len(before), form
        # clustered table: one user's range lives in very few files
        assert 1 <= out["files_touched"] <= 3, (form, out)
        # untouched files byte-identical (same path, size, mtime)
        after = _stamps(d)
        untouched = [f for f in before if f in after]
        assert len(untouched) == out["files_total"] - out["files_touched"]
        for f in untouched:
            assert after[f] == before[f], (form, f)
        # data parity: remaining rows == original minus the deleted key
        got = spark.read.parquet(spark_path(d))
        assert got.count() == ev.count() - n_match, form
        assert got.where(F.col("user_id") == mid).count() == 0, form
        # exact content check on a fingerprint (order-insensitive; the
        # float sum rounds per determinism rule 3 — summation order differs)
        want = ev.where(F.col("user_id") != mid)
        fp = lambda df: df.agg(  # noqa: E731
            F.sum(F.hash("event_id", "user_id")), F.round(F.sum("value"), 3)
        ).collect()
        assert fp(got) == fp(want), form


def test_delete_where_no_match_is_a_noop(spark, tmp_path):
    d = str(tmp_path / "tbl")
    _write_clustered(spark, d)
    before = _stamps(d)
    out = delete_where(spark, d, "user_id", 10**12)
    assert out == {
        "files_total": len(before),
        "files_touched": 0,
        "rows_deleted": 0,
    }
    assert _stamps(d) == before


def test_delete_where_extra_predicate(spark, tmp_path):
    d = str(tmp_path / "tbl")
    ev = _write_clustered(spark, d)
    lo, hi = ev.agg(F.min("user_id"), F.max("user_id")).collect()[0]
    n = ev.where((F.col("user_id") == lo) & (F.col("value") > 0)).count()
    out = delete_where(
        spark, d, "user_id", lo, extra_predicate=F.col("value") > 0
    )
    assert out["rows_deleted"] == n
    left = spark.read.parquet(d).where(F.col("user_id") == lo)
    assert left.where(F.col("value") > 0).count() == 0
    assert left.count() == ev.where(F.col("user_id") == lo).count() - n


def test_delete_where_keeps_null_predicate_rows(spark, tmp_path):
    """SQL DELETE semantics: rows where the predicate evaluates NULL are
    NOT deleted.  A touched file's NULL-predicate rows must survive the
    rewrite (round-5 ADVICE: bare ~hit was NULL there and dropped them),
    both for a NULL in the range column and a NULL in extra_predicate."""
    rows = [
        (1, 10, -1.0),    # range col matches, extra false -> keep
        (2, None, 2.0),   # NULL range col: hit is NULL -> keep
        (3, 10, None),    # NULL extra-predicate col: hit is NULL -> keep
        (4, 10, 5.0),     # true hit -> delete
        (5, 99, 3.0),     # false hit -> keep
    ]
    d = str(tmp_path / "nulls")
    spark.createDataFrame(
        rows, "event_id INT, user_id INT, value DOUBLE"
    ).coalesce(1).write.parquet(d)
    out = delete_where(
        spark, d, "user_id", 10, extra_predicate=F.col("value") > 0
    )
    assert out["rows_deleted"] == 1
    got = sorted(
        r["event_id"] for r in spark.read.parquet(d).collect()
    )
    assert got == [1, 2, 3, 5]


def test_compact_files_binpacks_and_is_idempotent(spark, tmp_path, path_forms):
    ev = load_table(spark, SF, "events").select("event_id", "user_id", "value")
    n0 = ev.count()
    fp = ev.agg(F.sum(F.hash("event_id", "user_id"))).collect()
    for form, d in path_forms(tmp_path, "frag").items():
        ev.repartition(64).write.parquet(d)  # 64 tiny files
        out = compact_files(spark, d, target_bytes=1 << 20)
        assert out["files_compacted"] == 64, form
        assert out["files_after_compaction"] < 64, form
        assert len(parquet_files(d)) == out["files_after_compaction"], form
        # the staging dir the rewrite landed in (inside the table) is gone
        fs, root = resolve(d)
        names = [i.base_name for i in fs.get_file_info(FileSelector(root))]
        assert not [n for n in names if n.startswith("_compact")], (form, names)
        got = spark.read.parquet(spark_path(d))
        assert got.count() == n0, form
        assert got.agg(F.sum(F.hash("event_id", "user_id"))).collect() == fp
        # second pass: everything already >= target or a single small file
        out2 = compact_files(spark, d, target_bytes=1 << 20)
        assert out2["files_compacted"] in (0, out["files_after_compaction"])
        assert spark.read.parquet(spark_path(d)).count() == n0, form