"""Physical source/sink tests (SURVEY.md §2.1 S3/S4/S5 + X6 routing)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from r_e_hive__spark import io as EIO


def test_append_facts_roundtrip(spark, tmp_path):
    p = str(tmp_path / "facts")
    df = spark.range(10).select(F.col("id"), (F.col("id") % 3).alias("k"))
    EIO.append_facts(df, p)
    EIO.append_facts(df, p)
    assert spark.read.parquet(p).count() == 20


def test_partitioned_append_prunes(spark, tmp_path):
    p = str(tmp_path / "bylang")
    docs = spark.createDataFrame(
        [(i, "en" if i % 2 else "fr", f"text {i}") for i in range(40)],
        "doc_id long, lang string, text string",
    )
    EIO.append_facts(docs, p, partition_cols=("lang",))
    # hive layout on disk
    assert sorted(
        d for d in os.listdir(p) if d.startswith("lang=")
    ) == ["lang=en", "lang=fr"]
    back = spark.read.parquet(p).where(F.col("lang") == "en")
    assert back.count() == 20
    # partition pruning reaches the scan: the predicate must appear as a
    # PartitionFilters entry, not merely as a post-scan Filter (a bare
    # 'lang in plan' check is vacuously true for any lang query)
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "lang" in plan.split("PartitionFilters")[1][:200]


def test_append_returning_contiguous_ids(spark, tmp_path, path_forms):
    from r_e_hive__spark.storage import spark_path

    schema = "user_id string, message string"
    for form, p in path_forms(tmp_path, "notif").items():
        batch1 = spark.createDataFrame(
            [("u2", "m-b"), ("u1", "m-a")], schema
        )
        out1 = EIO.append_returning(
            spark, batch1, p, "id", [F.col("user_id")]
        )
        got1 = {(r["id"], r["user_id"]) for r in out1.collect()}
        # deterministic order, ids from 1
        assert got1 == {(1, "u1"), (2, "u2")}, form
        batch2 = spark.createDataFrame([("u3", "m-c")], schema)
        out2 = EIO.append_returning(spark, batch2, p, "id", [F.col("user_id")])
        assert [r["id"] for r in out2.collect()] == [3], form
        assert spark.read.parquet(spark_path(p)).count() == 3, form


def test_materialize_current_state(spark, tmp_path):
    p = str(tmp_path / "codes_current")
    events = spark.createDataFrame(
        [
            (1, "free", 10),   # code 1: redeemed at t=10
            (1, "redeemed", 20),
            (2, "free", 10),
        ],
        "code_id long, state string, ts long",
    )
    snap = EIO.materialize_current_state(
        events, p, ["code_id"], [F.desc("ts"), F.desc("state")]
    )
    cur = {r["code_id"]: r["state"] for r in spark.read.parquet(p).collect()}
    assert cur == {1: "redeemed", 2: "free"}
    assert snap.count() == 2


def test_explicit_schema_csv_json(spark, tmp_path):
    csv = tmp_path / "t.csv"
    csv.write_text("a,b\n1,x\n2,y\n")
    schema = StructType(
        [
            StructField("a", LongType(), True),
            StructField("b", StringType(), True),
        ]
    )
    df = EIO.read_csv_table(spark, str(csv), schema)
    assert [f.dataType for f in df.schema.fields] == [LongType(), StringType()]
    assert df.count() == 2

    jl = tmp_path / "t.jsonl"
    jl.write_text('{"a": 1, "b": "x"}\n{"a": 2, "b": "y"}\n')
    dj = EIO.read_json_table(spark, str(jl), schema)
    assert dj.orderBy("a").collect()[1]["b"] == "y"


def test_append_returning_corrupt_table_raises(spark, tmp_path):
    # a transient/corrupt read must PROPAGATE, never silently restart id
    # assignment at 1 (duplicate-id corruption) — ADVICE r1
    import pytest

    p = str(tmp_path / "corrupt")
    os.makedirs(p)
    with open(os.path.join(p, "part-00000.parquet"), "wb") as f:
        f.write(b"not a parquet file")
    batch = spark.createDataFrame([(7,)], "user_id long").withColumn(
        "id", F.lit(None).cast("long")
    )
    with pytest.raises(Exception) as ei:
        EIO.append_returning(spark, batch, p, "id", [F.col("user_id")])
    assert "AnalysisException" not in type(ei.value).__name__ or "PARQUET" in str(ei.value).upper()


# ---------------------------------------------------------------------------
# sequence_ids: the distributed two-phase assignment vs the window path
# ---------------------------------------------------------------------------


def test_sequence_ids_strategies_agree(spark):
    # non-trivial order: descending value with an id tiebreak, scrambled input
    df = (
        spark.range(0, 5000)
        .select(
            F.col("id"),
            ((F.col("id") * 2654435761) % 8191).alias("v"),
        )
        .repartition(16)
    )
    order = [F.desc("v"), F.asc("id")]
    small = EIO.sequence_ids(df, order, out_col="seq", distributed=False)
    big = EIO.sequence_ids(df, order, out_col="seq", distributed=True)
    a = {(r["id"], r["seq"]) for r in small.collect()}
    b = {(r["id"], r["seq"]) for r in big.collect()}
    assert a == b
    # and it is the rank in the declared total order
    ranked = sorted(small.collect(), key=lambda r: (-r["v"], r["id"]))
    assert [r["seq"] for r in ranked] == list(range(1, 5001))


def test_sequence_ids_distributed_avoids_global_window(spark):
    df = spark.range(0, 1000).select(F.col("id"), (F.col("id") % 7).alias("v"))
    plan = EIO.sequence_ids(
        df, [F.asc("v"), F.asc("id")], distributed=True
    )._jdf.queryExecution().executedPlan().toString()
    # every Window over the DATA must be keyed by _pid; the only global
    # window allowed is the prefix-sum over the per-partition counts
    import re

    for m in re.finditer(r"Window \[row_number\(\)[^\n]*", plan):
        assert "_pid" in m.group(0)


def test_sequence_ids_empty_input(spark):
    df = spark.range(0).select(F.col("id"))
    assert EIO.sequence_ids(df, [F.asc("id")], distributed=True).count() == 0


def test_write_partitioned_layout_pruning_and_dynamic_overwrite(spark, tmp_path):
    """The partitioned table layout (SURVEY.md §1.4): hive directories per
    value, reads over a partition predicate prune to matching directories
    (PartitionFilters in the scan), and dynamic overwrite replaces ONLY the
    partitions present in the incoming frame."""
    import os

    from pyspark.sql import functions as F

    from r_e_hive__spark.catalog import load_table
    from r_e_hive__spark.io import write_partitioned

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    path = str(tmp_path / "docs_by_lang")
    write_partitioned(docs, path, ["lang"])

    langs = {r["lang"] for r in docs.select("lang").distinct().collect()}
    dirs = {d for d in os.listdir(path) if d.startswith("lang=")}
    assert dirs == {f"lang={l}" for l in langs}

    # partition pruning: the physical scan carries a PartitionFilters entry
    # for the lang predicate (directory-level skip, no data read elsewhere)
    back = spark.read.parquet(path)
    one = sorted(langs)[0]
    plan = back.where(F.col("lang") == one)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "PartitionFilters" in plan and "lang" in plan.split("PartitionFilters")[1][:200]
    assert (
        back.where(F.col("lang") == one).count()
        == docs.where(F.col("lang") == one).count()
    )

    # dynamic overwrite: rewriting ONE lang's rows (doubled n_chars) must
    # leave every other partition untouched
    refreshed = docs.where(F.col("lang") == one).withColumn(
        "n_chars", F.col("n_chars") * 2
    )
    write_partitioned(refreshed, path, ["lang"], mode="overwrite", dynamic=True)
    after = spark.read.parquet(path)
    assert after.count() == docs.count()
    assert (
        after.where(F.col("lang") == one).agg(F.sum("n_chars")).first()[0]
        == docs.where(F.col("lang") == one).agg(F.sum("n_chars") * 2).first()[0]
    )
    others_before = docs.where(F.col("lang") != one).agg(F.sum("n_chars")).first()[0]
    assert after.where(F.col("lang") != one).agg(F.sum("n_chars")).first()[0] == others_before
