"""Persistent Hive-metastore catalog tests (VERDICT round-2 item 4).

``spark.sql.catalogImplementation`` is a static conf — it cannot be enabled
on the suite's shared session — and embedded Derby allows one live
connection per JVM.  So the create → STOP → new session → query-by-name
round trip runs in a SUBPROCESS with its own sequential SparkSessions; the
test asserts on its structured output.  This is a real restart (new JVM,
new context), not a ``newSession()`` alias.
"""

from __future__ import annotations

import json
import subprocess
import sys

_SCRIPT = r"""
import json, sys
warehouse, sf_dir = sys.argv[1], sys.argv[2]

from r_e_hive__spark.metastore import (
    analyze_tables, get_hive_spark, persist_testdata, table_row_count_stat,
)

# --- session 1: create tables, analyze, stop -------------------------------
spark = get_hive_spark(warehouse, app_name="ms-create")
persisted = persist_testdata(spark, sf_dir, tables=("region", "nation", "customer"))
analyze_tables(spark, ("region", "nation", "customer"))
n_customer_1 = spark.table("customer").count()
stat_rows = table_row_count_stat(spark, "customer")
spark.stop()

# --- session 2: fresh context over the same warehouse ----------------------
spark2 = get_hive_spark(warehouse, app_name="ms-reopen")
tables = sorted(t.name for t in spark2.catalog.listTables())
n_customer_2 = spark2.table("customer").count()
joined = spark2.sql(
    "SELECT r.r_name, COUNT(*) AS n FROM customer c "
    "JOIN nation n ON c.c_nationkey = n.n_nationkey "
    "JOIN region r ON n.n_regionkey = r.r_regionkey "
    "GROUP BY r.r_name ORDER BY r.r_name"
).collect()
is_hive = spark2.conf.get("spark.sql.catalogImplementation")
cbo = spark2.conf.get("spark.sql.cbo.enabled")
spark2.stop()

print("RESULT:" + json.dumps({
    "persisted": persisted,
    "tables_after_restart": tables,
    "n_customer_1": n_customer_1,
    "n_customer_2": n_customer_2,
    "stat_rows": stat_rows,
    "n_regions_joined": len(joined),
    "catalog_impl": is_hive,
    "cbo": cbo,
}))
"""


def test_q5_gate_prefers_analyze_stats(spark):
    """VERDICT r3 item 4: with ANALYZE stats in the session catalog the q5
    join-strategy gate reads the catalog rowCount (zero fact-table jobs);
    stat-less sessions (the driver's vanilla temp-view catalog) fall back to
    the probe counts.  Uses the in-memory session catalog — same DESCRIBE
    EXTENDED statistics surface as the Hive metastore, no Derby needed."""
    from r_e_hive__spark.catalog import load_table, session_memo
    from r_e_hive__spark.queries import RETIRED, load_all
    from r_e_hive__spark.queries import aggregates as agg

    sf = "/root/testdata/sf0.001"
    key = ("broadcast_gate", "q5", sf)
    # q5 retired round 8 second wave; gate coverage continues via RETIRED
    q5 = {**load_all(), **RETIRED}["q5_local_supplier"]

    # stat-less: probe fallback
    session_memo(spark).pop(key, None)
    q5.spark_fn(spark, sf)
    assert session_memo(spark)[key][1] == "probe"

    orders = load_table(spark, sf, "orders")
    try:
        orders.write.mode("overwrite").saveAsTable("orders")
        # qualified name: the declared-query temp view must not shadow
        spark.sql("ANALYZE TABLE spark_catalog.default.orders COMPUTE STATISTICS")
        n = agg._analyzed_row_count(spark, "orders")
        assert n == orders.count()

        session_memo(spark).pop(key, None)
        df = q5.spark_fn(spark, sf)
        assert session_memo(spark)[key][1] == "stats"
        # and the stats-driven decision still yields the correct broadcast
        # plan + correct rows at this scale
        assert session_memo(spark)[key][0] is True
        assert df.count() > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS spark_catalog.default.orders")
        session_memo(spark).pop(key, None)


def test_analyzed_row_count_trusts_directory_table_bytes(spark, tmp_path):
    """The stats-trust band compares the catalog's byte size with the
    sf_dir table's parquet bytes.  For a Spark-written table DIRECTORY
    those are the sum of its data files — the directory entry's own size
    (4096 on ext4) would put a correct ANALYZE row count outside the 8×
    band and send the gate back to probe jobs."""
    from r_e_hive__spark.queries import aggregates as agg

    rows = spark.range(100_000).selectExpr("id", "id % 97 AS v")
    rows.write.parquet(str(tmp_path / "dir_sized.parquet"))
    try:
        rows.write.mode("overwrite").saveAsTable("dir_sized")
        spark.sql("ANALYZE TABLE spark_catalog.default.dir_sized COMPUTE STATISTICS")
        assert agg._analyzed_row_count(spark, "dir_sized", str(tmp_path)) == 100_000
    finally:
        spark.sql("DROP TABLE IF EXISTS spark_catalog.default.dir_sized")


def test_bucketed_join_plans_with_zero_exchange(spark):
    """Co-located join via bucketing (SURVEY.md §1.4): orders and lineitem
    bucketed on the order key join with NO Exchange on either side — the
    100 TB fact-fact join with the per-query shuffle amortized into the
    write.  Broadcast is disabled for the assertion so the plan must be a
    sort-merge join; at real scale neither side is broadcastable anyway."""
    from r_e_hive__spark.metastore import persist_bucketed

    sf = "/root/testdata/sf0.001"
    names = []
    try:
        names = persist_bucketed(
            spark, sf, specs={"orders": "o_orderkey", "lineitem": "l_orderkey"},
            buckets=4,
        )
        with _no_broadcast(spark):
            joined = (
                spark.table("orders_b")
                .join(
                    spark.table("lineitem_b"),
                    spark.table("orders_b")["o_orderkey"]
                    == spark.table("lineitem_b")["l_orderkey"],
                )
                .groupBy("o_orderstatus")
                .count()
            )
            plan = joined._jdf.queryExecution().executedPlan().toString()
            # the join itself is exchange-free; only the tiny post-join
            # groupBy (on a different key) may shuffle its partials
            join_part = plan.split("HashAggregate")[-1]
            assert "SortMergeJoin" in plan
            assert "Exchange" not in join_part, join_part
            n = joined.count()
        # parity with the unbucketed path
        from r_e_hive__spark.catalog import load_table

        o, l = load_table(spark, sf, "orders"), load_table(spark, sf, "lineitem")
        expect = (
            o.join(l, o["o_orderkey"] == l["l_orderkey"])
            .groupBy("o_orderstatus")
            .count()
            .count()
        )
        assert n == expect > 0
    finally:
        for t in names:
            spark.sql(f"DROP TABLE IF EXISTS spark_catalog.default.{t}")


def _no_broadcast(spark):
    from contextlib import contextmanager

    @contextmanager
    def _cm():
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            yield
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    return _cm()


def test_hive_catalog_survives_session_restart(tmp_path):
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT, str(tmp_path / "wh"), "/root/testdata/sf0.001"],
        capture_output=True,
        text=True,
        timeout=600,
        cwd="/tmp",  # NOT the repo: the package must ship via its install path
        env={
            **__import__("os").environ,
            "PYTHONPATH": "/root/repo",
        },
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    line = [l for l in proc.stdout.splitlines() if l.startswith("RESULT:")][-1]
    out = json.loads(line[len("RESULT:"):])
    assert out["catalog_impl"] == "hive"
    assert out["cbo"] == "true"
    assert set(out["persisted"]) == {"region", "nation", "customer"}
    # the second, restarted session sees the tables by NAME from the metastore
    assert {"region", "nation", "customer"} <= set(out["tables_after_restart"])
    assert out["n_customer_1"] == out["n_customer_2"] > 0
    # ANALYZE landed: the metastore carries a real rowCount for the CBO
    assert out["stat_rows"] == out["n_customer_1"]
    assert out["n_regions_joined"] == 5
