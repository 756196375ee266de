"""Catalog: register Parquet-backed tables as Spark SQL views.

The reference declares its nine tables in code and hands execution to
Postgres (render-complete-deploy.js:31-145); here the analogous role is
played by the Spark session catalog.  ``register_testdata`` makes the
driver's parquet tables queryable by name from both the DataFrame API and
``spark.sql`` — the same dual surface the reference exposes through
Drizzle's builder + raw-SQL escape hatch.

At 100 TB scale these would be external Hive-metastore tables partitioned
by date; the read path (``spark.read.parquet`` + explicit schema) is
identical, so nothing downstream changes.
"""

from __future__ import annotations

import atexit
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampType

from r_e_hive__spark.schemas import TESTDATA_SCHEMAS

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Runtime-settable SQL confs the declared queries depend on for determinism.
# The driver may hand us a vanilla session built without our factory
# (session.get_spark), so every load path re-pins these defensively.
_REQUIRED_CONFS = {
    # testdata parquet stores TIMESTAMP(NANOS); read as long, convert below
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # exact decimal arithmetic — keeps decimal(38,12) accumulators stable
    # instead of silently dropping scale (SURVEY.md §1.3)
    "spark.sql.decimalOperations.allowPrecisionLoss": "false",
    # all declared queries pin UTC (SURVEY.md §2.12 determinism rules)
    "spark.sql.session.timeZone": "UTC",
    # Spark 4 flipped the default to true; pin it so div-by-zero/overflow/
    # cast semantics (error vs NULL) do not depend on which Spark the
    # driver ships — the engine is developed and tested under ANSI on
    "spark.sql.ansi.enabled": "true",
    # the SQL renderers (vector.py *_sql, text.tokens_sql/shingles_sql,
    # ranking.tokenize_sql, all literals via functions.str_lit_sql) embed
    # regexes and term literals that assume the parser's DEFAULT escape
    # processing; a caller session with legacy escaping enabled would
    # silently change tokenization / shingling semantics relative to the
    # Python regex constants they render (ADVICE r11)
    "spark.sql.parser.escapedStringLiterals": "false",
}


def ensure_session_confs(spark: SparkSession) -> None:
    """Pin determinism-critical runtime confs on a possibly-vanilla session."""
    memo = session_memo(spark)
    if ("confs",) in memo:
        return
    for k, v in _REQUIRED_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass
    _ship_package(spark)
    memo[("confs",)] = True


def remove_at_exit(path: str) -> None:
    """Delete ``path`` — a file or a directory tree this process wrote —
    when the interpreter exits."""

    def _remove() -> None:
        if os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
        elif os.path.exists(path):
            os.remove(path)

    atexit.register(_remove)


def _ship_package(spark: SparkSession) -> None:
    """Make ``r_e_hive__spark`` importable inside Python workers.

    A vanilla driver session (the grading driver, a spark-submit job) may have
    this package on the *driver's* sys.path only; closures that reference
    package functions (mapInPandas metadata extraction, stateful streaming)
    are pickled by module reference and the worker must import them.  Zip the
    package once and ``addPyFile`` it — the same mechanism used to deploy the
    engine to a real cluster.  Reached once per context, through the conf
    pin.
    """
    try:
        sc = spark.sparkContext
    except Exception:  # Connect-only session: workers share server-side path
        return
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join(
        tempfile.gettempdir(), f"r_e_hive__spark_pyfiles_{os.getpid()}.zip"
    )
    if not os.path.exists(zip_path):
        tmp = zip_path + ".tmp"
        with zipfile.ZipFile(tmp, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for fn in files:
                    if fn.endswith(".py"):
                        full = os.path.join(root, fn)
                        rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                        zf.write(full, rel)
        os.replace(tmp, zip_path)
    remove_at_exit(zip_path)
    try:
        sc.addPyFile(zip_path)
    except Exception:
        pass


# ---------------------------------------------------------------------------
# Catalog-level table cache.
#
# The driver's testdata parquet files each contain a SINGLE row group, so a
# raw scan cannot parallelize beyond one task per file regardless of core
# count — an artifact of tiny test files, not of the design (real lakehouse
# files carry one row group per ~128 MB and split naturally).  For such
# sub-gigabyte tables the catalog rebalances to the session's parallelism and
# pins the result in the in-memory columnar cache, so every subsequent query
# runs fully parallel from memory — the same role the buffer pool / local SSD
# cache plays in a warehouse.  Tables above the size cutoff are returned as
# plain scans: at 100 TB the data must stream from storage with predicate
# pushdown, never be pinned wholesale.
# ---------------------------------------------------------------------------

_CACHE_TABLES = os.environ.get("SPARK_GRAFT_CACHE_TABLES", "1") != "0"
_CACHE_MAX_BYTES = int(os.environ.get("SPARK_GRAFT_CACHE_MAX_BYTES", str(1 << 30)))
_MIN_SPLIT_BYTES = 512 * 1024  # ≥512 KB of parquet per rebalanced partition


def nanos_long_to_ts(col_name: str):
    """INT64 TIMESTAMP(NANOS) column (surfaced as long under nanosAsLong)
    → TimestampType micros.  INTEGER division: double division loses
    precision at e18-scale nanos (off-by-one micros).  The ONE place this
    rule lives — load_table and streaming.read_event_stream both use it."""
    return F.timestamp_micros(F.expr(f"`{col_name}` div 1000"))


def _ctx_id(spark: SparkSession) -> tuple:
    """Stable identity for the underlying context.

    (applicationId, startTime) — never ``id()`` of a Python wrapper: CPython
    reuses object ids after GC, which could alias a fresh context to a stale
    cache entry holding DataFrames bound to a dead JVM.
    """
    try:
        sc = spark.sparkContext
        return (sc.applicationId, sc.startTime)
    except Exception:  # Spark Connect: no local context object
        # the server-assigned session id is stable and never recycled the
        # way CPython object ids are; id() only as the very last resort
        for attr in ("session_id",):
            sid = getattr(spark, attr, None)
            if sid:
                return ("connect", str(sid))
        return (id(spark),)


# _ctx_id -> that context's memo; at most one entry, the live context
_memo: dict[tuple, dict] = {}


def session_memo(spark: SparkSession) -> dict:
    """The driver-side decisions remembered for ``spark``'s context: the
    conf pin, loaded tables, text densities, broadcast gates, on-disk
    indexes — each under a key whose first element names the kind.  The
    first call for a new context drops every other context's entries: a
    context id never repeats, so they are unreachable, and they would keep
    a dead JVM's DataFrames referenced."""
    ctx = _ctx_id(spark)
    memo = _memo.get(ctx)
    if memo is None:
        _memo.clear()
        memo = _memo[ctx] = {}
    return memo


def clear_table_cache() -> None:
    """Unpersist and forget every table ``load_table`` cached."""
    for memo in _memo.values():
        for key in [k for k in memo if k[0] == "table"]:
            try:  # release executor storage, not just the Python reference
                memo.pop(key).unpersist()
            except Exception:
                pass


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver parquet table, normalized to its declared schema.

    The testdata parquet stores timestamps as INT64 TIMESTAMP(NANOS), which
    Spark has no native type for: with ``spark.sql.legacy.parquet.nanosAsLong``
    they surface as LongType nanoseconds, converted here to TimestampType
    (micros, truncating — identical to how DuckDB reads the same files).
    Column pruning/pushdown still applies: the conversion is a projection on
    top of the parquet scan.
    """
    ensure_session_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    memo = session_memo(spark)
    key = ("table", os.path.abspath(sf_dir), name)
    cached = memo.get(key)
    if cached is not None:
        return cached
    df = spark.read.parquet(path)
    target = TESTDATA_SCHEMAS.get(name)
    if target is not None:
        actual = {f.name: f.dataType for f in df.schema.fields}
        cols = []
        for f in target.fields:
            c = F.col(f.name)
            if isinstance(f.dataType, TimestampType) and isinstance(
                actual.get(f.name), LongType
            ):
                c = nanos_long_to_ts(f.name)
            elif actual.get(f.name) != f.dataType:
                c = c.cast(f.dataType)
            cols.append(c.alias(f.name))
        df = df.select(*cols)

    size = os.path.getsize(path) if os.path.isfile(path) else _CACHE_MAX_BYTES
    if _CACHE_TABLES and size < _CACHE_MAX_BYTES:
        try:
            cores = spark.sparkContext.defaultParallelism
        except Exception:
            cores = 8
        parts = min(cores, max(2, size // _MIN_SPLIT_BYTES))
        if parts > 1:
            df = df.repartition(parts)
        df = df.cache()
    memo[key] = df
    return df


def register_testdata(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, tables: tuple[str, ...] | None = None
) -> dict[str, DataFrame]:
    """Register every driver table as a temp view; returns name → DataFrame."""
    out: dict[str, DataFrame] = {}
    for name in (tuple(TESTDATA_SCHEMAS) if tables is None else tables):
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
