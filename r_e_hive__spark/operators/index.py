"""File-level Bloom-filter index: hash-based data skipping for point
lookups (X31).

The 100 TB problem this solves: z-order/min-max skipping (X13,
``operators.layout``) prunes row groups only when the predicate column is
one the layout was clustered on — a point lookup on any OTHER
high-cardinality column (``o_custkey`` on an ``o_orderdate``-clustered
orders table, a doc_id on a source-clustered corpus) still scans every
file, because every file's min/max spans the whole domain.  A per-file
Bloom filter answers "might this file contain value v?" with no false
negatives, so the lookup reads only the files that actually hold v plus
an fpp-bounded handful of false positives.  This is the construction
behind Delta's bloom-filter index and parquet's own column bloom filters
(which pyspark's writer does not expose); here the index is an ordinary
parquet sidecar table the engine builds and probes itself.

Build is one scan: k positions per row as ``pmod(xxhash64(col, i), m)``
expressions (JVM-side, whole-stage codegen), packed into 64-bit words by
a map-side-combined ``bit_or`` — the shuffle carries at most
``m/64`` words per file, not one row per value.  Probe hashes the lookup
value THROUGH THE SAME Spark expressions (a one-row job — computing
xxhash64 in Python would re-implement the JVM hash and silently drift),
keeps the files whose bitmap has all k bits set, and hands the pruned
file list to an ordinary parquet read, where the equality predicate
still pushes down to row-group stats inside each kept file.

Sizing uses the classic formulas per file (n = max rows in any data
file, from footers only): m = ceil(-n ln fpp / ln^2 2), k = round(m/n
ln 2).  Rows are an upper bound on per-file distincts, so real fpp is at
most the target.  NULLs are not indexed — an equality probe can never
select them (``col = NULL`` is never true), and hashing them would pile
every null onto one word (Spark's multi-arg xxhash64 skips null inputs —
the ``operators.reconcile`` lesson).
"""

from __future__ import annotations

import math
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from r_e_hive__spark import storage

# hard floor keeps tiny tables from degenerate m (and the probe cheap);
# ceiling caps k at parquet-bloom-typical depth.
_MIN_ITEMS = 1024
_MAX_K = 8


def _bloom_params(n_items: int, fpp: float) -> tuple[int, int]:
    n = max(int(n_items), _MIN_ITEMS)
    if not 0.0 < fpp < 1.0:
        raise ValueError(f"fpp must be in (0, 1), got {fpp}")
    m = math.ceil(-n * math.log(fpp) / (math.log(2) ** 2))
    k = min(_MAX_K, max(1, round(m / n * math.log(2))))
    return m, k


def _max_file_rows(table_path: str) -> int:
    """Largest row count of any data file under ``table_path`` — footers
    only, no data scan (the ``layout.rowgroup_stats`` discipline)."""
    files = storage.parquet_files(table_path)
    if not files:
        raise ValueError(f"no parquet files under {table_path}")
    return max(storage.footer(f).num_rows for f in files)


_HASH_FNS = ("xxhash64", "md5")


def _positions(col, m: int, k: int, hash_fn: str = "xxhash64") -> list:
    """k bit positions for one value — k independent-enough hash lanes
    from one primitive, seed index as a hashed input.

    ``hash_fn="xxhash64"`` is the production lane (JVM, codegen, hashes
    the native type).  ``hash_fn="md5"`` is the cross-engine mode (the
    X22/X24 anchor trick): position = first 15 hex digits of
    md5(str(value) || ':' || lane) as an integer, mod m — DuckDB computes
    the identical value via CAST('0x' || substring(md5(..), 1, 15) AS
    BIGINT) (verified bit-exact), so the whole build+probe decision
    pipeline is oracle-replayable.  md5 mode hashes the STRING rendering;
    use it on integer/string key columns, where both engines render
    identically (doubles render differently — keep those on xxhash64)."""
    if hash_fn == "xxhash64":
        return [F.pmod(F.xxhash64(col, F.lit(i)), F.lit(m)) for i in range(k)]
    if hash_fn != "md5":
        raise ValueError(f"hash_fn must be one of {_HASH_FNS}, got {hash_fn!r}")
    return [
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat(col.cast("string"), F.lit(f":{i}"))), 1, 15
                ),
                16,
                10,
            ).cast("long"),
            F.lit(m),
        )
        for i in range(k)
    ]


def build_bloom_index(
    spark: SparkSession,
    table_path: str,
    col: str,
    *,
    fpp: float = 0.01,
    out_path: str | None = None,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Build the per-file Bloom bitmap table for ``col``.

    Returns (and, with ``out_path``, persists) one row per data file:
    ``(file, words: map<int, long>, m, k, col, hash_fn)`` — ``words``
    maps word index to a 64-bit lane of the bitmap; absent word = all
    zeros, so index size tracks bits actually set, not m.  ``m``/``k``/
    ``col``/``hash_fn`` ride on every row to make the sidecar
    self-describing (no separate meta file to lose; the probe derives
    its hash lanes from the index metadata, never from caller arguments
    — the band-store lesson, a build/probe hash mismatch must be
    structurally impossible).
    """
    df = spark.read.parquet(storage.spark_path(table_path))
    if col not in df.columns:
        raise ValueError(f"column {col!r} not in table at {table_path}")
    if hash_fn not in _HASH_FNS:
        raise ValueError(f"hash_fn must be one of {_HASH_FNS}, got {hash_fn!r}")
    if hash_fn == "md5":
        # md5 mode hashes the STRING rendering; float/double/timestamp
        # render differently across engines, which would silently lose the
        # mode's whole point — cross-engine replayability (ADVICE r8).
        bad = ("float", "double", "timestamp")
        dt = df.schema[col].dataType.simpleString()
        if any(dt.startswith(b) for b in bad):
            raise ValueError(
                f"hash_fn='md5' requires an integer/string/date key column; "
                f"{col!r} is {dt} (its string rendering is not engine-"
                f"portable — use hash_fn='xxhash64')"
            )
    m, k = _bloom_params(_max_file_rows(table_path), fpp)

    pos = F.explode(F.array(*_positions(F.col(col), m, k, hash_fn))).alias("_pos")
    bits = (
        df.where(F.col(col).isNotNull())
        .select(F.input_file_name().alias("file"), pos)
        .select(
            "file",
            F.expr("cast(_pos div 64 as int)").alias("word"),
            # pyspark's shiftleft wrapper takes a Python-int shift; the SQL
            # form accepts a column shift.
            F.expr("shiftleft(1L, cast(_pos % 64 as int))").alias("mask"),
        )
        # map-side combine collapses k*rows down to <= m/64 words per
        # (file, word) before the shuffle — the aggregate, not the data,
        # crosses the wire.
        .groupBy("file", "word")
        .agg(F.bit_or("mask").alias("mask"))
        .groupBy("file")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("word"), F.col("mask")))
            ).alias("words")
        )
        .select(
            "file",
            "words",
            F.lit(m).alias("m"),
            F.lit(k).alias("k"),
            F.lit(col).alias("col"),
            F.lit(hash_fn).alias("hash_fn"),
        )
    )
    if out_path is not None:
        bits.write.mode("overwrite").parquet(out_path)
        return spark.read.parquet(storage.spark_path(out_path))
    return bits


def probe_positions(
    spark: SparkSession,
    table_path: str,
    col: str,
    value,
    m: int,
    k: int,
    hash_fn: str = "xxhash64",
) -> list[int]:
    """The k bit positions ``value`` hashes to — computed by the SAME
    Spark expressions the build used, on a one-row frame (a deliberate
    tiny driver job: re-implementing xxhash64 in Python would drift).
    The literal is cast to the table column's type first; hashing
    ``lit(5)`` as int vs the column's bigint gives different bits.
    """
    dtype = spark.read.parquet(storage.spark_path(table_path)).schema[col].dataType
    probe = F.lit(value).cast(dtype)
    row = spark.range(1).select(*_positions(probe, m, k, hash_fn)).first()
    return [int(v) for v in row]


def bloom_prune(index: DataFrame, positions: list[int]) -> DataFrame:
    """Index rows whose bitmap has every probed bit set — the files a
    lookup must still read.  No false negatives by Bloom construction."""
    cond = F.lit(True)
    for p in positions:
        word, bit = p // 64, p % 64
        lane = F.coalesce(F.element_at(F.col("words"), F.lit(word)), F.lit(0))
        cond = cond & (
            lane.bitwiseAND(F.shiftleft(F.lit(1).cast("long"), bit)) != 0
        )
    return index.where(cond)


def bloom_lookup(
    spark: SparkSession,
    table_path: str,
    index: DataFrame,
    col: str,
    value,
) -> DataFrame:
    """Point lookup ``col = value`` reading only Bloom-surviving files.

    The kept-file list is collected driver-side — it is O(#files), the
    same scale as the file listing every parquet read already does, not
    O(rows).  Equality still pushes down into each kept file's row-group
    stats, so skipping composes: Bloom drops files, min/max drops row
    groups inside the survivors.
    """
    if value is None:
        raise ValueError("bloom_lookup probes equality; col = NULL is never true")
    # hash_fn from the sidecar itself — pre-hash_fn indexes (no such
    # column) are xxhash64 by construction (the legacy-store guard)
    cols = ["m", "k", "col"] + (["hash_fn"] if "hash_fn" in index.columns else [])
    meta = index.select(*cols).first()
    base = spark.read.parquet(storage.spark_path(table_path))
    if meta is None:
        return base.where(F.col(col) == F.lit(value)).limit(0)
    if meta["col"] != col:
        raise ValueError(f"index is over {meta['col']!r}, probe is on {col!r}")
    hash_fn = meta["hash_fn"] if "hash_fn" in index.columns else "xxhash64"
    pos = probe_positions(
        spark, table_path, col, value, int(meta["m"]), int(meta["k"]), hash_fn
    )
    # ``file`` holds input_file_name()'s percent-encoded URI
    kept = [
        storage.spark_path(unquote(r["file"]))
        for r in bloom_prune(index, pos).select("file").collect()
    ]
    if not kept:
        return base.where(F.col(col) == F.lit(value)).limit(0)
    return (
        spark.read.schema(base.schema)
        .parquet(*kept)
        .where(F.col(col) == F.lit(value))
    )


def bloom_skip_fraction(index: DataFrame, positions: list[int]) -> float:
    """Fraction of data files the probe skips (1.0 = read nothing) — the
    figure of merit the tests and BASELINE.md pin, mirroring
    ``layout.rowgroup_skip_fraction``."""
    total = index.count()
    if total == 0:
        return 0.0
    return 1.0 - bloom_prune(index, positions).count() / total
