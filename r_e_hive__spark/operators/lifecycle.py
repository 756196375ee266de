"""Table-lifecycle operators: targeted copy-on-write delete + compaction.

Two maintenance jobs every long-lived 100 TB corpus needs and plain
parquet directories don't give you:

- ``delete_where`` — GDPR/takedown-shaped row deletion.  Rewriting the
  whole table to drop one user's documents is a non-starter at scale;
  this is the lakehouse copy-on-write MERGE/DELETE pattern on bare
  parquet: read each file's FOOTER min/max for the predicate column
  (no data scan), rewrite ONLY the files whose range can contain
  matching rows, leave every other file byte-identical.  A z-ordered /
  range-clustered layout (operators/layout.py) makes the touched-file
  set small — clustering and targeted deletes compose.
- ``compact_files`` — small-file compaction.  Streaming sinks and
  per-request appends (io.append_facts) accumulate many small files;
  readers pay per-file open/footer costs and lose vectorized-scan
  efficiency.  Bin-packs the directory into ~``target_bytes`` outputs
  with one column-preserving rewrite.

Both are REPLACE-directory-contents jobs with the same atomicity
contract as the rest of io.py (SURVEY.md §2.1 S5): the rewrite lands in
a staging dir first, then files swap in one pass — a crash leaves
either the old file or the new file per path, never a half-written
parquet (writes go to staging + rename).  A real deployment would wrap
the swap in a manifest/lakehouse commit; the job structure (footer-pruned
touch set, staged rewrite) is the part that carries to 100 TB.
"""

from __future__ import annotations

import contextlib
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from r_e_hive__spark import storage


def _file_touches(f: str, col: str, lo, hi) -> bool:
    """Footer-only check: can this file contain rows with col in
    [lo, hi]?  A file without the column or a stats-less chunk
    conservatively answers yes."""
    ranges = storage.rowgroup_ranges(storage.footer(f), col)
    return ranges is None or any(
        mn is None or not (mx < lo or mn > hi) for mn, mx, _ in ranges
    )


def _swap_in(path: str, old: list, rewrite: DataFrame, tag: str) -> int:
    """Swap ``rewrite`` in for the ``old`` files (``FileInfo``) of the
    table at ``path``: stage it in a ``_``-dir inside the table (readers
    skip it), delete the old files, rename the new ones in.  Returns the
    number of new files."""
    fs, root = storage.resolve(path)
    stage = f"_{tag}_{uuid.uuid4().hex}"
    try:
        rewrite.write.mode("overwrite").parquet(f"{path.rstrip('/')}/{stage}")
        new = storage.parquet_files(f"{path.rstrip('/')}/{stage}")
        for info in old:
            fs.delete_file(info.path)
        for info in new.values():
            fs.move(info.path, f"{root}/part-{tag}-{uuid.uuid4().hex}.parquet")
    finally:
        with contextlib.suppress(FileNotFoundError):
            fs.delete_dir(f"{root}/{stage}")
    return len(new)


def delete_where(
    spark: SparkSession,
    path: str,
    col: str,
    lo,
    hi=None,
    extra_predicate: Column | None = None,
) -> dict:
    """Copy-on-write delete of rows with ``col BETWEEN lo AND hi`` (one
    value when ``hi`` is None) — plus an optional ``extra_predicate``
    conjunct — touching only the files whose footer range intersects.

    Returns {files_total, files_touched, rows_deleted}.  The untouched
    files are never read past their footers, let alone rewritten — on a
    clustered table the touch set is O(matching data), not O(table).
    """
    hi = lo if hi is None else hi
    files = storage.parquet_files(path)
    touched = [f for f in files if _file_touches(f, col, lo, hi)]
    out = {"files_total": len(files), "files_touched": 0, "rows_deleted": 0}
    if not touched:
        return out

    hit = (F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi))
    if extra_predicate is not None:
        hit = hit & extra_predicate
    # SQL DELETE semantics: a NULL predicate means "not deleted".  The
    # keep-side filter must therefore be NOT coalesce(hit, false) — a bare
    # ~hit is NULL for NULL-predicate rows and where() drops them from the
    # rewrite, silently losing data beyond the requested delete (round-5
    # ADVICE, high).  The deleted count likewise counts only hit IS TRUE.
    hit = F.coalesce(hit, F.lit(False))
    src = spark.read.parquet(*map(storage.spark_path, touched))
    n_del = src.where(hit).count()
    if n_del == 0:
        return out

    # one file per touched input keeps the layout's clustering intact
    rewrite = src.where(~hit).coalesce(len(touched))
    _swap_in(path, [files[f] for f in touched], rewrite, "cow")
    return {**out, "files_touched": len(touched), "rows_deleted": n_del}


def compact_files(
    spark: SparkSession, path: str, target_bytes: int = 128 << 20
) -> dict:
    """Bin-pack a parquet directory's small files into ~``target_bytes``
    outputs (the OPTIMIZE/compaction maintenance job).

    Only files below ``target_bytes`` participate; already-right-sized
    files stay byte-identical, so repeated compaction is idempotent and
    the job cost is O(small files), not O(table).  Returns
    {files_before, files_compacted, files_after_compaction}.
    """
    files = storage.parquet_files(path)
    small = [f for f, info in files.items() if info.size < target_bytes]
    out = {"files_before": len(files), "files_compacted": 0}
    if len(small) <= 1:
        return {**out, "files_after_compaction": 0}
    total = sum(files[f].size for f in small)
    n_out = max(1, (total + target_bytes - 1) // target_bytes)
    src = spark.read.parquet(*map(storage.spark_path, small))
    n_new = _swap_in(
        path, [files[f] for f in small], src.coalesce(n_out), "compact"
    )
    return {**out, "files_compacted": len(small), "files_after_compaction": n_new}
