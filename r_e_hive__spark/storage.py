"""Driver-side storage: the one place that resolves a path to a
filesystem (``pyarrow.fs``, any scheme it opens), lists a table's parquet
files and reads footers.  An unopenable or missing path raises, naming
it — a listing is never quietly empty.  A path means what it means to
Spark: URIs are taken as written and no character is a glob.  Listed
files keep the caller's spelling, scheme included."""

from __future__ import annotations

import os
import re
from urllib.parse import quote, urlsplit

import pyarrow.fs as pafs
import pyarrow.parquet as pq

# what Hadoop's globStatus expands in a read path; a backslash escapes it
_GLOB_CHARS = re.compile(r"([\\\[\]{}*?])")


def resolve(path: str) -> tuple[pafs.FileSystem, str]:
    """(filesystem, path inside it) for a plain path or a URI."""
    parts = urlsplit(path)
    if parts.scheme:  # quoted, so '[', ' ' or '%' name themselves
        uri = parts._replace(path=quote(parts.path)).geturl()
    else:
        uri = os.path.abspath(path)  # from_uri rejects relative paths
    try:
        return pafs.FileSystem.from_uri(uri)
    except (ValueError, OSError) as e:  # ArrowInvalid is a ValueError
        raise OSError(f"cannot open {path}: {e}") from e


def parquet_files(path: str) -> dict[str, pafs.FileInfo]:
    """Caller-spelled path -> ``FileInfo`` of each ``*.parquet`` data file
    under ``path``, sorted; a file lists itself.  Like Spark's reader it
    skips names starting with '.' or '_' (but not ``_k=v`` partitions)."""
    fs, root = resolve(path)
    info = fs.get_file_info(root)
    if info.type == pafs.FileType.NotFound:
        raise FileNotFoundError(f"no such file or directory: {path}")
    if info.type == pafs.FileType.File:
        return {path: info}
    base, root = path.rstrip("/"), root.rstrip("/")
    out = {}
    for i in fs.get_file_info(pafs.FileSelector(root, recursive=True)):
        rel = i.path[len(root) :]
        hidden = any(
            p[:1] == "." or (p[:1] == "_" and "=" not in p)
            for p in rel.split("/")
        )
        if i.type == pafs.FileType.File and rel.endswith(".parquet") and not hidden:
            out[base + rel] = i
    return dict(sorted(out.items()))


def footer(path: str) -> pq.FileMetaData:
    """The parquet footer (row groups, statistics, schema) of one file."""
    fs, p = resolve(path)
    return pq.read_metadata(p, filesystem=fs)


def rowgroup_ranges(meta: pq.FileMetaData, col: str) -> list[tuple] | None:
    """(min, max, n_rows) of ``col`` per row group of a footer — min/max
    None where the chunk has no statistics; None if the column is absent."""
    names = {meta.schema.column(i).name: i for i in range(meta.num_columns)}
    if col not in names:
        return None
    out = []
    for rg in range(meta.num_row_groups):
        group = meta.row_group(rg)
        st = group.column(names[col]).statistics
        ok = st is not None and st.has_min_max
        out.append((st.min if ok else None, st.max if ok else None, group.num_rows))
    return out


def spark_path(path: str) -> str:
    """``path`` for ``spark.read``, its glob characters escaped so the
    read names this one path."""
    return _GLOB_CHARS.sub(r"\\\1", path)
