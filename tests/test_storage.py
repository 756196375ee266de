"""Storage layer (r_e_hive__spark/storage.py): a path the engine cannot
read fails loudly.  Path-spelling parity (plain, ``file://``, glob
characters) is pinned in the operator tests that use the layer:
test_ranking, test_lifecycle_ops, test_layout and test_bloom_index."""

from __future__ import annotations

import pytest

from r_e_hive__spark.operators.layout import rowgroup_stats
from r_e_hive__spark.operators.lifecycle import delete_where
from r_e_hive__spark.operators.ranking import load_pruned_postings


def test_unreadable_scheme_and_missing_path_raise(spark, tmp_path):
    """An unopenable scheme and a missing path raise from every driver-side
    reader; none of them answers with zero rows or zero files."""
    readers = {
        "load_pruned_postings": lambda p: load_pruned_postings(spark, p, ["a"]),
        "delete_where": lambda p: delete_where(spark, p, "id", 1),
        "rowgroup_stats": lambda p: rowgroup_stats(p, "id"),
    }
    for read in readers.values():
        with pytest.raises(OSError, match="s3a://bucket/t"):
            read("s3a://bucket/t")
        with pytest.raises(FileNotFoundError):
            read(str(tmp_path / "missing"))
