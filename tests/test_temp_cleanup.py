"""Temp files the engine writes per process are deleted at interpreter
exit: the package zip shipped to Python workers
(``catalog._ship_package``), the persisted BM25 index of the fast x23
path (``queries.fastpaths._bm25_disk_index``) and the blob fixtures of
the multimodal queries (``queries.multimodal._blob_dir``).  Files of
other processes stay."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# fakes stand in for the session and the index build, so no JVM starts;
# the blob fixture writers are pure Python
_SCRIPT = r"""
import os, sys, types
from r_e_hive__spark import catalog
from r_e_hive__spark.operators import ranking
from r_e_hive__spark.queries import fastpaths

sc = types.SimpleNamespace(applicationId="local-test", startTime=1,
                           addPyFile=lambda path: None)
spark = types.SimpleNamespace(sparkContext=sc)
catalog._ship_package(spark)
zip_path = os.path.join(os.environ["TMPDIR"], f"r_e_hive__spark_pyfiles_{os.getpid()}.zip")
assert os.path.isfile(zip_path), zip_path

class Docs:
    def select(self, *cols):
        return self

def save_postings(df, text_col, id_col, path):
    os.makedirs(path)
    open(os.path.join(path, "part-0"), "w").close()

ranking.save_postings = save_postings
fastpaths.T = lambda spark, sf_dir, *names: (Docs(),)
path = fastpaths._bm25_disk_index(spark, "/sf")
assert os.path.isdir(path), path

from r_e_hive__spark.queries import multimodal
blobs = multimodal._blob_dir()
assert os.listdir(blobs), blobs
"""


def test_temp_files_removed_at_exit(tmp_path):
    other_zip = tmp_path / "r_e_hive__spark_pyfiles_1.zip"
    other_idx = tmp_path / "rehive_bm25_idx_local-other_0123456789"
    other_zip.write_bytes(b"")
    other_idx.mkdir()
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=str(tmp_path),
        env={**os.environ, "TMPDIR": str(tmp_path), "PYTHONPATH": ROOT},
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert sorted(p.name for p in tmp_path.iterdir()) == sorted(
        [other_zip.name, other_idx.name]
    )
