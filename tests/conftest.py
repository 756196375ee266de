from __future__ import annotations

import itertools
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
# the sf0.01 correctness tier is exercised by the driver-contract harness
# (tools/drive_driver_contract.py), not by this suite — no constant here


@pytest.fixture(scope="session")
def spark():
    from r_e_hive__spark.session import get_spark
    from r_e_hive__spark.streaming.pbshim import (
        descope_worker_hook,
        enable_protobuf_shim,
    )

    # ST6b enablement: must run BEFORE the JVM starts — it exports the
    # worker-side sitecustomize hook via PYTHONPATH, which a running JVM
    # would never see.  No-op when a real protobuf wheel exists; returns
    # False (and the TWS twin test skips) when no runtime is available.
    enable_protobuf_shim()
    s = get_spark(app_name="rehive-tests", master="local[8]", shuffle_partitions=8)
    # the JVM captured the hooked env at launch; restore the process-global
    # PYTHONPATH so other child processes don't import the shim (r7 ADVICE)
    descope_worker_hook()
    yield s


@pytest.fixture(scope="session")
def oracle_smoke():
    from r_e_hive__spark.oracle.diff import duckdb_connection

    con = duckdb_connection(SF_SMOKE)
    yield con
    con.close()


@pytest.fixture(scope="session")
def path_forms():
    """``spell(base, name)`` -> {form: path}: one fresh directory under
    ``base`` per spelling the storage layer must read alike — a plain
    path, a ``file://`` URI, and a name holding glob characters (which
    Python's and Hadoop's globs would expand)."""

    def spell(base, name: str) -> dict[str, str]:
        return {
            "plain": str(base / name),
            "file_uri": f"file://{base / (name + '_uri')}",
            "glob_chars": str(base / f"{name}[ab]*"),
        }

    return spell


_job_groups = itertools.count()


def count_jobs(spark, fn) -> int:
    """Spark jobs started while ``fn()`` runs (job group + statusTracker;
    a fresh group per call — ``id(fn)`` of a collected lambda recurs)."""
    sc = spark.sparkContext
    group = f"test-jobs-{next(_job_groups)}"
    sc.setJobGroup(group, "")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))
