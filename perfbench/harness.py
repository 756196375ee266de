"""Shared machinery of the benchmark: session, timing, spans, job counts.

Everything here measures the engine from outside.  Spans are opened
around calls into the engine's public functions; Spark jobs are counted
per span through job groups and ``statusTracker()``.  With tracing off
the span and job-group calls are skipped entirely, so the end-to-end
numbers are taken without them.
"""

from __future__ import annotations

import gc
import json
import math
import os
import shutil
import statistics
import tempfile
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_build", "perfbench")


def median(xs) -> float:
    return float(statistics.median(xs))


def geomean(xs) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def machine() -> tuple[int, int]:
    """(usable cores, JVM heap in MB): ``local[nproc]`` and a heap of a
    quarter of physical RAM, at most 2 GB."""
    cores = len(os.sched_getaffinity(0))
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return cores, int(min(2048, max(1024, ram_mb // 4)))


class Tracer:
    """In-memory spans (id, name, start, end, parent, attrs) and per-span
    Spark job counts; written out once, at the end of the run."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.sc = None  # SparkContext, set once the session is up

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None}
        rec.update(attrs)
        self.spans.append(rec)
        self._stack.append(sid)
        group = f"perfbench-{sid}"
        if self.sc is not None:
            self.sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                rec["jobs"] = len(self.sc.statusTracker().getJobIdsForGroup(group))
                if self._stack:  # jobs after this span belong to the parent again
                    self.sc.setJobGroup(f"perfbench-{self._stack[-1]}", "")

    def jobs(self, sid: int) -> int:
        """Jobs started under span ``sid`` and all its descendants."""
        kids = [s for s in self.spans if s["parent"] == sid]
        return self.spans[sid].get("jobs", 0) + sum(self.jobs(k["id"]) for k in kids)

    def untracked_s(self, sid: int) -> float:
        """Span duration not covered by its direct children."""
        s = self.spans[sid]
        covered = sum(k["end"] - k["start"] for k in self.spans if k["parent"] == sid)
        return (s["end"] - s["start"]) - covered

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


class Session:
    """A ``local[nproc]`` engine session whose scratch files all stay under
    the checkout's work directory, and whose JVM is stopped and waited for
    on close."""

    def __init__(self, tracer: Tracer):
        tmp = os.path.join(WORK, "tmp", str(os.getpid()))
        os.makedirs(tmp, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = tmp
        os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(tmp, "warehouse")
        tempfile.tempdir = None
        self.tmp = tmp
        self.cores, self.heap_mb = machine()
        with tracer.span("session.start"):
            t0 = time.perf_counter()
            from r_e_hive__spark.session import get_spark

            self.spark = get_spark(
                app_name="perfbench",
                master=f"local[{self.cores}]",
                shuffle_partitions=self.cores,
                extra_conf={
                    "spark.driver.memory": f"{self.heap_mb}m",
                    "spark.local.dir": tmp,
                    # a fixed-size heap: its growth would otherwise follow GC
                    # timing and make the JVM's peak RSS differ run to run
                    "spark.driver.extraJavaOptions": (
                        f"-Xms{self.heap_mb}m -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
                    ),
                    "spark.ui.showConsoleProgress": "false",
                },
            )
            self.start_s = time.perf_counter() - t0
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        tracer.sc = self.sc if tracer.enabled else None

    def fence(self) -> None:
        """Untimed hygiene between operations: collect Python's garbage (so
        dropped DataFrames release their JVM objects) and run a JVM GC, which
        drives Spark's ContextCleaner to free the finished operation's
        shuffle files and broadcasts before the next one is timed."""
        gc.collect()
        self.sc._jvm.System.gc()

    def storage_mb(self) -> float:
        """Executor storage (memory + disk) held by cached or checkpointed
        RDDs."""
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 2**20

    def peak_rss_mb(self) -> float:
        pid = self.sc._jvm.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        raise RuntimeError("VmHWM missing from /proc status")

    def range_sum_s(self) -> float:
        """The 200M-row range-sum box probe (no IO, no shuffle read)."""
        t0 = time.perf_counter()
        self.spark.range(200_000_000).selectExpr("sum(id)").collect()
        return time.perf_counter() - t0

    def close(self) -> None:
        gateway = self.sc._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        gateway.shutdown()
        # the engine leaves its shipped-package zip and the BM25 disk index in
        # the temp directory; this session's directory goes with it
        shutil.rmtree(self.tmp, ignore_errors=True)


class Ops:
    """Per-kind samples of timed operations (one operation = one query or
    one request, timed from the call to its consumed result)."""

    def __init__(self):
        self.lat: dict[str, list[float]] = {}
        self.build: dict[str, list[float]] = {}
        self.exec: dict[str, list[float]] = {}
        self.jobs: dict[str, list[int]] = {}
        self.build_jobs: dict[str, list[int]] = {}
        self.attempted = 0
        self.failed = 0

    def add(self, kind: str, build_s: float, exec_s: float) -> None:
        self.lat.setdefault(kind, []).append(build_s + exec_s)
        self.build.setdefault(kind, []).append(build_s)
        self.exec.setdefault(kind, []).append(exec_s)

    def add_jobs(self, kind: str, total: int, build: int) -> None:
        self.jobs.setdefault(kind, []).append(total)
        self.build_jobs.setdefault(kind, []).append(build)

    def end_to_end(self) -> dict[str, float]:
        """``ops_per_s`` is the closed loop's rate without the untimed
        fences between operations: operations done / time spent in them."""
        meds = [median(v) for v in self.lat.values()]
        busy = [x for xs in self.lat.values() for x in xs]
        return {
            "query_geomean_s": geomean(meds),
            "query_total_s": sum(meds),
            "ops_per_s": len(busy) / sum(busy),
        }
