"""The machine the benchmark runs on: sizing, the Spark session, and
peak resident memory of the whole process tree.

Everything the session writes (shuffle files, temp files, the event
log) goes under one work directory inside the checkout.
"""

from __future__ import annotations

import ctypes
import os
import signal
import sys
import tempfile
import threading
import time


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def mem_available_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) << 10
    raise RuntimeError("MemAvailable missing from /proc/meminfo")


def driver_memory_mb() -> int:
    """A quarter of what the box has free, at most 1 GiB. The working
    set is a few MB of shards plus Arrow batches, so a heap sized to it
    reaches its steady size within the warm-up calls; with a 3.8 GiB
    heap, peak RSS followed G1's heap growth and varied 11 % from seed
    to seed on a 4-core box, against 3 % at 1 GiB."""
    return int(min(1 << 10, mem_available_bytes() / 4 / (1 << 20)))


def steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs
    (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def describe() -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    return {
        "cpus": cpus(),
        "mem_available_mb": mem_available_bytes() >> 20,
        "driver_memory_mb": driver_memory_mb(),
        "python": sys.version.split()[0],
        "pyspark": pyspark.__version__,
        "numpy": numpy.__version__,
        "pandas": pandas.__version__,
        "pyarrow": pyarrow.__version__,
    }


def start_session(root: str, work: str, event_log: str | None):
    """``local[cpus]`` session whose files all stay under ``work``.
    ``event_log`` (a directory) turns on Spark's event log."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # python workers import the package from the checkout root; the JVM
    # and the workers inherit these
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    # for every JVM, the launcher's included: no /tmp/hsperfdata files
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    n = cpus()
    b = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("cuckoo-filter-spark-perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", f"{driver_memory_mb()}m")
        .config("spark.sql.shuffle.partitions", str(max(n, 8)))
        # cached shards otherwise hold each stage ~3 s waiting for a
        # locality that local mode cannot improve
        .config("spark.locality.wait", "0ms")
        # the Arrow batch size the repository's bench.py runs with
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "262144")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
    )
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + os.path.abspath(event_log))
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def process_tree(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        try:
            for task in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{task}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


def become_subreaper() -> None:
    """Have orphaned descendants (the pyspark daemon and its workers,
    should the JVM exit first) re-parented to this process rather than
    to init, so that :func:`stop_descendants` can stop and reap them."""
    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def stop_descendants(grace: float = 10.0) -> None:
    """Terminate every process still below this one, kill those alive
    after ``grace`` seconds, and reap each child, so that none outlives
    the run or stays behind as a zombie."""
    me = os.getpid()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        left = [p for p in process_tree(me) if p != me]
        for p in left:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + grace
        while left and time.time() < deadline:
            try:
                while os.waitpid(-1, os.WNOHANG)[0]:
                    pass
            except ChildProcessError:
                pass
            left = [p for p in process_tree(me) if p != me]
            if left:
                time.sleep(0.05)
        if not left:
            return


def tree_rss_bytes(pid: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in process_tree(pid):
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


class PeakRss:
    """Samples the RSS of this process and all its descendants (the
    JVM, the pyspark daemon and its workers) every PERIOD seconds and
    keeps the largest sum."""

    PERIOD = 0.05

    def __init__(self):
        self.peak = 0
        #: peak of each phase ended with :meth:`phase`, in bytes
        self.phases: dict[str, int] = {}
        self._phase_peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            rss = tree_rss_bytes(me)
            self.peak = max(self.peak, rss)
            self._phase_peak = max(self._phase_peak, rss)
            time.sleep(self.PERIOD)

    def phase(self, name: str) -> None:
        """End the current phase, recording its peak under ``name``."""
        self.phases[name] = self._phase_peak
        self._phase_peak = 0

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
