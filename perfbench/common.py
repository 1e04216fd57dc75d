"""Shared plumbing: work directory, Spark session, memory and statistics."""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class WorkDir:
    """Scratch space inside the checkout (``.perfbench_work/run-<pid>``);
    every file the run writes, Spark's and the JVM's temp files included,
    lives here and is removed by :meth:`cleanup`."""

    def __init__(self, root: str):
        self.path = os.path.join(root, ".perfbench_work", f"run-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        self.sub("tmp")

    def sub(self, *parts: str) -> str:
        p = os.path.join(self.path, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def cleanup(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        parent = os.path.dirname(self.path)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


# Driver heap, in place of the package's 8g default, and pinned (-Xms):
# with 8g the JVM grew to 2.3-3.8 GB whatever the data, and an unpinned
# 1g heap grew by a different amount in every run (peak RSS spread 0.21
# across seeds), so in both the high-water RSS showed when the collector
# grew the heap (see README.md, "Host").
DRIVER_MEMORY = "1g"


def configure_env(work: WorkDir) -> None:
    """Environment read at JVM launch: temp dirs inside the work dir,
    ``local[nproc]`` parallelism, the driver heap."""
    tmp = work.sub("tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = work.sub("spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.pop("SPARK_GRAFT_CLOUD", None)


def start_session(work: WorkDir):
    """Start the package's session (``session.get_spark``) on
    ``local[nproc]``; returns (spark, seconds)."""
    from admob_data_pipeline_spark import session

    tmp = work.sub("tmp")
    t0 = time.perf_counter()
    spark = session.get_spark(
        app_name="perfbench",
        master=f"local[{nproc()}]",
        extra_conf={
            "spark.sql.warehouse.dir": work.sub("spark-warehouse"),
            "spark.local.dir": work.sub("spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} "
            f"-Dderby.system.home={tmp} -Xms{DRIVER_MEMORY}",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    elapsed = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, elapsed


def stop_session(spark) -> None:
    """Stop Spark, then the driver JVM, and wait until the JVM has exited
    (it exits when its stdin pipe closes)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    SparkContext._gateway = SparkContext._jvm = None
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/task/{p}/children") as fh:
                kids = [int(k) for k in fh.read().split()]
        except OSError:
            kids = []
        out.extend(kids)
        todo.extend(kids)
    return out


def peak_rss_mb() -> dict[str, float]:
    """High-water RSS (VmHWM) in MiB of this process and each descendant
    (the driver JVM), keyed by ``<pid>:<command name>``."""
    out = {}
    for pid in [os.getpid(), *_descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as fh:
                fields = dict(line.split(":", 1) for line in fh if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            out[f"{pid}:{fields['Name'].strip()}"] = int(fields["VmHWM"].split()[0]) / 1024.0
    return out


TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def tail_percentile(n: int) -> float | None:
    """Highest percentile of the ladder with at least ten samples beyond
    it, or None when there are fewer than eleven samples."""
    for q in TAIL_LADDER:
        if n * (100.0 - q) >= 1000.0 - 1e-6:
            return q
    return None


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (numpy's default definition)."""
    s = sorted(values)
    if len(s) == 1:
        return s[0]
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values)
