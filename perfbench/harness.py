"""Session, host and process plumbing shared by every workload.

The session is fitted to the host: ``local[nproc]`` with nproc shuffle
partitions, an explicit driver heap well inside physical RAM, JVM GC
threads set to the core count, and every scratch directory (Spark local
dirs, JVM and Python temp files, the event log) inside the run's own work
directory.
"""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import time
from dataclasses import dataclass

HEAP_CAP_MB = 2048


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap_mb() -> int:
    """A quarter of physical RAM, capped: the inputs are small, and the
    host's memory is shared. The heap is fixed and pre-touched (-Xms =
    -Xmx, AlwaysPreTouch), so heap growth adds no run-to-run variance to
    GC behaviour or to the peak RSS, which then tracks the JVM's off-heap
    memory and the Python workers on top of a constant heap."""
    return min(HEAP_CAP_MB, mem_total_mb() // 4)


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (user nice system idle
    iowait irq softirq steal ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_ratio(before: list[int], after: list[int]) -> float:
    """Share of CPU time stolen by the hypervisor between two samples."""
    delta = [a - b for a, b in zip(after, before)]
    total = sum(delta[:8])
    return delta[7] / total if total > 0 and len(delta) > 7 else 0.0


def host_info() -> dict:
    import pyspark

    return {
        "nproc": nproc(),
        "mem_total_mb": mem_total_mb(),
        "driver_heap_mb": driver_heap_mb(),
        "pyspark": pyspark.__version__,
    }


# ---------------------------------------------------------------------------
# process tree RSS and CPU time
# ---------------------------------------------------------------------------

def _ppid_map() -> dict[int, int]:
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while scanning
        # the command name may hold spaces; fields resume after its ')'
        out[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def tree_pids(root: int) -> list[int]:
    parents = _ppid_map()
    pids = [root]
    for pid in pids:
        pids.extend(p for p, pp in parents.items() if pp == pid)
    return pids


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by ``root`` and its live
    descendants, each with the children it has reaped."""
    ticks = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while scanning
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / _CLK_TCK


def cpu_s() -> float:
    """CPU seconds used so far by this process (every thread, DuckDB's
    included) and by the JVM it launched with the JVM's Python workers.
    Time the hypervisor steals is not charged to a process, so on a
    shared host this moves far less than wall time."""
    t = os.times()
    pid = jvm_pid()
    return t.user + t.system + (tree_cpu_s(pid) if pid is not None else 0.0)


class Meter:
    """Wall and CPU seconds since it was made."""

    def __init__(self) -> None:
        self.wall0 = time.perf_counter()
        self.cpu0 = cpu_s()

    def read(self) -> tuple[float, float]:
        return time.perf_counter() - self.wall0, cpu_s() - self.cpu0


def tree_peak_rss_mb(root: int) -> float:
    """Sum of peak RSS (VmHWM) over ``root`` and its live descendants --
    the driver JVM and its Python workers."""
    return sum(_vm_hwm_kb(p) for p in tree_pids(root)) / 1024


# ---------------------------------------------------------------------------
# work directory and session
# ---------------------------------------------------------------------------

@dataclass
class Workdir:
    root: str

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def create(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        for d in ("tmp", "local", "warehouse", "eventlog"):
            os.makedirs(self.path(d))

    def remove(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)


def isolate_env(work: Workdir) -> None:
    """Point temp files of this process, the JVM it launches and the
    JVM's Python workers into the work directory. Call before pyspark
    starts a gateway."""
    os.environ["TMPDIR"] = work.path("tmp")
    os.environ["SPARK_LOCAL_DIRS"] = work.path("local")
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def start_session(work: Workdir, app_name: str, event_log: bool = False):
    """A SparkSession from the package's own factory, fitted to the host,
    with the Spark event log written into the work directory when
    ``event_log`` is set."""
    from otel_arrow_adapter_spark.session import get_spark

    cores = nproc()
    conf = {
        "spark.driver.memory": f"{driver_heap_mb()}m",
        "spark.driver.extraJavaOptions": (
            f"-Xms{driver_heap_mb()}m -XX:+AlwaysPreTouch -XX:ParallelGCThreads={cores} "
            f"-Djava.io.tmpdir={work.path('tmp')}"
        ),
        "spark.local.dir": work.path("local"),
        "spark.sql.warehouse.dir": work.path("warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + work.path("eventlog"),
                "spark.eventLog.compress": "true",
                "spark.eventLog.compression.codec": "zstd",
            }
        )
    return get_spark(app_name=app_name, cores=cores, shuffle_partitions=cores, extra_conf=conf)


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


def stop_jvm(spark) -> None:
    """Stop the session, then end the JVM (and with it the Python
    workers) and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def live_rdds(spark) -> int:
    """RDDs still persisted in the session (Dataset caches and RDD-level
    local checkpoints alike)."""
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


def dir_bytes(path: str, suffix: str = ".parquet") -> tuple[int, int]:
    """(files, bytes) of the ``suffix`` files under ``path``."""
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(suffix):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


class OpTally:
    """Failure accounting of the closed loop. An operation fails when it
    raised (``seconds is None``), when any row mismatched its reference,
    or when it left a persisted RDD behind. ``seconds`` is whatever the
    caller measured: one number, or a (wall, CPU) pair."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.mismatched = 0
        self.max_live = 0

    def record(self, seconds, mismatched: int | None, live: int):
        """Count one operation; its seconds if it passed, else None."""
        ok = seconds is not None and mismatched == 0 and live == 0
        self.attempted += 1
        self.failed += not ok
        self.mismatched += mismatched or 0
        self.max_live = max(self.max_live, live)
        return seconds if ok else None

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0
