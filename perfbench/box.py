"""The benchmark's pinned environment, box context and process-tree memory.

``pin`` must run before pyspark is imported: the JVM and the Python
workers inherit the variables it sets.  Everything a run writes goes
under its own work directory inside the checkout.
"""

from __future__ import annotations

import gc
import json
import os
import signal
import sys
import threading
import time
from pathlib import Path

# Fixed driver heap limit, below the RAM of a 16 GB box (the session's
# default of 16g is not).
DRIVER_MEM = "2g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def ram_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def pin(root: Path, work: Path) -> dict[str, str]:
    """Set the variables the run depends on; returns them for the record."""
    for sub in ("local", "tmp", "jtmp", "warehouse"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    pinned = {
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": str(work / "local"),
        "TMPDIR": str(work / "tmp"),
        # Python workers import the package from the checkout (the graphar
        # datasource worker fails with ModuleNotFoundError otherwise)
        "PYTHONPATH": str(root),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYTHONWARNINGS": "ignore::FutureWarning",
        # no JVM, the spark-submit launcher's included, writes /tmp/hsperfdata_*
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-Djava.io.tmpdir={work / 'jtmp'}' "
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.sql.warehouse.dir={work / 'warehouse'} pyspark-shell"
        ),
    }
    os.environ.update(pinned)
    os.environ.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    os.environ.pop("SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS", None)
    return pinned


def versions() -> dict[str, str]:
    import duckdb
    import numpy
    import pandas
    import pyarrow
    import pyspark

    return {
        "python": sys.version.split()[0],
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "numpy": numpy.__version__,
        "pandas": pandas.__version__,
    }


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (user ... steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])
    return delta[7] / total if total and len(delta) > 7 else 0.0


def calibration_ms() -> float:
    """A fixed pure-Python loop; recorded as box context, never used to
    rescale a metric."""
    t = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i % 7
    return (time.perf_counter() - t) * 1000.0


def jvm_live_heap_mb(spark) -> float:
    """JVM heap in use right after a full collection: the heap the program
    keeps reachable.  Unlike the committed heap, whose size follows the
    collector's sizing decisions, it repeats from run to run.  Call it
    only outside the timed phase."""
    # first release the JVM objects that only Python garbage cycles
    # still hold (py4j proxies of DataFrames and query results)
    gc.collect()
    bean = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    # Spark frees part of its data asynchronously, after a collection has
    # found the objects that own it unreachable; collect again once it
    # has.  With one collection stream_events read 130-200 MB, depending
    # on that timing; with two, 95 MB on every run.
    bean.gc()
    time.sleep(1.0)
    bean.gc()
    return bean.getHeapMemoryUsage().getUsed() / (1 << 20)


def _tree(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(entry.name))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _pss_and_comm(pid: int) -> tuple[int, str]:
    """Proportional set size in bytes: resident pages, each page shared by
    k processes counted 1/k — so forked Python workers do not count their
    parent's pages again."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            pss = next(int(line.split()[1]) for line in f if line.startswith("Pss:")) * 1024
        with open(f"/proc/{pid}/comm") as f:
            return pss, f.read().strip()
    except (OSError, StopIteration):
        return 0, ""


class MemorySampler:
    """High-water memory of this process and all its descendants (the JVM
    and the Python workers), as summed PSS, sampled on a background thread."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = {"total": 0, "jvm": 0, "py": 0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        now = {"total": 0, "jvm": 0, "py": 0}
        for pid in _tree(os.getpid()):
            pss, comm = _pss_and_comm(pid)
            now["total"] += pss
            if comm == "java":
                now["jvm"] += pss
            elif comm.startswith("python"):
                now["py"] += pss
        for k, v in now.items():
            self.peak[k] = max(self.peak[k], v)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self) -> "MemorySampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()

    def peak_mb(self, key: str) -> float:
        return self.peak[key] / (1 << 20)


def become_subreaper() -> None:
    """Have orphaned descendants re-parented to this process, not to init:
    a Python worker whose JVM parent exits first stays in this process's
    tree, so ``stop_descendants`` still finds it and waits for it."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_descendants(grace_s: float = 30.0) -> None:
    """End the JVM and every other process this run started, and wait until
    each has ended.  The JVM exits by itself once its standard input
    closes; whatever is still running after ``grace_s`` gets SIGTERM, and
    SIGKILL 5 s later."""
    if "pyspark" in sys.modules:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:
                pass
            proc = getattr(gateway, "proc", None)
            if proc is not None and proc.stdin is not None:
                try:
                    proc.stdin.close()
                except OSError:
                    pass
    me = os.getpid()
    deadline = time.monotonic() + grace_s
    sig = None
    while True:
        _reap()
        pids = [p for p in _tree(me) if p != me]
        if not pids:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL if sig is not None else signal.SIGTERM
            for pid in pids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5.0
        time.sleep(0.05)


def context_line(**fields) -> str:
    return json.dumps({"context": fields}, sort_keys=True, default=str)
