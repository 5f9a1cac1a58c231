"""Process-tree accounting and host context for the benchmark.

CPU and RSS are read from ``/proc`` for this process and every descendant:
the Python driver, the local-mode JVM and the Python workers it forks.
"""

from __future__ import annotations

import os
import platform
import threading
import time

_HZ = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_table() -> dict[int, tuple[int, float, int]]:
    """pid -> (ppid, cpu seconds including reaped children, rss bytes)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields after the command: state ppid ... utime(11) stime(12)
        # cutime(13) cstime(14) ... rss(21); cutime/cstime hold the CPU of
        # children the process already reaped (retired Python workers).
        cpu = sum(int(x) for x in rest[11:15]) / _HZ
        out[int(name)] = (int(rest[1]), cpu, int(rest[21]) * _PAGE)
    return out


def descendants(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    table = _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    root = os.getpid() if root is None else root
    seen, stack = [], [root]
    while stack:
        pid = stack.pop()
        if pid in table and pid not in seen:
            seen.append(pid)
            stack.extend(children.get(pid, []))
    return seen


def tree_usage() -> tuple[float, int]:
    """(cpu seconds, rss bytes) summed over this process tree."""
    table = _proc_table()
    cpu = rss = 0
    for pid in descendants():
        if pid in table:
            cpu += table[pid][1]
            rss += table[pid][2]
    return cpu, rss


class TreeMeter:
    """Context manager: CPU seconds used and peak summed RSS of the process
    tree while the block runs. RSS is sampled on a thread every
    ``interval`` seconds."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self.cpu_s = 0.0
        self.peak_rss = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        while not self._stop.wait(self.interval):
            self.peak_rss = max(self.peak_rss, tree_usage()[1])

    def __enter__(self) -> "TreeMeter":
        self._cpu0, self.peak_rss = tree_usage()
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        cpu1, rss = tree_usage()
        self.peak_rss = max(self.peak_rss, rss)
        self.cpu_s = cpu1 - self._cpu0


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def host_ram_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def calibration_s(spark, rows: int = 20_000_000) -> float:
    """Best of three walls of a fixed pure-compute Spark job (chained
    xxhash64 over ``spark.range``: no shuffle, no Python, no I/O). It says
    what the host delivered during this run; it is context, not a metric."""
    expr = "bit_xor(xxhash64(xxhash64(id, 1), 2))"
    spark.range(0, rows // 20).selectExpr(expr).collect()
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0, rows).selectExpr(expr).collect()
        best = min(best, time.perf_counter() - t0)
    return best


def context(spark) -> dict:
    import pyspark

    return {
        "nproc": host_cpus(),
        "ram_gb": round(host_ram_bytes() / 2**30, 1),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "master": spark.sparkContext.master,
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "calibration_s": round(calibration_s(spark), 4),
    }
