"""Run environment record and process-tree peak RSS sampling."""

from __future__ import annotations

import os
import platform
import threading


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def ram_bytes() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def driver_memory() -> str:
    """JVM heap for the Spark driver: a quarter of the machine's RAM,
    capped at 4 GiB (the workloads peak well below that)."""
    return f"{max(1, min(4, ram_bytes() // 4 // 1024**3))}g"


def psi_total(resource: str) -> float | None:
    """Seconds any task stalled on ``resource`` (PSI 'some' total)."""
    try:
        with open(f"/proc/pressure/{resource}") as f:
            return int(f.readline().rsplit("total=", 1)[-1]) / 1e6
    except (OSError, ValueError):
        return None


def pressure() -> dict:
    return {
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "psi_cpu_some_s": psi_total("cpu"),
        "psi_io_some_s": psi_total("io"),
    }


def describe() -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {
        "nproc": cpu_count(),
        "ram_gb": round(ram_bytes() / 1024**3, 1),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "numpy": numpy.__version__,
        "pyarrow": pyarrow.__version__,
        "spark_driver_memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Resident memory of ``root`` and all its descendants (driver
    Python, the JVM and its Python workers)."""
    kids = _children()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except (OSError, ValueError, IndexError):
            pass
    return total


class PeakRss:
    """Samples the process tree's RSS every ``interval`` seconds on a
    daemon thread; ``peak`` is the largest sum seen."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
