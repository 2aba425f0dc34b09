"""Host facts from ``/proc`` (psutil is not installed): the host stamp
every result carries, summed RSS of this process tree, and the CPU time
of the Python workers Spark forks."""

from __future__ import annotations

import os
import platform
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name (field 2) may hold spaces; fields resume after ')'
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """Pids of every live process below ``root``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            pass
    return total


def cpu_seconds(pids: list[int]) -> float:
    """user+system CPU of ``pids``, including their reaped children."""
    total = 0
    for pid in pids:
        st = _stat(pid)
        if st is not None:
            # utime, stime, cutime, cstime (fields 14-17 of stat)
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


class RssSampler:
    """Peak of the summed RSS of this process and all its descendants
    (the JVM and its Python workers), sampled on a background thread."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> None:
        me = os.getpid()
        self.peak = max(self.peak, rss_bytes([me] + descendants(me)))

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> RssSampler:
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def host_stamp(spark) -> dict:
    import pyarrow
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return {
        "nproc": nproc(),
        "ram_gb": round(mem_kb / 2**20, 1),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "spark_conf": dict(sorted(spark.sparkContext.getConf().getAll())),
    }
