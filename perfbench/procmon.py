"""CPU time and resident memory of a process tree, read from /proc.

The tree is this process plus every descendant: the Spark JVM, the Python
workers it forks, and the xlsx reader's fork pool. CPU of descendants that
have already exited and been reaped is included through their parent's
cutime/cstime fields.
"""

from __future__ import annotations

import os
import threading
import time

_HZ = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # fields after the parenthesised command name, which may hold spaces
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """utime + stime + cutime + cstime summed over the tree, in seconds."""
    total = 0
    for pid in tree_pids(root or os.getpid()):
        st = _stat(pid)
        if st is not None:
            # fields 14-17 of stat(5); index 0 here is field 3 (state)
            total += sum(int(x) for x in st[11:15])
    return total / _HZ


def _pss_bytes(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return None


def tree_memory(root: int | None = None) -> dict[int, int]:
    """Resident bytes per process of the tree, as proportional set sizes
    so that pages a forked child shares with its parent count once (plain
    RSS where smaps_rollup is unavailable)."""
    out = {}
    for pid in tree_pids(root or os.getpid()):
        pss = _pss_bytes(pid)
        if pss is None:
            st = _stat(pid)
            pss = int(st[21]) * _PAGE if st is not None else 0  # field 24: rss pages
        out[pid] = pss
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


def peak_rss_self() -> int:
    """High-water mark of this process's resident memory, in bytes."""
    import resource

    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss * 1024


def process_age_s() -> float:
    """Seconds since this process started (0.01 s resolution)."""
    st = _stat(os.getpid())
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - int(st[19]) / _HZ  # field 22: starttime in ticks


class PeakRss:
    """Background sampler of the tree's resident memory: the peak of the
    whole tree, and the peak of the workers, the processes other than
    the JVM and this one (Python workers, the xlsx reader's fork pool)."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self.peak_workers = 0
        self.at_peak: dict[str, int] = {}  # process name -> bytes at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            try:
                by_name: dict[str, int] = {}
                workers = 0
                for pid, b in tree_memory().items():
                    name = _comm(pid)
                    by_name[name] = by_name.get(name, 0) + b
                    if name != "java" and pid != os.getpid():
                        workers += b
                total = sum(by_name.values())
                self.peak_workers = max(self.peak_workers, workers)
                if total > self.peak:
                    self.peak, self.at_peak = total, by_name
            except Exception:  # noqa: BLE001 — a vanished pid mid-walk
                pass
            self._stop.wait(self.interval_s)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()


def host_context() -> dict:
    import platform

    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    try:
        import pyspark

        spark_version = pyspark.__version__
    except ImportError:
        spark_version = None
    return {
        "nproc": os.cpu_count(),
        "loadavg": load,
        "python": platform.python_version(),
        "pyspark": spark_version,
        "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
