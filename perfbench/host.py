"""Host pinning, host probe and out-of-process resource sampling."""

from __future__ import annotations

import hashlib
import os
import platform
import subprocess
import sys
import threading
import time

T0 = time.perf_counter()
_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def log(*a):
    """Progress to stderr, stamped with seconds since start."""
    print(f"[{time.perf_counter() - T0:7.1f}s]", *a, file=sys.stderr, flush=True)


def usable_cores() -> int:
    """CPUs this process may run on, capped by a cgroup v2 CPU quota."""
    n = len(os.sched_getaffinity(0))
    try:
        with open("/sys/fs/cgroup/cpu.max") as fh:
            quota, period = fh.read().split()
        if quota != "max":
            n = min(n, max(1, int(-(-int(quota) // int(period)))))
    except (OSError, ValueError):
        pass
    return n


def _java_version() -> str:
    try:
        out = subprocess.run(
            ["java", "-version"], capture_output=True, text=True, timeout=30
        )
        lines = (out.stderr or out.stdout).splitlines()
        return next(line for line in lines if "version" in line)
    except (OSError, StopIteration, subprocess.SubprocessError):
        return "unknown"


def probe(cores: int) -> dict:
    """Versions plus a short host probe: load, memory, single-thread md5 rate."""
    import duckdb
    import numpy
    import pyarrow
    import pyspark

    t0 = time.perf_counter()
    h = hashlib.md5()
    n = 0
    while time.perf_counter() - t0 < 0.2:
        for _ in range(1000):
            h.update(b"x" * 64)
        n += 1000
    mem = {}
    with open("/proc/meminfo") as fh:
        for line in fh:
            k, v = line.split(":", 1)
            if k in ("MemTotal", "MemAvailable"):
                mem[k] = int(v.split()[0]) // 1024
    return {
        "cores": cores,
        "nproc_online": os.cpu_count(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "numpy": numpy.__version__,
        "java": _java_version(),
        "loadavg": os.getloadavg(),
        "mem_total_mb": mem.get("MemTotal"),
        "mem_available_mb": mem.get("MemAvailable"),
        "md5_mb_per_s": round(n * 64 / 1e6 / (time.perf_counter() - t0), 1),
    }


def cpu_steal_s() -> float:
    """Seconds of CPU time the hypervisor gave to other guests (all CPUs)."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / _TICK if len(fields) > 8 else 0.0


# --- process tree ---------------------------------------------------------------


def _stat(pid: int):
    """(ppid, utime+stime+cutime+cstime ticks, rss pages) or None."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    f = raw[raw.rindex(")") + 2:].split()
    return int(f[1]), sum(int(x) for x in f[11:15]), int(f[21])


def descendants(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st:
                kids.setdefault(st[0], []).append(int(name))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_usage(root: int) -> tuple[float, float]:
    """(resident MB, CPU seconds) summed over ``root`` and its descendants."""
    rss = cpu = 0
    for p in descendants(root):
        st = _stat(p)
        if st:
            cpu += st[1]
            rss += st[2]
    return rss * _PAGE / 2**20, cpu / _TICK


class RssSampler:
    """Samples the resident memory of a process tree from a thread.

    ``root`` is the Spark JVM; Spark's Python workers are its descendants.
    """

    def __init__(self, root: int, interval: float = 0.1):
        self.root = root
        self.interval = interval
        self.peak_mb = 0.0
        self.window_mb = 0.0
        self.samples = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            mb, _ = tree_usage(self.root)
            with self._lock:
                self.peak_mb = max(self.peak_mb, mb)
                self.window_mb = max(self.window_mb, mb)
                self.samples += 1
            self._stop.wait(self.interval)

    def mark(self) -> float:
        """Peak MB since the previous mark (sampled now as well)."""
        mb, _ = tree_usage(self.root)
        with self._lock:
            out = max(self.window_mb, mb)
            self.window_mb = 0.0
        return out

    def start(self):
        self._thread.start()
        return self

    def stop(self):
        self._stop.set()
        self._thread.join(timeout=10)
