"""Host facts the benchmark sizes itself from, and /proc sampling of the
benchmark's own process tree (driver JVM plus Python workers)."""

from __future__ import annotations

import collections
import os
import platform
import signal
import statistics
import subprocess
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def meminfo_kb(key: str = "MemTotal") -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise KeyError(key)


def driver_heap() -> str:
    """An eighth of MemTotal, whole GiB, within [1, 24]: 1g on a 15 GB
    host, Spark's own default. In local mode the driver JVM holds every
    executor and shares the host with one Python worker per core, and the
    engine's 24g default is OOM-killed there. The benchmark's inputs need
    far less; a heap G1 fills every run also keeps peak RSS from depending
    on when the collector ran (a 3g heap spread it by 13%)."""
    gib = meminfo_kb("MemTotal") // (1 << 20)
    return f"{max(1, min(24, gib // 8))}g"


def cpu_model() -> str:
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                return line.split(":", 1)[1].strip()
    return platform.processor() or "unknown"


def java_version() -> str:
    out = subprocess.run(["java", "-version"], capture_output=True,
                         text=True, timeout=60).stderr
    return out.split('"')[1] if '"' in out else out.strip()


def fingerprint(heap: str) -> dict:
    """Identity of the host a record was measured on. Records whose
    fingerprints differ are not comparable (report.py refuses)."""
    import pyspark
    return {"nproc": nproc(), "mem_total_kb": meminfo_kb("MemTotal"),
            "cpu_model": cpu_model(), "driver_heap": heap,
            "spark": pyspark.__version__, "python": platform.python_version(),
            "java": java_version()}


def _stat_all() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, utime+stime+cutime+cstime ticks) for every process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:
            continue          # exited while listing
        fields = raw[raw.rindex(")") + 2:].split()
        out[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    return out


def tree_pids(root: int | None = None) -> list[int]:
    """root and all its live descendants."""
    root = os.getpid() if root is None else root
    procs = _stat_all()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def alive(pid: int) -> bool:
    """True while pid exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return False
    return raw[raw.rindex(")") + 2] != "Z"


def tree_cpu_s() -> float:
    """CPU seconds of this process tree, children already reaped included
    (their time sits in the parent's cutime/cstime)."""
    procs = _stat_all()
    pids = tree_pids()
    return sum(procs[p][1] for p in pids if p in procs) / _TICK


def tree_rss_mb() -> dict[str, float]:
    """Summed RSS of this process tree, split into the driver JVM and the
    Python processes (the benchmark itself and the Spark workers)."""
    out = {"jvm": 0.0, "python": 0.0}
    for p in tree_pids():
        try:
            with open(f"/proc/{p}/statm") as f:
                pages = int(f.read().split()[1])
            with open(f"/proc/{p}/comm") as f:
                kind = "jvm" if f.read().strip() == "java" else "python"
        except OSError:
            continue
        out[kind] += pages * _PAGE / 1e6
    return out


class PeakRss:
    """Background sampler of the process tree's summed RSS every 0.1 s.
    `peak_mb` is the highest one-second rolling median, so a fork or exit
    caught mid-sample does not set the peak; `raw_peak_mb` is the highest
    single sample, with its JVM/Python split in `split`."""

    def __init__(self, interval_s: float = 0.1, window: int = 10):
        self.peak_mb = self.raw_peak_mb = 0.0
        self.split: dict[str, float] = {}
        self._recent: collections.deque = collections.deque(maxlen=window)
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            now = tree_rss_mb()
            total = sum(now.values())
            if total > self.raw_peak_mb:
                self.raw_peak_mb, self.split = total, now
            self._recent.append(total)
            self.peak_mb = max(self.peak_mb, statistics.median(self._recent))
            self._stop.wait(self._interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def kill_tree() -> None:
    """SIGKILL every descendant of this process and reap direct children."""
    me = os.getpid()
    for p in reversed(tree_pids()):
        if p != me:
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
    deadline = time.time() + 10
    while time.time() < deadline:
        try:
            if os.waitpid(-1, os.WNOHANG) == (0, 0):
                if len(tree_pids()) <= 1:
                    return
                time.sleep(0.05)
        except ChildProcessError:
            return
