"""Readings from /proc: memory and CPU of the benchmark's process tree,
and host contention (load average, CPU steal).

The process tree is this Python process plus every descendant: the
spark-submit/driver JVM, the ``pyspark.daemon`` and the Python workers
it forks.
"""

from __future__ import annotations

import os
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def cpus() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def _processes() -> dict[int, tuple[str, int, int, int]]:
    """pid -> (command name, parent pid, CPU ticks including reaped
    children, resident pages) for every process visible in /proc."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                raw = fh.read()
        except OSError:  # exited while we listed /proc
            continue
        close = raw.rindex(")")
        fields = raw[close + 2 :].split()
        # fields[1] = ppid; [11:15] = utime stime cutime cstime; [21] = rss
        ticks = sum(int(x) for x in fields[11:15])
        out[int(name)] = (raw[raw.index("(") + 1 : close], int(fields[1]), ticks, int(fields[21]))
    return out


def _descendants(procs: dict[int, tuple[str, int, int, int]], root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (_, ppid, _, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    found, todo = [], list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        found.append(pid)
        todo.extend(children.get(pid, ()))
    return found


def process_age_s() -> float:
    """Seconds since this process started (10 ms resolution)."""
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    with open("/proc/self/stat") as fh:
        raw = fh.read()
    # fields[19] = starttime, in clock ticks after boot
    start_ticks = int(raw[raw.rindex(")") + 2 :].split()[19])
    return uptime - start_ticks / _TICK


def tree_rss_bytes() -> int:
    """Resident memory of this process and all its descendants."""
    procs = _processes()
    me = os.getpid()
    return sum(procs[p][3] for p in [me, *_descendants(procs, me)] if p in procs) * _PAGE


def wait_for_descendants(timeout_s: float) -> bool:
    """Wait until this process has no descendants left; False on timeout."""
    deadline = time.monotonic() + timeout_s
    while _descendants(_processes(), os.getpid()):
        if time.monotonic() > deadline:
            return False
        time.sleep(0.1)
    return True


def worker_cpu_s() -> float:
    """CPU seconds used so far by descendant Python processes (the
    PySpark daemon and its workers, including workers already reaped)."""
    procs = _processes()
    ticks = sum(
        procs[p][2] for p in _descendants(procs, os.getpid()) if procs[p][0].startswith("python")
    )
    return ticks / _TICK


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def steal_pct(start: tuple[int, int], end: tuple[int, int]) -> float:
    total = end[1] - start[1]
    return 100.0 * (end[0] - start[0]) / total if total else 0.0


class PeakRss:
    """Samples ``tree_rss_bytes`` on a background thread and keeps the
    maximum since the last ``restart``. Use as a context manager."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self) -> None:
        while True:
            sample = tree_rss_bytes()
            with self._lock:
                self.peak_bytes = max(self.peak_bytes, sample)
            if self._stop.wait(self.interval_s):
                return

    def restart(self) -> int:
        """Return the peak so far and start a new one from now."""
        now = tree_rss_bytes()
        with self._lock:
            peak, self.peak_bytes = self.peak_bytes, now
        return max(peak, now)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
