"""Process-tree helpers read from ``/proc``: CPU seconds and resident
memory of the benchmark process and everything it started (the Spark
JVM and its Python workers), and an orderly stop of that tree."""

from __future__ import annotations

import bisect
import os
import signal
import threading
import time


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def _stats() -> dict[int, tuple[int, float]]:
    """pid -> (parent pid, CPU seconds it used, user and system, with
    those of its children that ended and were reaped)."""
    out: dict[int, tuple[int, float]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        fields = stat.rsplit(")", 1)[1].split()
        out[int(entry)] = (int(fields[1]), sum(map(int, fields[11:15])) * _TICK_S)
    return out


def _tree(stats: dict[int, tuple[int, float]], root: int) -> list[int]:
    """``root`` and every process below it."""
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [root], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def descendants(pid: int | None = None) -> list[int]:
    return _tree(_stats(), pid or os.getpid())[1:]


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every process it
    started. Time the hypervisor gives to other guests (steal) is not
    counted, so this reads the same on a quiet and a crowded host."""
    stats = _stats()
    return sum(stats[p][1] for p in _tree(stats, os.getpid()))


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class TreeSampler:
    """Samples the tree's resident memory and CPU seconds on a daemon
    thread: ``peak`` is the largest resident sum seen, ``cpu_at(t)``
    the tree's CPU seconds at wall time ``t``, interpolated between
    samples. Use as a context manager."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak = 0
        self.samples: list[tuple[float, float]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        stats = _stats()
        pids = _tree(stats, os.getpid())
        self.peak = max(self.peak, sum(_rss_bytes(p) for p in pids))
        self.samples.append((time.time(), sum(stats[p][1] for p in pids)))

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def cpu_at(self, t: float) -> float:
        i = bisect.bisect_left(self.samples, (t,))
        if i == 0 or i == len(self.samples):
            raise ValueError("no CPU samples around that time")
        (t0, c0), (t1, c1) = self.samples[i - 1], self.samples[i]
        return c0 + (c1 - c0) * (t - t0) / (t1 - t0)

    def __enter__(self) -> "TreeSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()


def _alive(pid: int) -> bool:
    """True while ``pid`` runs; reaps it if it is our own ended child."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    if state != "Z":
        return True
    try:
        os.waitpid(pid, os.WNOHANG)
    except ChildProcessError:
        pass
    return False


def wait_ended(pids: list[int], timeout_s: float = 30.0) -> None:
    """Wait for every pid in ``pids`` to end; terminate, then kill, any
    that outlive ``timeout_s``."""
    for sig in (signal.SIGTERM, signal.SIGKILL, None):
        deadline = time.monotonic() + (timeout_s if sig == signal.SIGTERM else 5)
        while time.monotonic() < deadline:
            pids = [p for p in pids if _alive(p)]
            if not pids:
                return
            time.sleep(0.1)
        for p in pids:
            if sig is not None:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
