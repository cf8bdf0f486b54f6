"""Process-tree memory and host-noise readings from /proc.

``Monitor`` samples, every ``INTERVAL_S`` in a daemon thread, the summed
resident set of this process and all its descendants (the JVM and its
Python workers) and keeps the peak from the moment it is armed. It also records
CPU steal over its lifetime and the load average at its end.
"""

from __future__ import annotations

import os
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")
INTERVAL_S = 0.25  # RSS sampling period
CHILD_WAIT_S = 30.0  # how long stopped children get to exit before a kill


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_bytes(pid: int) -> int:
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/statm") as fh:
                total += int(fh.read().split()[1]) * PAGE
        except (OSError, ValueError, IndexError):
            continue
    return total


def _cpu_jiffies() -> tuple[int, int]:
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return sum(f), (f[7] if len(f) > 7 else 0)


class Monitor:
    def __init__(self):
        self.peak = 0
        self._armed = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._cpu0 = self._cpu1 = None

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            if self._armed.is_set():
                self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(INTERVAL_S)

    def arm(self) -> None:
        """Start keeping the peak (earlier samples are not kept)."""
        self._armed.set()

    def start(self) -> None:
        self._cpu0 = _cpu_jiffies()
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._cpu1 = _cpu_jiffies()

    def peak_mb(self) -> float:
        return self.peak / (1024 * 1024)

    def steal_pct(self) -> float:
        (t0, s0), (t1, s1) = self._cpu0, self._cpu1 or _cpu_jiffies()
        return 100.0 * (s1 - s0) / max(t1 - t0, 1)

    @staticmethod
    def loadavg() -> str:
        with open("/proc/loadavg") as fh:
            return " ".join(fh.read().split()[:3])


def wait_children() -> None:
    """Wait until this process has no descendants left; kill stragglers
    after ``CHILD_WAIT_S`` seconds."""
    deadline = time.monotonic() + CHILD_WAIT_S
    give_up = deadline + 10
    while time.monotonic() < give_up:
        kids = descendants(os.getpid())
        if not kids:
            return
        if time.monotonic() > deadline:
            for p in kids:
                try:
                    os.kill(p, 9)
                except OSError:
                    pass
        for p in kids:
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.1)
