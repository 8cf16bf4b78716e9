"""Process-tree RSS sampling and clean-up from ``/proc`` (no psutil).

The tree is this Python process, the JVM that PySpark launches and the
Python workers the JVM forks."""

from __future__ import annotations

import os
import signal
import threading
import time


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces and parentheses: split after it
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, ()):
            out.append(c)
            todo.append(c)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(pid: int) -> tuple[float, dict]:
    """Summed RSS of ``pid`` and its descendants, and its split into the
    process itself, its largest descendant (the JVM) and the rest (the
    Python workers, with their count)."""
    kids = [(p, _rss_kb(p) / 1024.0) for p in descendants(pid)]
    own = _rss_kb(pid) / 1024.0
    big = max((mb for _, mb in kids), default=0.0)
    rest = [mb for _, mb in kids]
    if rest:
        rest.remove(big)
    parts = {"self_mb": own, "jvm_mb": big, "workers_mb": sum(rest), "n_workers": len(rest)}
    return own + big + sum(rest), parts


class PeakRss:
    """Peak summed RSS of this process tree inside a window: ``begin``
    opens it, a daemon thread samples every ``interval_s`` while it is
    open, and ``end`` closes it and returns the largest sample. Work
    outside a window (input generation, output checks) is not seen."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.peak_parts: dict = {}
        self._pid = os.getpid()
        self._lock = threading.Lock()
        self._open = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="erbench-rss", daemon=True)

    def _sample(self) -> None:
        mb, parts = tree_rss_mb(self._pid)
        with self._lock:
            if self._open.is_set() and mb > self.peak_mb:
                self.peak_mb, self.peak_parts = mb, parts

    def _run(self) -> None:
        while not self._stop.is_set():
            if self._open.wait(self.interval_s):
                self._sample()
                self._stop.wait(self.interval_s)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def begin(self) -> None:
        with self._lock:
            self.peak_mb, self.peak_parts = 0.0, {}
            self._open.set()
        self._sample()

    def end(self) -> float:
        self._sample()
        with self._lock:
            self._open.clear()
            return self.peak_mb

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(b")") + 2 :].split()[0] != b"Z"


def reap(pids: list[int], timeout_s: float = 20.0) -> list[int]:
    """Wait for ``pids`` (taken before shutdown: workers are re-parented
    once the JVM exits) to end; SIGKILL what is left after
    ``timeout_s``. Returns the pids that had to be killed."""
    deadline = time.time() + timeout_s
    left = [p for p in pids if _alive(p)]
    while left and time.time() < deadline:
        time.sleep(0.2)
        left = [p for p in left if _alive(p)]
    for p in left:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    deadline = time.time() + 5
    while any(_alive(p) for p in left) and time.time() < deadline:
        time.sleep(0.1)
    return left
