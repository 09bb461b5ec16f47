"""Process helpers: the JVM's process tree, its summed PSS, and reaping.

Everything here reads ``/proc`` directly (Linux only), so the benchmark
needs no third-party process library.
"""

from __future__ import annotations

import os
import signal
import threading
import time


def _stat(pid: int) -> list[bytes] | None:
    """Fields of /proc/<pid>/stat after the command name (state first)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
    except OSError:
        return None
    # the command name may hold spaces and parentheses
    return stat[stat.rindex(b")") + 2:].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        fields = _stat(int(entry)) if entry.isdigit() else None
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def pss_kb(pid: int) -> int:
    """Proportional set size of one process in KiB (0 once it is gone)."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakPss:
    """Samples the summed PSS of a process tree on a background thread.

    ``take()`` returns the peak since the previous ``take()`` as (total MB,
    the root's own MB in that sample) and starts a new window. The process
    list is refreshed once a second; PSS is read every ``interval_s``."""

    def __init__(self, root: int, interval_s: float = 0.5):
        self.root = root
        self.interval_s = interval_s
        self._pids = descendants(root)
        self._peak = (0.0, 0.0)
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        root_kb = pss_kb(self.root)
        total_mb = (root_kb + sum(pss_kb(p) for p in self._pids[1:])) / 1024.0
        with self._lock:
            if total_mb > self._peak[0]:
                self._peak = (total_mb, root_kb / 1024.0)

    def _loop(self) -> None:
        n = 0
        while not self._stop.wait(self.interval_s):
            n += 1
            if n % max(1, round(1.0 / self.interval_s)) == 0:
                self._pids = descendants(self.root)
            self._sample()

    def take(self) -> tuple[float, float]:
        self._sample()
        with self._lock:
            peak, self._peak = self._peak, (0.0, 0.0)
        return peak

    def __enter__(self) -> "PeakPss":
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def _alive(pid: int) -> bool:
    fields = _stat(pid)
    return fields is not None and fields[0] != b"Z"


def wait_gone(pids: list[int], timeout_s: float) -> None:
    """Wait until every pid has exited; SIGKILL what is left after
    ``timeout_s`` and wait up to 10 s more for that."""
    deadline = time.monotonic() + timeout_s
    killed = False
    while live := [p for p in pids if _alive(p)]:
        if time.monotonic() > deadline:
            if killed:
                raise RuntimeError(f"processes {live} survived SIGKILL")
            for p in live:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed, deadline = True, time.monotonic() + 10.0
        time.sleep(0.05)
