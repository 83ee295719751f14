"""Peak resident memory of this process and everything it started: the
Python driver, the Spark JVM and its Python workers, read from /proc.

Two sums are kept. ``total`` counts the whole process tree. ``core``
leaves out the JVM's descendants, the Python workers: Spark forks a new
worker whenever every idle one is busy and keeps it for reuse, so how
many exist at the peak depends on how the clients' jobs happened to
overlap, and the total jumps by about a worker pool from run to run."""

from __future__ import annotations

import os
import threading


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return out


def _status(pid: int) -> tuple[str, int]:
    """(command name, resident kB) of ``pid``; ("", 0) once it is gone."""
    name, rss = "", 0
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("Name:"):
                    name = line.split()[1]
                elif line.startswith("VmRSS:"):
                    rss = int(line.split()[1])
    except OSError:
        pass
    return name, rss


def tree_rss_kb(root: int) -> tuple[int, int]:
    """(total, core) resident kB of ``root`` and its descendants, where
    core leaves out everything below a ``java`` process."""
    total = core = 0
    todo, seen = [(root, False)], set()
    while todo:
        pid, below_jvm = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        name, rss = _status(pid)
        total += rss
        if not below_jvm:
            core += rss
        below = below_jvm or name == "java"
        todo.extend((c, below) for c in _children(pid))
    return total, core


class RssSampler:
    """Samples the process tree's resident set every ``interval`` s on a
    daemon thread and keeps the largest total and core sums seen."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self.core_peak_kb = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            total, core = tree_rss_kb(pid)
            self.peak_kb = max(self.peak_kb, total)
            self.core_peak_kb = max(self.core_peak_kb, core)
            self.samples += 1
            if self._stop.wait(self.interval):
                return

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0

    @property
    def core_peak_mb(self) -> float:
        return self.core_peak_kb / 1024.0
