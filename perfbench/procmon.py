"""CPU and memory of a whole process tree, read from ``/proc``.

The tree is this process and every descendant: the py4j JVM it launches and
the Python workers that JVM forks. ``getrusage(RUSAGE_CHILDREN)`` cannot see
the JVM's CPU (it is only reaped at exit), so each process is read directly.

Memory is the JVM's RSS plus the PSS (``smaps_rollup``) of every other
process, so pages the Python workers share with the daemon they were forked
from count once. The JVM's own PSS is not read: walking the page tables of
its heap five times a second would cost more CPU than the rest of the
sampling. A child caught between ``vfork`` and ``exec`` shares its parent's
address space and reports all of it as its own; so the peak is taken over
the running median of three samples, which such a blip cannot move.

A daemon thread samples the tree every ``SAMPLE_INTERVAL_S`` seconds and
keeps, per pid, the last cumulative CPU seen, so a worker that exits between
two reads still counts up to its last sample. ``cpu_s()`` takes a fresh reading first,
so a value read at the edge of a timed region is exact for live processes.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
SAMPLE_INTERVAL_S = 0.2


def _pss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
            for line in f:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass  # exited, or not readable
    return 0


def _read_stats() -> dict[int, tuple[int, float, int, bytes]]:
    """pid -> (ppid, cpu seconds, rss bytes, name) for every readable
    process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                raw = f.read()
        except OSError:
            continue  # exited between listdir and open
        # fields after the parenthesised command name (which may hold spaces)
        end = raw.rindex(b")")
        rest = raw[end + 2:].split()
        ppid = int(rest[1])
        cpu = (int(rest[11]) + int(rest[12])) / _TICK  # utime + stime
        rss = int(rest[21]) * _PAGE
        out[int(name)] = (ppid, cpu, rss, raw[raw.index(b"(") + 1:end])
    return out


class TreeMonitor:
    """Samples the process tree rooted at this process."""

    def __init__(self):
        self.root = os.getpid()
        self.peak_mem = self.peak_jvm = self.peak_py = 0  # bytes, at the peak
        self._recent: list[tuple[int, int, int]] = []  # (total, JVM, Python)
        self._cpu: dict[int, float] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        stats = _read_stats()
        children: dict[int, list[int]] = {}
        for pid, (ppid, *_) in stats.items():
            children.setdefault(ppid, []).append(pid)
        tree, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            if pid in stats:
                tree.append(pid)
                todo.extend(children.get(pid, ()))
        jvm = py = 0
        for pid in tree:
            _, _, rss, name = stats[pid]
            if name == b"java":
                jvm += rss
            else:
                py += _pss(pid)
        with self._lock:
            for pid in tree:
                self._cpu[pid] = stats[pid][1]
            self._recent = (self._recent + [(jvm + py, jvm, py)])[-3:]
            median = sorted(self._recent)[len(self._recent) // 2]
            if median[0] > self.peak_mem:
                self.peak_mem, self.peak_jvm, self.peak_py = median

    def _loop(self) -> None:
        while not self._stop.wait(SAMPLE_INTERVAL_S):
            self._sample()

    def start(self) -> "TreeMonitor":
        self._sample()
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    def cpu_s(self) -> float:
        """Cumulative CPU seconds of every process seen in the tree so far."""
        self._sample()
        with self._lock:
            return sum(self._cpu.values())
