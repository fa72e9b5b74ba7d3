"""Child processes of the benchmark (enumeration, peak RSS, kill) and the
host's CPU steal time."""

from __future__ import annotations

import os
import signal
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def descendants() -> list[int]:
    """PIDs of every live process descended from this one (the Spark JVM
    and its Python workers)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # exited while we looked
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [os.getpid()]
    while todo:
        for pid in children.get(todo.pop(), []):
            out.append(pid)
            todo.append(pid)
    return out


def kill_descendants() -> None:
    for pid in descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            continue
    return total


class PeakRss:
    """Samples the summed RSS of all descendant processes every
    *interval* seconds between ``start`` and ``stop``."""

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self.peak = 0
        self._halt = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> int:
        self._halt.set()
        self._thread.join(timeout=5)
        return self.peak

    def _loop(self) -> None:
        while True:
            self.peak = max(self.peak, _rss_bytes(descendants()))
            if self._halt.wait(self.interval):
                return


def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]:
    # guest time is already counted in user and nice
    return fields[7], sum(fields[:8])


class CpuSteal:
    """Share of CPU time the hypervisor gave to other guests between
    construction and ``frac``: how much a neighbour slowed the run."""

    def __init__(self) -> None:
        self._start = _cpu_jiffies()

    def frac(self) -> float:
        steal, total = _cpu_jiffies()
        return (steal - self._start[0]) / max(total - self._start[1], 1)
