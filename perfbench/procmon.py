"""Host-side measurements read from ``/proc``: process age, the summed
resident set of the benchmark's child processes (the Spark driver JVM
and its Python workers) and the load average."""

from __future__ import annotations

import os
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICKS = os.sysconf("SC_CLK_TCK")
_SAMPLE_S = 0.05  # RSS sampling interval


def process_age_s() -> float:
    """Seconds since this process started.  Its start time in
    ``/proc/self/stat`` counts clock ticks since boot, so it is compared
    with the boot-time clock directly (``/proc/stat``'s ``btime`` would
    add up to a second of rounding)."""
    with open("/proc/self/stat") as fh:
        # field 22 (starttime); the command name in field 2 may hold
        # spaces, so split after its closing parenthesis
        fields = fh.read().rsplit(")", 1)[1].split()
    return time.clock_gettime(time.CLOCK_BOOTTIME) - int(fields[19]) / _TICKS


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot.  Steal is the
    time the hypervisor gave this VM's CPUs to someone else."""
    with open("/proc/stat") as fh:
        # cpu user nice system idle iowait irq softirq steal guest ...;
        # guest time is already counted in user and nice
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def steal_share(since: tuple[int, int]) -> float:
    """Share of all CPU time stolen since ``since`` (a ``cpu_ticks()``)."""
    steal, total = cpu_ticks()
    return (steal - since[0]) / max(total - since[1], 1)


def load_average() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue  # exited while listing
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants() -> list[int]:
    """Every process this process started, directly or not."""
    kids = _children_map()
    out, todo = [], list(kids.get(os.getpid(), []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE
    except (OSError, ValueError, IndexError):
        return 0


def children_rss_bytes() -> int:
    """Summed RSS of every descendant of this process."""
    return sum(_rss_bytes(p) for p in descendants())


class PeakRss:
    """Samples the summed child RSS on a background thread between
    ``start`` and ``stop``; ``peak_mb`` is the largest sample."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, children_rss_bytes())
            if self._stop.wait(_SAMPLE_S):
                return

    def start(self) -> None:
        self.peak = 0
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        if self._thread.is_alive():
            raise RuntimeError("RSS sampler did not stop")
        self.peak = max(self.peak, children_rss_bytes())
        return self.peak / 1e6
