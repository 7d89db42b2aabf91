"""CPU time and resident memory of this process and all its descendants.

Read from ``/proc`` so that the Spark driver JVM and the Python workers it
forks are counted along with the Python driver (``resource.getrusage`` and
``ru_maxrss`` see only the calling process and reaped children).
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int):
    """(ppid, cpu seconds incl. reaped children, rss bytes) or None."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may contain spaces: split after the closing parenthesis.
    fields = raw[raw.rindex(")") + 2:].split()
    ppid = int(fields[1])
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    rss = int(fields[21]) * _PAGE
    return ppid, (utime + stime + cutime + cstime) / _TICK, rss


def _tree() -> dict[int, tuple]:
    """``_stat`` of this process and all its descendants, by pid."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                procs[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out[pid] = procs[pid]
        todo.extend(children.get(pid, ()))
    return out


def tree_usage() -> tuple[float, int]:
    """(cpu seconds, rss bytes) summed over this process and its
    descendants."""
    tree = _tree().values()
    return sum(t[1] for t in tree), sum(t[2] for t in tree)


def descendants() -> list[int]:
    """Pids of every live descendant of this process."""
    return [pid for pid in _tree() if pid != os.getpid()]


def running(pids: list[int]) -> list[int]:
    """The pids that still run (exited and zombie processes do not)."""
    out = []
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        if raw[raw.rindex(")") + 2] != "Z":
            out.append(pid)
    return out


class TreeSampler:
    """Samples the process tree on a background thread while active.

    ``cpu_s`` is the tree's CPU time between ``start`` and ``stop``, less
    the CPU time of the sampling thread itself; ``peak_rss_bytes`` is the
    largest summed RSS seen in between; ``steal_share`` is the host's steal
    share of CPU time in between (a diagnostic: no metric is scaled by
    it)."""

    def __init__(self, interval_s: float = 0.25):
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._cpu0 = 0.0
        self._ticks0 = (0, 0)
        self._own_cpu = 0.0
        self.cpu_s = 0.0
        self.peak_rss_bytes = 0
        self.steal_share = 0.0

    def start(self) -> None:
        self._cpu0, self.peak_rss_bytes = tree_usage()
        self._ticks0 = host_cpu_ticks()
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        t0 = time.thread_time()
        while not self._stop.wait(self._interval):
            _, rss = tree_usage()
            self.peak_rss_bytes = max(self.peak_rss_bytes, rss)
        self._own_cpu = time.thread_time() - t0

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join()
        cpu1, rss = tree_usage()
        self.peak_rss_bytes = max(self.peak_rss_bytes, rss)
        self.cpu_s = cpu1 - self._cpu0 - self._own_cpu
        self.steal_share = steal_share(self._ticks0, host_cpu_ticks())


def host_cpu_ticks() -> tuple[int, int]:
    """(steal ticks, all ticks) of the host's CPUs since boot. Steal is
    time the hypervisor ran another guest while this one was runnable."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])


def steal_share(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    """Share of host CPU time stolen between two ``host_cpu_ticks``."""
    return (t1[0] - t0[0]) / max(t1[1] - t0[1], 1)

