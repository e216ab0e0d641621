"""CPU and resident memory of this process tree, read from /proc.

The tree is this Python process, the Spark JVM it launches and every
Python worker the JVM forks. CPU is kept monotonic: a process that exits
keeps contributing its last-seen utime+stime, so an op's CPU is not lost
when Spark tears a worker down between two samples. Identity is
(pid, starttime), so a reused pid counts as a new process.
"""

from __future__ import annotations

import os
import threading

_HZ = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _read_procs() -> dict[int, tuple[int, int, float, int]]:
    """pid -> (ppid, starttime, cpu_s, rss_bytes) for every visible process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                data = f.read()
        except OSError:
            continue
        rp = data.rindex(")")
        fields = data[rp + 2 :].split()
        # fields[k] is stat field k+3 (proc(5)): ppid 4, utime 14,
        # stime 15, starttime 22, rss 24
        out[int(name)] = (
            int(fields[1]),
            int(fields[19]),
            (int(fields[11]) + int(fields[12])) / _HZ,
            int(fields[21]) * _PAGE,
        )
    return out


class ProcTree:
    """Samples the tree rooted at this process; safe to call from two threads."""

    def __init__(self) -> None:
        self._root = os.getpid()
        self._last: dict[tuple[int, int], float] = {}
        self._retired = 0.0
        self.peak_rss = 0
        self._lock = threading.Lock()

    def sample(self) -> float:
        """Cumulative CPU seconds of the tree; also updates peak_rss."""
        procs = _read_procs()
        mine = {self._root}
        # parents precede children in pid order except after pid wrap;
        # iterate until no new descendant is found
        changed = True
        while changed:
            changed = False
            for pid, (ppid, _, _, _) in procs.items():
                if ppid in mine and pid not in mine:
                    mine.add(pid)
                    changed = True
        with self._lock:
            live = {(p, procs[p][1]): procs[p][2] for p in mine if p in procs}
            for key in [k for k in self._last if k not in live]:
                self._retired += self._last.pop(key)
            for key, cpu in live.items():
                self._last[key] = max(cpu, self._last.get(key, 0.0))
            rss = sum(procs[p][3] for p in mine if p in procs)
            self.peak_rss = max(self.peak_rss, rss)
            return self._retired + sum(self._last.values())


class RssSampler:
    """Background thread sampling the tree every `period` seconds."""

    def __init__(self, tree: ProcTree, period: float = 0.2) -> None:
        self._tree = tree
        self._period = period
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self._period):
            self._tree.sample()

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _HZ  # "cpu" user nice system idle iowait irq softirq steal
