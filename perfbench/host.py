"""Process-tree CPU and memory, and host steadiness, read from /proc.

The engine runs in three kinds of process: this Python driver, the JVM it
launches, and the Python UDF workers the JVM forks. A build's CPU cost is
the sum over all of them, so every figure here is taken over the process
tree rooted at this process. CPU of children that already exited is
included through ``cutime``/``cstime`` of the parent that reaped them.
The tree is walked through each process's ``children`` list, so no other
process on the host is read.
"""

from __future__ import annotations

import glob
import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # the process exited
        return None
    # comm (field 2) may contain spaces; everything after the last ')' is
    # space separated, starting at field 3 (state)
    return raw[raw.rindex(")") + 2:].split()


def _children(pid: int) -> list[int]:
    out = []
    for path in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(path) as fh:
                out.extend(map(int, fh.read().split()))
        except OSError:
            pass
    return out


def tree_pids() -> list[int]:
    """This process and all its descendants."""
    tree, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(_children(pid))
    return tree


def tree_cpu_s() -> float:
    """User + system CPU seconds of the tree, reaped children included."""
    # fields (from 3): utime=14, stime=15, cutime=16, cstime=17
    return sum(sum(int(f[i]) for i in (11, 12, 13, 14))
               for f in map(_stat_fields, tree_pids()) if f) / _TICK


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_pss_mb() -> float:
    """Proportional set size of the tree: pages shared between processes
    (the forked UDF workers share most of theirs) are counted once."""
    return sum(_pss_kb(pid) for pid in tree_pids()) / 1024


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat, in ticks."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of host CPU time stolen by the hypervisor between two
    :func:`cpu_times` readings, in percent."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])  # user..steal; guest time is inside user
    return 100.0 * delta[7] / total if total else 0.0


class MemorySampler:
    """Samples the tree's proportional set size every 0.5 s on a daemon
    thread while a ``with`` block runs, and keeps the peak over every
    block it has been entered for."""

    def __init__(self):
        self.peak_mb = 0.0

    def _run(self, stop: threading.Event):
        while True:
            self.peak_mb = max(self.peak_mb, tree_pss_mb())
            if stop.wait(0.5):
                return

    def __enter__(self):
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, args=(self._stop,),
                                        daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_pss_mb())


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie has ended)."""
    fields = _stat_fields(pid)
    return fields is not None and fields[0] != "Z"
