"""Process-tree accounting read from ``/proc``: CPU time of the whole
tree (driver, JVM, Python workers), the peak RSS of the Python workers
and of the JVM, and the host's steal time.

CPU is ``utime + stime + cutime + cstime`` summed over this process and
every live descendant, so a child that exits between two readings is
still counted through its parent's ``cutime``.  Peak RSS is each
process's own high-water mark (``VmHWM``), sampled every 0.2 s so that
a worker that exits mid-phase is not lost.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        for c in kids.get(pid, ()):
            out.append(c)
            todo.append(c)
    return out


def _cpu_ticks(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return 0
    f = stat[stat.rindex(")") + 2:].split()
    return int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])


def tree_cpu_s() -> float:
    me = os.getpid()
    return sum(_cpu_ticks(p) for p in [me, *descendants(me)]) / _TICK


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) ticks of the whole host from ``/proc/stat``: time a
    hypervisor gave to other guests shows as steal."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f[:8])


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def classify() -> tuple[int | None, list[int]]:
    """-> (JVM pid, Python worker pids) below this process.  Workers are
    the children of the ``pyspark.daemon`` process the JVM starts."""
    kids = _children_map()
    jvm = None
    todo = list(kids.get(os.getpid(), ()))
    while todo:
        pid = todo.pop()
        if "java" in _cmdline(pid).split(" ")[0]:
            jvm = pid
            break
        todo.extend(kids.get(pid, ()))
    workers = []
    if jvm is not None:
        for d in kids.get(jvm, ()):
            if "pyspark.daemon" in _cmdline(d):
                workers.extend(kids.get(d, ()))
    return jvm, workers


class PeakRss:
    """Samples VmHWM of the JVM and of every Python worker while
    running; ``workers_mb(n)`` sums the ``n`` largest worker peaks."""

    def __init__(self, period_s: float = 0.2):
        self.period_s = period_s
        self.worker_kb: dict[int, int] = {}
        self.jvm_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        jvm, workers = classify()
        if jvm is not None:
            self.jvm_kb = max(self.jvm_kb, _hwm_kb(jvm))
        for pid in workers:
            self.worker_kb[pid] = max(self.worker_kb.get(pid, 0),
                                      _hwm_kb(pid))

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()

    def workers_mb(self, n: int) -> float:
        return sum(sorted(self.worker_kb.values())[-n:]) / 1024.0
