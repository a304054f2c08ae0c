"""Host and process-tree readings from /proc: load, CPU steal, the CPU
time and memory of this process with the JVM and Python workers it
started."""

from __future__ import annotations

import os
import threading


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


class PeakMemory:
    """Peak resident memory of this process and all its descendants (the
    JVM and the Python workers), sampled from /proc.  Each process counts
    its proportional set size, so pages the forked Python workers share
    with their parent count once."""

    def __init__(self, period: float = 0.25):
        self.period, self.peak = period, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss(os.getpid()))
            self._stop.wait(self.period)


def proc_stats() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, CPU clock ticks incl. reaped children) for every
    process in /proc."""
    table = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields after the command: state ppid ... utime stime cutime cstime
        table[int(pid)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    return table


def parents() -> dict[int, int]:
    return {pid: ppid for pid, (ppid, _) in proc_stats().items()}


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds used so far by this process and its descendants (the JVM
    and the Python workers).  Unlike wall time it does not grow while the
    host's hypervisor runs other guests on these cores."""
    root = root or os.getpid()
    stats = proc_stats()
    tree = [root] + descendants(root, {p: pp for p, (pp, _) in stats.items()})
    return sum(stats[p][1] for p in tree if p in stats) / os.sysconf("SC_CLK_TCK")


def descendants(root: int, table: dict[int, int]) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, ppid in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree_pss(root: int) -> int:
    return sum(pss_bytes(p) for p in [root] + descendants(root, parents()))
