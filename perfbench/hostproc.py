"""Process-tree CPU and memory from /proc, and host noise from /proc/stat.

The tree is this process and every descendant: the Spark JVM and its
Python workers. CPU counts each live process's user+sys time plus the
time of children it has already reaped, so forked Python workers that
exit inside a measured interval still count.
"""

from __future__ import annotations

import os
import threading
from typing import Dict, List, Tuple

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int):
    with open(f"/proc/{pid}/stat", "rb") as f:
        raw = f.read()
    # fields after the parenthesised command name, which may hold spaces
    return raw[raw.rindex(b")") + 2:].split()


def _tree() -> Dict[int, list]:
    """pid -> stat fields for this process and its descendants."""
    stats, kids = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            f = _stat(int(name))
        except (FileNotFoundError, ProcessLookupError, ValueError):
            continue
        stats[int(name)] = f
        kids.setdefault(int(f[1]), []).append(int(name))
    out, todo = {}, [os.getpid()]
    while todo:
        p = todo.pop()
        if p in stats:
            out[p] = stats[p]
            todo.extend(kids.get(p, []))
    return out


def _cpu(f) -> float:
    # utime stime cutime cstime are fields 14-17 of stat; here 0-based 11-14
    return sum(int(x) for x in f[11:15]) / _TICK


def tree_cpu_s() -> float:
    return sum(_cpu(f) for f in _tree().values())


def _is_python_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read()
    except FileNotFoundError:
        return False
    return b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd


def python_worker_cpu_s() -> float:
    """CPU of the pyspark daemon and the workers it forked."""
    return sum(_cpu(f) for pid, f in _tree().items() if _is_python_worker(pid))


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except FileNotFoundError:
        pass
    return 0


def tree_rss_mb() -> float:
    """Resident memory of this process, its direct children (the JVM) and
    the Python workers. Workers are forked from the pyspark daemon and
    share its pages, so they count their proportional share (PSS). Other
    descendants are short-lived helpers the JVM spawns; until they exec
    they report the JVM's own pages, so they are left out."""
    me, total = os.getpid(), 0
    for pid, f in _tree().items():
        if _is_python_worker(pid):
            total += _pss_bytes(pid)
        elif pid == me or int(f[1]) == me:
            total += int(f[21]) * _PAGE
    return total / 2**20


def du_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(d, name))
            except FileNotFoundError:
                pass
    return total


class RssSampler:
    """Samples tree RSS every ``period`` seconds between start and stop;
    ``peak_mb`` is the high-water mark."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = None

    def __enter__(self):
        self.peak_mb = tree_rss_mb()
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def _loop(self):
        while not self._stop.wait(self.period):
            self.peak_mb = max(self.peak_mb, tree_rss_mb())

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb())


def cpu_snap() -> List[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


# a run is flagged noisy above these shares of all host CPU time
STEAL_FLAG = 0.05
NONGUEST_FLAG = 0.25


def host_noise(prev: List[int]) -> Tuple[float, float, bool]:
    """(steal share, non-guest share, flagged) of host CPU time since
    ``prev``. Non-guest is system + irq + softirq + steal: time the host
    spent outside this workload's user code, as in ``bench.py``."""
    d = [a - b for a, b in zip(cpu_snap(), prev)]
    tot = sum(d) or 1
    steal = d[7] / tot
    nonguest = (d[2] + d[5] + d[6] + d[7]) / tot
    return steal, nonguest, steal > STEAL_FLAG or nonguest > NONGUEST_FLAG
