"""Host annotation for every run: core count, load averages, hypervisor
steal from /proc/stat, and the resident memory of a process tree."""

from __future__ import annotations

import os
import threading


def nproc() -> int:
    """Cores this process may run on (what `nproc` prints)."""
    return len(os.sched_getaffinity(0))


def steal_split(cpu_line: str) -> tuple[int, int]:
    """(total, steal) jiffies from the aggregate `cpu` line of /proc/stat.

    Fields: user nice system idle iowait irq softirq steal guest guest_nice.
    guest and guest_nice are left out of the total because the kernel
    already counts them inside user and nice; summing all ten counts guest
    time twice and understates steal."""
    vals = [int(x) for x in cpu_line.split()[1:]]
    return sum(vals[:8]), (vals[7] if len(vals) > 7 else 0)


def cpu_times() -> tuple[int, int]:
    with open("/proc/stat") as f:
        return steal_split(f.readline())


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    dt = after[0] - before[0]
    return 100.0 * (after[1] - before[1]) / dt if dt > 0 else 0.0


def _tree_rss_bytes(root: int) -> int:
    """Summed resident set of `root` and all its descendants."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d))
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


class TreeRss:
    """Samples the resident memory of this process and everything it
    started (the JVM and its Python workers) on a background thread and
    keeps the peak since the last reset()."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "TreeRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            rss = _tree_rss_bytes(me)
            with self._lock:
                self._peak = max(self._peak, rss)
            self._stop.wait(self.interval_s)

    def reset(self) -> None:
        with self._lock:
            self._peak = _tree_rss_bytes(os.getpid())

    def peak_mb(self) -> float:
        with self._lock:
            return self._peak / (1 << 20)
