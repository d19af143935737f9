"""Host-side measurements read from /proc: CPU and peak memory of this
process and every process it started (the Spark JVM and its Python
workers), and hypervisor steal time."""

from __future__ import annotations

import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:  # exited while we walked
            continue
        ppid = int(stat.rpartition(")")[2].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree() -> list[int]:
    """This process and all its live descendants."""
    kids = _children()
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """User+system CPU seconds of the process tree, including children
    it has already reaped."""
    total = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rpartition(")")[2].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime are fields 14-17 of stat(5).
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def tree_rss_mb() -> float:
    """Resident memory of the process tree now, as the sum of each
    process's proportional set size: Python workers forked from one daemon
    share most of their pages, which a sum of plain RSS would count once
    per worker."""
    kb = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


class RssSampler:
    """Samples the process tree's resident memory on a thread until
    ``stop``, which returns the highest sample. Short-lived Python
    workers count while they are alive, which a per-process high-water
    mark read at the end would miss. A sample of a Spark process tree
    costs ~30 ms of CPU, so it is taken once a second, not more often,
    to keep the sampler's own load out of what it measures."""

    def __init__(self, interval_s: float = 1.0):
        self._peak = tree_rss_mb()
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._loop, args=(interval_s,), daemon=True)
        self._thread.start()

    def _loop(self, interval_s: float) -> None:
        while not self._done.wait(interval_s):
            self._peak = max(self._peak, tree_rss_mb())

    def stop(self) -> float:
        self._done.set()
        self._thread.join(timeout=10)
        return max(self._peak, tree_rss_mb())


def steal_s() -> float:
    """Host-wide CPU time stolen by the hypervisor since boot."""
    with open("/proc/stat") as fh:
        cpu = fh.readline().split()
    return int(cpu[8]) / _TICK if len(cpu) > 8 else 0.0


def memory_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 0


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def reap(pids: list[int], timeout: float = 20.0) -> None:
    """Wait until every pid has exited; SIGKILL whatever outlives
    ``timeout``. The pids need not be our children."""
    deadline = time.monotonic() + timeout
    live = [p for p in pids if p != os.getpid()]
    while live:
        live = [p for p in live if _alive(p)]
        if not live:
            return
        if time.monotonic() > deadline:
            for p in live:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + timeout
        time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        os.waitpid(pid, os.WNOHANG)
    except ChildProcessError:
        pass  # not our child: fall through to the /proc check
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rpartition(")")[2].split()[0] != "Z"
    except OSError:
        return False
