"""CPU and resident memory of a process tree, read from /proc.

The tree is the benchmark's own Python process and every descendant: the
JVM that py4j launched, the PySpark worker daemon under it and the Python
workers it forks. Exited descendants that were reaped inside the tree
leave their CPU time in their parent's cutime/cstime, so a difference of
two samples also counts work done by short-lived workers.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[int, float] | None:
    """(ppid, utime+stime+cutime+cstime seconds), or None if it is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces and parentheses: split after the last ')'
    fields = raw[raw.rindex(b")") + 2:].split()
    ppid = int(fields[1])
    return ppid, sum(int(x) for x in fields[11:15]) / _TICK


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", "rb") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


def tree(root: int) -> dict[int, float]:
    """pid -> cumulative CPU seconds for `root` and all its descendants."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid][1]
            todo.extend(children.get(pid, ()))
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:
        return False
    return raw[raw.rindex(b")") + 2:][:1] != b"Z"


def _wait(pids: set[int], timeout_s: float) -> None:
    deadline = time.monotonic() + timeout_s
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.05)


def wait_gone(pids: set[int], timeout_s: float) -> None:
    """Wait until none of `pids` runs (orphans are reaped by init); kill
    what is left after `timeout_s` and wait for that too."""
    _wait(pids, timeout_s)
    for p in pids:
        if _alive(p):
            os.kill(p, signal.SIGKILL)
    _wait(pids, timeout_s)


def host_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine from /proc/stat: the
    share of time the hypervisor gave to other guests."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def cpu_seconds(root: int) -> float:
    return sum(tree(root).values())


def rss_mb(root: int) -> float:
    return sum(_rss_bytes(pid) for pid in tree(root)) / 2**20


class PeakRss:
    """Background sampler of the tree's summed RSS; `peak_mb` is the
    highest sample seen between start() and stop()."""

    def __init__(self, root: int, interval_s: float = 0.1) -> None:
        self.root = root
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, rss_mb(self.root))
            self.samples += 1
            if self._stop.wait(self.interval_s):
                return

    def start(self) -> PeakRss:
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak_mb
