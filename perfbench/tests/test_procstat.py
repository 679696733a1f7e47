"""The /proc sampler behind cpu_s and peak_rss_mb."""

from __future__ import annotations

import os
import subprocess
import sys
import time

from perfbench import procstat

BUSY = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass"


def test_cpu_of_reaped_grandchildren_stays_in_the_tree():
    root = os.getpid()
    before = procstat.cpu_seconds(root)
    child = subprocess.Popen([
        sys.executable, "-c",
        f"import subprocess, sys; subprocess.run([sys.executable, '-c', {BUSY!r}])",
    ])
    deadline = time.time() + 10
    while len(procstat.tree(root)) < 3 and time.time() < deadline:
        time.sleep(0.01)
    assert child.pid in procstat.tree(root)
    assert len(procstat.tree(root)) >= 3  # us, the child, the grandchild
    child.wait(timeout=30)
    assert procstat.cpu_seconds(root) - before >= 0.45


def test_peak_rss_sees_a_short_lived_allocation():
    root = os.getpid()
    base = procstat.rss_mb(root)
    sampler = procstat.PeakRss(root, interval_s=0.02).start()
    child = subprocess.Popen([
        sys.executable, "-c",
        "import time; b = bytearray(300 * 2**20); time.sleep(0.5)",
    ])
    child.wait(timeout=30)
    peak = sampler.stop()
    assert sampler.samples > 5
    assert peak - base > 250
