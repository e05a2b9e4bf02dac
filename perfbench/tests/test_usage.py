"""CPU and memory accounting over a process tree."""

from __future__ import annotations

import subprocess
import sys
import time

import run

BURN = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5:\n    pass\n"


def test_tree_usage_keeps_the_cpu_of_reaped_children():
    # the child runs a CPU-burning grandchild to completion, reaps it and
    # idles, as Spark's Python daemon does with its workers
    script = f"import subprocess, sys, time\nsubprocess.run([sys.executable, '-c', {BURN!r}])\ntime.sleep(30)\n"
    child = subprocess.Popen([sys.executable, "-c", script])
    try:
        deadline = time.monotonic() + 20
        cpu, rss = run.tree_usage(child.pid)
        while cpu < 0.5 and time.monotonic() < deadline:
            time.sleep(0.1)
            cpu, rss = run.tree_usage(child.pid)
        assert cpu >= 0.5
        assert rss > 0
        time.sleep(0.3)
        assert run.tree_usage(child.pid)[0] < cpu + 0.1  # idle now
    finally:
        child.kill()
        child.wait()
