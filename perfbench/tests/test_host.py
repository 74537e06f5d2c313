"""Process-tree CPU accounting (no Spark needed)."""

import os
import subprocess
import sys
import time

from perfbench.host import descendants, effective_cores, stop_descendants, tree_cpu_s

BURN = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass\ninput()"


def children_cpu_s() -> float:
    """Tree CPU minus this process's own user and system time."""
    own = os.times()
    return tree_cpu_s() - (own.user + own.system)


def test_tree_cpu_counts_live_and_exited_children():
    before = children_cpu_s()
    child = subprocess.Popen([sys.executable, "-c", BURN], stdin=subprocess.PIPE, text=True)
    try:
        deadline = time.monotonic() + 30
        while children_cpu_s() - before < 0.25 and time.monotonic() < deadline:
            time.sleep(0.05)
        assert children_cpu_s() - before >= 0.25  # the live child counts
    finally:
        child.communicate("\n")
    assert children_cpu_s() - before >= 0.25  # and still counts once reaped


# A child that starts a grandchild; both ignore SIGTERM.
TREE = """
import signal, subprocess, sys, time
signal.signal(signal.SIGTERM, signal.SIG_IGN)
subprocess.Popen([sys.executable, "-c",
                  "import signal, time; signal.signal(signal.SIGTERM, signal.SIG_IGN); time.sleep(600)"])
print("started", flush=True)
time.sleep(600)
"""


def test_stop_descendants_ends_the_whole_tree():
    child = subprocess.Popen([sys.executable, "-c", TREE], stdout=subprocess.PIPE, text=True)
    child.stdout.readline()
    deadline = time.monotonic() + 30
    while len(descendants()) < 2 and time.monotonic() < deadline:
        time.sleep(0.05)
    tree = descendants()
    assert len(tree) == 2
    assert stop_descendants(grace_s=0.5) == []
    assert descendants() == []
    assert child.poll() is not None  # reaped


def test_effective_cores_leaves_no_process():
    assert effective_cores(2) > 0
    assert descendants() == []
