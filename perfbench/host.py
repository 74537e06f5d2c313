"""Host and environment record written beside every run.

The shared host's parallel capacity swings between phases while
single-thread speed stays flat, so each run records the effective core
count before and after it: ``nproc`` worker processes spin a fixed
hash loop, and the record gives ``nproc × single-process time ÷
parallel wall``.

Also here: the process-tree walk behind the CPU accounting, and
``stop_descendants``, which ends every process a run started.
"""

from __future__ import annotations

import hashlib
import os
import platform
import signal
import subprocess
import sys
import time

SPIN_ROUNDS = 4000


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def spin(rounds: int = SPIN_ROUNDS) -> float:
    """Hash ``rounds`` 8 KiB blocks; returns the seconds it took."""
    t0 = time.perf_counter()
    h = hashlib.md5()
    block = b"x" * 8192
    for _ in range(rounds):
        h.update(block)
    return time.perf_counter() - t0


# A probe worker: report ready, wait for "go", spin, print its end time.
_WORKER = """
import hashlib, sys, time
block, h = b"x" * 8192, hashlib.md5()
print("ready", flush=True)
sys.stdin.readline()
for _ in range(int(sys.argv[1])):
    h.update(block)
print(time.monotonic(), flush=True)
"""


def effective_cores(workers: int | None = None) -> float:
    """Parallel capacity seen by ``workers`` processes right now. The
    workers are plain subprocesses, each waited for before returning."""
    workers = workers or nproc()
    single = min(spin() for _ in range(3))
    procs = []
    try:
        for _ in range(workers):
            procs.append(subprocess.Popen(
                [sys.executable, "-c", _WORKER, str(SPIN_ROUNDS)],
                stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True))
        for p in procs:  # every worker is started before timing
            p.stdout.readline()
        t0 = time.monotonic()
        for p in procs:
            p.stdin.write("go\n")
            p.stdin.flush()
        wall = max(float(p.stdout.readline()) for p in procs) - t0
    finally:
        for p in procs:
            p.kill()
            p.communicate()
    return workers * single / wall


def _process_table() -> dict[int, tuple[int, str, int]]:
    """pid -> (parent pid, state letter, CPU ticks of itself and its
    reaped children) for every process."""
    table = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # exited while listing
            continue
        # fields after "(comm)": state ppid ... utime stime cutime cstime (1st, 2nd, 12th-15th)
        fields = stat[stat.rindex(")") + 2 :].split()
        table[int(entry)] = (int(fields[1]), fields[0], sum(int(x) for x in fields[11:15]))
    return table


def _tree(table: dict, root: int) -> list[int]:
    """``root`` and every descendant of it in ``table``."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User plus system CPU seconds used so far by process ``root``
    (default: this one) and its live descendants: the Spark JVM and its
    Python workers. A descendant that has exited counts through its
    parent's reaped-children time, so differences stay exact."""
    table = _process_table()
    ticks = sum(table[pid][2] for pid in _tree(table, root or os.getpid()) if pid in table)
    return ticks / os.sysconf("SC_CLK_TCK")


def descendants(table: dict | None = None) -> list[int]:
    """Live (not zombie) processes below this one."""
    table = table or _process_table()
    return [pid for pid in _tree(table, os.getpid())[1:] if table[pid][1] not in "ZX"]


def _reap() -> None:
    """Collect the exit status of every ended child of this process."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_descendants(grace_s: float = 10.0) -> list[int]:
    """End every process below this one (the Spark JVM, its Python
    workers, any probe) and wait until each has ended: SIGTERM, then
    SIGKILL for what outlives ``grace_s``. The whole tree is signalled
    at once, so a grandchild is not lost to re-parenting when its
    parent dies first. Returns the pids that would not end."""
    pids = descendants()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace_s
        while True:
            _reap()
            table = _process_table()
            pids = [pid for pid in pids if pid in table and table[pid][1] not in "ZX"] + [
                pid for pid in descendants(table) if pid not in pids]
            if not pids or time.monotonic() >= deadline:
                break
            time.sleep(0.05)
        if not pids:
            break
    _reap()
    return pids


def commit(root: str) -> str:
    """HEAD commit when ``root`` is a git checkout, else ``unknown``."""
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def environment(root: str) -> dict:
    import numpy
    import pyspark

    return {
        "nproc": nproc(),
        "omp_num_threads": os.environ.get("OMP_NUM_THREADS"),
        "spark": pyspark.__version__,
        "numpy": numpy.__version__,
        "python": platform.python_version(),
        "commit": commit(root),
    }
