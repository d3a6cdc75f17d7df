"""Run hygiene: host calibration, load and steal, process-tree memory,
and the other-Spark-JVM guard.  Linux /proc only, no extra packages."""

from __future__ import annotations

import os
import threading
import time


def host_calibration_sec() -> float:
    """``bench.py``'s fixed single-thread numpy kernel (8 chained
    1024x1024 matmuls), one repetition (~0.4-1 s)."""
    import numpy as np

    a = np.random.RandomState(0).rand(1024, 1024)
    t0 = time.perf_counter()
    for _ in range(8):
        a = a @ a % 1.0 + 0.5
    return time.perf_counter() - t0


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


# Steal share of the measurement above which a run is marked with a
# warning.  Runs on a 4-vCPU host measured under 0.5 % steal when quiet;
# at 2-11 % its commits and reads ran 20-55 % slower, so such figures
# are not comparable with quiet ones.
STEAL_LIMIT = 0.01


class StealMeter:
    """Share of CPU time stolen by the hypervisor between start and read."""

    def __init__(self):
        self.t0 = _cpu_times()

    def share(self) -> float:
        t1 = _cpu_times()
        d = [b - a for a, b in zip(self.t0, t1)]
        total = sum(d[:8])  # user..steal; guest time is inside user
        return d[7] / total if total else 0.0


def load_average() -> float:
    return os.getloadavg()[0]


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_pss_bytes(root: int) -> int:
    """Summed proportional set size (PSS) of all descendants of
    ``root``, not ``root`` itself.  PSS splits shared pages among their
    sharers: summed RSS counts a forked child's copy of its parent's
    pages twice (a JVM's transient forks double it for a moment)."""
    kids = _children()
    todo, total = list(kids.get(root, [])), 0
    while todo:
        pid = todo.pop()
        todo += kids.get(pid, [])
        try:
            total += _pss_bytes(pid)
        except (OSError, IndexError, ValueError):
            continue
    return total


class MemSampler:
    """Background sampler of the summed PSS of this process's
    descendants: the driver JVM and its Python workers.  The benchmark
    process itself (generators, gold sets) is left out."""

    # one sample walks /proc and the JVM's page table (~30 ms on a
    # 2 GB heap); once a second keeps that off the timed ops
    INTERVAL = 1.0

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes(me))
            self._stop.wait(self.INTERVAL)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


def other_spark_jvms() -> list[int]:
    """PIDs of running JVMs that host a Spark driver or executor."""
    me = os.getpid()
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) == me:
            continue
        try:
            with open(f"/proc/{name}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ")
        except OSError:
            continue
        if b"java" in cmd and b"org.apache.spark" in cmd:
            out.append(int(name))
    return out


def wait_for_no_spark() -> list[int]:
    """Give a JVM that is still exiting 30 seconds; return the PIDs
    still running after that (empty = clear to start)."""
    deadline = time.monotonic() + 30.0
    while True:
        pids = other_spark_jvms()
        if not pids or time.monotonic() > deadline:
            return pids
        time.sleep(0.5)
