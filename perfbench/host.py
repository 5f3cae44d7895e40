"""Host fingerprint and process-tree memory sampling."""

from __future__ import annotations

import os
import platform
import threading
import time


def _mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


def fingerprint(spark) -> dict:
    """What a result depends on besides the code. Results whose
    fingerprints differ are not comparable."""
    import pyarrow

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_kb": _mem_total_kb(),
        "spark": spark.version,
        "python": platform.python_version(),
        "pyarrow": pyarrow.__version__,
        "master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
    }


def cpu_ticks() -> list[int]:
    """The host's cumulative CPU ticks (user, nice, system, idle, iowait,
    irq, softirq, steal), from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the host's CPU time between two cpu_ticks() readings that
    the hypervisor gave to other guests: other tenants' load."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(sum(d), 1)


def jvm_gc_s(spark) -> float:
    """Total time the driver JVM spent in garbage collection."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1e3


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields after ')' are fixed
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: pages shared by forked Python workers count
    once across the tree instead of once per process."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the resident memory (as PSS) of this process and all its
    descendants (the Spark driver JVM, the PySpark daemon and its Python
    workers) on a background thread; ``peak_mb`` is the largest sum seen."""

    def __init__(self, interval_s: float = 1.0) -> None:
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_pss_kb(p) for p in [me, *descendants(me)])
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(self.interval_s)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def reap(pids: list[int], timeout_s: float = 30.0) -> list[int]:
    """Wait until every pid in ``pids`` (captured while the session was up:
    once the JVM exits its children are re-parented away from us) and every
    current descendant has exited; kill what is left after ``timeout_s``.
    Returns the pids that had to be killed."""
    me = os.getpid()
    deadline = time.time() + timeout_s
    while True:
        for p in descendants(me):  # reap our own exited children
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass
        left = [p for p in {*pids, *descendants(me)} if _alive(p)]
        if not left or time.time() >= deadline:
            break
        time.sleep(0.2)
    for p in left:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass
    for p in left:
        try:
            os.waitpid(p, 0)
        except ChildProcessError:
            while _alive(p):
                time.sleep(0.1)
    return left
