"""Spark and process accounting, read from outside the program.

- Jobs and stages: the DAG scheduler's next job / stage id. The delta
  across an interval counts every job submitted in it, whatever job group
  it runs under and however few jobs the status store retains.
- Stage task time and shuffle bytes: the JVM status store
  (``sc._jsc.sc().statusStore()``), per stage id, cached once read.
- Live JVM heap: heap in use after a full collection, from the memory MXBean.
- CPU time the VM's CPUs ran and the hypervisor stole: ``/proc/stat``.
- CPU seconds and RSS of the process tree (this Python process, the JVM
  and its Python workers): ``/proc``.
"""

from __future__ import annotations

import os
import threading
from collections import defaultdict

from py4j.protocol import Py4JJavaError


def cpu_ticks() -> tuple[int, int]:
    """(ticks the VM's CPUs ran, ticks the hypervisor stole from them) since
    boot, over all CPUs. Steal accrues only while a CPU has work to run."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = map(
            int, f.readline().split()[1:9]
        )
    return user + nice + system + irq + softirq, steal


def ran_share(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    """Share of the CPU time wanted between two ``cpu_ticks`` readings that
    the CPUs actually ran: 1.0 on an unshared host."""
    ran, stolen = t1[0] - t0[0], t1[1] - t0[1]
    return ran / (ran + stolen) if ran + stolen > 0 else 1.0


class ProcessTree:
    """CPU seconds and resident bytes of a process and its descendants."""

    def __init__(self, root_pid: int | None = None):
        self.root = root_pid or os.getpid()
        self._tick = os.sysconf("SC_CLK_TCK")
        self._page = os.sysconf("SC_PAGE_SIZE")

    def processes(self) -> dict[int, tuple[float, int]]:
        """pid → (cpu seconds, rss bytes) for the root and its descendants.
        CPU includes reaped children (cutime/cstime), so finished worker
        processes still count."""
        stats, kids = {}, defaultdict(list)
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat", "rb") as f:
                    raw = f.read()
            except OSError:
                continue  # exited between listdir and open
            fields = raw[raw.rindex(b")") + 2:].split()
            pid = int(d)
            stats[pid] = fields
            kids[int(fields[1])].append(pid)
        out = {}
        todo = [self.root]
        while todo:
            pid = todo.pop()
            f = stats.get(pid)
            if f is None:
                continue
            cpu = sum(int(x) for x in f[11:15]) / self._tick
            out[pid] = (cpu, int(f[21]) * self._page)
            todo.extend(kids.get(pid, ()))
        return out

    def cpu_s(self) -> float:
        return sum(c for c, _ in self.processes().values())


class PeakRss:
    """One thread sampling the tree's RSS; ``peak`` is the highest seen
    since the last ``reset``. Only processes alive in two consecutive
    samples count: a child the JVM forks to exec a shell tool shares the
    JVM's pages for its few milliseconds and would count them twice. Use
    as a context manager: the thread is joined on exit."""

    def __init__(self, tree: ProcessTree, interval: float = 0.25):
        self.tree, self.interval = tree, interval
        self.peak = 0
        self._prev: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _sample(self) -> int:
        procs = self.tree.processes()
        rss = sum(r for pid, (_, r) in procs.items() if pid in self._prev)
        self._prev = set(procs)
        return rss

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.peak = max(self.peak, self._sample())

    def reset(self) -> None:
        self._sample()
        self.peak = 0

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


class SparkCounters:
    """Job/stage ids and per-stage metrics of one SparkContext."""

    def __init__(self, sc):
        self._sc = sc._jsc.sc()
        self._gw = sc._gateway
        self._stages: dict[int, dict] = {}

    def ids(self) -> tuple[int, int]:
        """(next job id, next stage id)."""
        ds = self._sc.dagScheduler()
        return int(ds.nextJobId()), int(ds.nextStageId())

    def live_heap_bytes(self) -> int:
        """Heap in use right after a full collection: what the JVM retains."""
        mx = self._gw.jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        mx.gc()
        return int(mx.getHeapMemoryUsage().getUsed())

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store holds the stages that just finished."""
        self._sc.listenerBus().waitUntilEmpty()

    def stage(self, sid: int) -> dict:
        if sid not in self._stages:
            store = self._sc.statusStore()
            no_tasks = self._gw.jvm.java.util.ArrayList()
            no_quantiles = self._gw.new_array(self._gw.jvm.double, 0)
            out = dict(ran=0, tasks=0, task_ms=0, shuffle_read=0, shuffle_write=0)
            try:
                attempts = store.stageData(sid, False, no_tasks, False, no_quantiles)
            except Py4JJavaError:  # NoSuchElementException: not retained
                attempts = None
            for a in range(attempts.size() if attempts is not None else 0):
                d = attempts.apply(a)
                if d.status().toString() == "SKIPPED":
                    continue
                out["ran"] = 1
                out["tasks"] += int(d.numCompleteTasks())
                out["task_ms"] += int(d.executorRunTime())
                out["shuffle_read"] += int(d.shuffleReadBytes())
                out["shuffle_write"] += int(d.shuffleWriteBytes())
            self._stages[sid] = out
        return self._stages[sid]

    def stages(self, lo: int, hi: int) -> dict:
        """Sum over stage ids [lo, hi) of the stages that ran."""
        tot = dict(stages=0, tasks=0, task_s=0.0, shuffle_mb=0.0)
        for sid in range(lo, hi):
            s = self.stage(sid)
            tot["stages"] += s["ran"]
            tot["tasks"] += s["tasks"]
            tot["task_s"] += s["task_ms"] / 1000.0
            tot["shuffle_mb"] += (s["shuffle_read"] + s["shuffle_write"]) / 1e6
        return tot


def dir_bytes(path) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            try:
                total += os.stat(os.path.join(dirpath, name)).st_size
            except OSError:
                pass
    return total
