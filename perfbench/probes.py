"""Host and Spark probes: CPU and resident memory of the JVM and its
Python workers read from ``/proc``, the JVM's heap in use, and
per-stage task metrics read from the driver's live status store."""

from __future__ import annotations

import os
import threading
from pathlib import Path

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        raw = Path(f"/proc/{pid}/stat").read_text()
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        return None
    # comm may contain spaces; fields after ')' are positional
    return raw[raw.rindex(")") + 2:].split()


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.scandir("/proc"):
        if entry.name.isdigit():
            f = _stat(int(entry.name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(entry.name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _rss_kb(pid: int) -> int:
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmRSS:"):
                return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass
    return 0


class ProcessTree:
    """The JVM (``root``) and every process below it — the pyspark
    daemon and its Python workers.

    CPU of a process that has exited is still counted: a worker reaped
    by the daemon lands in the daemon's ``cutime``/``cstime``."""

    def __init__(self, root: int):
        self.root = root

    def sample(self) -> dict[str, float]:
        jvm = py = 0.0
        for pid in _descendants(self.root):
            f = _stat(pid)
            if f is None:
                continue
            ticks = sum(int(v) for v in f[11:15])  # utime stime cutime cstime
            if pid == self.root:
                # the JVM's own threads; reaped children (the daemon,
                # if it ever exits) are Python-side
                own = int(f[11]) + int(f[12])
                jvm += own
                py += ticks - own
            else:
                py += ticks
        return {"jvm_cpu_s": jvm / _TICK, "python_cpu_s": py / _TICK}

    def rss_kb(self) -> tuple[int, list[int]]:
        """Summed ``VmRSS`` of the tree now, and the pids summed."""
        pids = _descendants(self.root)
        return sum(_rss_kb(pid) for pid in pids), pids


class RssSampler:
    """While active (``with sampler:``), samples the tree's summed RSS
    every ``interval`` seconds on a background thread.  ``peak_mb`` is
    the largest sum seen at one instant, over every active period, so
    it covers the measured passes and nothing before them."""

    def __init__(self, tree: ProcessTree, interval: float = 0.25):
        self.tree = tree
        self.interval = interval
        self.peak_mb = 0.0
        self.samples = 0
        self.pids: set[int] = set()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        kb, pids = self.tree.rss_kb()
        self.peak_mb = max(self.peak_mb, kb / 1024.0)
        self.samples += 1
        self.pids.update(pids)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self):
        self._sample()
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()


def heap_used_mb(spark) -> float:
    """The driver JVM's heap in use now (MemoryMXBean), in MB."""
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return mx.getHeapMemoryUsage().getUsed() / 2**20


def loadavg() -> float:
    return float(Path("/proc/loadavg").read_text().split()[0])


def cpu_delta(a: dict, b: dict) -> dict[str, float]:
    return {k: b[k] - a[k] for k in a}


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------

def stage_metrics(spark, group: str, slots: int, wall_s: float) -> dict[str, float]:
    """Task metrics summed over every stage of every job in ``group``."""
    sc = spark.sparkContext
    # the status store fills from the listener bus: drain it first
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    gw = sc._gateway
    store = sc._jsc.sc().statusStore()
    no_quantiles = gw.new_array(gw.jvm.double, 0)
    min_med_max = gw.new_array(gw.jvm.double, 3)
    for i, q in enumerate((0.0, 0.5, 1.0)):
        min_med_max[i] = q
    tracker = sc.statusTracker()
    tot = {"tasks": 0, "failed_tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
           "shuffle_write_bytes": 0, "spill_bytes": 0, "input_bytes": 0}
    widest = (0, 0, 0)  # (tasks, stage, attempt)
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is None:
            continue
        for sid in info.stageIds:
            attempts = store.stageData(sid, False, gw.jvm.java.util.ArrayList(), False, no_quantiles)
            for i in range(attempts.size()):
                s = attempts.apply(i)
                if s.numCompleteTasks() == 0 and s.numFailedTasks() == 0:
                    continue  # skipped stage (shuffle reuse)
                tot["tasks"] += s.numCompleteTasks()
                tot["failed_tasks"] += s.numFailedTasks()
                tot["run_s"] += s.executorRunTime() / 1e3
                tot["cpu_s"] += s.executorCpuTime() / 1e9
                tot["gc_s"] += s.jvmGcTime() / 1e3
                tot["shuffle_write_bytes"] += s.shuffleWriteBytes()
                tot["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
                tot["input_bytes"] += s.inputBytes()
                if s.numCompleteTasks() > widest[0]:
                    widest = (s.numCompleteTasks(), sid, s.attemptId())
    skew = 1.0
    if widest[0]:
        summ = store.taskSummary(widest[1], widest[2], min_med_max)
        if summ.isDefined():
            rt = summ.get().executorRunTime()
            med, hi = rt.apply(1), rt.apply(2)
            skew = hi / med if med > 0 else 1.0
    tot["task_skew"] = skew
    tot["slot_util"] = tot["run_s"] / (wall_s * slots) if wall_s > 0 else 0.0
    return tot
