"""Readers for the counters the benchmark reports.

* ``/proc``: CPU seconds of this process tree (driver, JVM, Python
  workers, including reaped children) and the host's steal share.
* Spark's status tracker and status store: jobs and stages launched under
  one job group, with a guard against status-store eviction.
* JMX through py4j: JIT compile time, GC time and heap peak of the JVM.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

_TICK = os.sysconf("SC_CLK_TCK")
MB = 1024.0 * 1024.0  # the benchmark's MB is 2**20 bytes


@dataclass(frozen=True)
class TreeCpu:
    """CPU seconds of a process tree, split by role."""

    driver: float  # this Python process
    workers: float  # Python processes below the JVM (Arrow/UDF workers)
    total: float  # everything, the JVM included
    pids: frozenset[tuple[int, int]]  # (pid, start time) of every process seen


def _stat(pid: int) -> tuple[str, int, float, int] | None:
    """(comm, ppid, cpu seconds incl. reaped children, start time) of ``pid``."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read().decode()
    except OSError:
        return None  # exited between listdir and open
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    f = raw[raw.rindex(")") + 2 :].split()
    # fields after comm start at index 3 of proc(5): state=3, ppid=4,
    # utime=14, stime=15, cutime=16, cstime=17, starttime=22
    cpu = sum(int(f[i]) for i in (11, 12, 13, 14)) / _TICK
    return comm, int(f[1]), cpu, int(f[19])


def tree_cpu(root: int | None = None) -> TreeCpu:
    """CPU of ``root`` (default: this process) and all its descendants."""
    root = os.getpid() if root is None else root
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                procs[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (_, ppid, _, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    total = workers = 0.0
    seen = set()
    stack = [root]
    while stack:
        pid = stack.pop()
        if pid not in procs:
            continue
        comm, _, cpu, start = procs[pid]
        seen.add((pid, start))
        total += cpu
        if pid != root and comm.startswith("python"):
            workers += cpu
        stack.extend(children.get(pid, ()))
    driver = procs[root][2] if root in procs else 0.0
    return TreeCpu(driver, workers, total, frozenset(seen))


def alive(pid: int, start: int) -> bool:
    st = _stat(pid)
    return st is not None and st[3] == start


def host_cpu() -> tuple[int, int]:
    """(steal ticks, all ticks) from the first line of /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(v) for v in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal guest guest_nice;
    # guest time is already counted in user/nice
    return f[7], sum(f[:8])


class StoreEvicted(RuntimeError):
    """A job or stage was dropped from the status store before it was read."""


@dataclass
class GroupStats:
    """Jobs and stages launched under one job group."""

    jobs: int = 0
    shuffle_write: int = 0  # bytes
    # filled only when read with ``detail=True``
    job_spans: list[tuple[int, float, float]] = field(default_factory=list)
    stage_spans: list[tuple[int, int, float, float]] = field(default_factory=list)  # job, stage
    stages: int = 0
    skipped_stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    cpu_s: float = 0.0
    run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read: int = 0
    spill: int = 0
    input: int = 0
    output: int = 0


class StatusReader:
    """Reads what one job group launched, in job-id order.

    Job ids are handed out sequentially and every job of this process runs
    under a group read here, so the ids of consecutive groups must be
    contiguous.  A gap whose job the tracker no longer knows means the
    status store evicted it (``spark.ui.retainedJobs``); that raises
    :class:`StoreEvicted` instead of under-reporting ``jobs``.
    """

    def __init__(self, sc):
        self._tracker = sc.statusTracker()
        self._store = sc._jsc.sc().statusStore()
        self._next_job = 0

    def read(self, group: str, detail: bool = False) -> GroupStats:
        ids = sorted(self._tracker.getJobIdsForGroup(group))
        known = set(ids)
        for j in range(self._next_job, ids[-1] if ids else self._next_job):
            if j not in known and self._tracker.getJobInfo(j) is None:
                raise StoreEvicted(f"job {j} evicted before group {group!r} was read")
        if ids:
            self._next_job = ids[-1] + 1
        out = GroupStats(jobs=len(ids))
        for j in ids:
            info = self._tracker.getJobInfo(j)
            if info is None:
                raise StoreEvicted(f"job {j} of group {group!r} evicted before it was read")
            if detail:
                jd = self._store.job(j)
                out.job_spans.append((j, _epoch(jd.submissionTime()), _epoch(jd.completionTime())))
            for sid in info.stageIds:
                self._add_stage(out, group, j, sid, detail)
        return out

    def _add_stage(self, out: GroupStats, group: str, job: int, sid: int, detail: bool) -> None:
        if self._tracker.getStageInfo(sid) is None:
            raise StoreEvicted(f"stage {sid} of group {group!r} evicted before it was read")
        sd = self._store.lastStageAttempt(sid)
        out.shuffle_write += sd.shuffleWriteBytes()
        if not detail:
            return
        out.stages += 1
        if sd.status().toString() == "SKIPPED":
            out.skipped_stages += 1
            return
        out.stage_spans.append(
            (job, sid, _epoch(sd.submissionTime()), _epoch(sd.completionTime()))
        )
        out.tasks += sd.numTasks()
        out.failed_tasks += sd.numFailedTasks()
        out.cpu_s += sd.executorCpuTime() / 1e9
        out.run_s += sd.executorRunTime() / 1e3
        out.gc_s += sd.jvmGcTime() / 1e3
        out.shuffle_read += sd.shuffleReadBytes()
        out.spill += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        out.input += sd.inputBytes()
        out.output += sd.outputBytes()

    def storage_mb(self) -> float:
        """Block-manager storage memory in use, summed over executors."""
        ex = self._store.executorList(True)
        return sum(ex.apply(i).memoryUsed() for i in range(ex.size())) / MB


def _epoch(opt_date) -> float:
    """Seconds since the epoch of a Scala ``Option[java.util.Date]``."""
    return opt_date.get().getTime() / 1e3 if opt_date.isDefined() else float("nan")


class Jmx:
    """Cumulative JVM counters: JIT compile time, GC time, heap peak."""

    def __init__(self, jvm):
        mf = jvm.java.lang.management.ManagementFactory
        self._jit = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        heap = jvm.java.lang.management.MemoryType.HEAP
        self._heap = [p for p in mf.getMemoryPoolMXBeans() if p.getType() == heap]

    def jit_s(self) -> float:
        return self._jit.getTotalCompilationTime() / 1e3

    def gc_s(self) -> float:
        return sum(g.getCollectionTime() for g in self._gcs) / 1e3

    def reset_heap_peak(self) -> None:
        for p in self._heap:
            p.resetPeakUsage()

    def heap_peak_mb(self) -> float:
        return sum(p.getPeakUsage().getUsed() for p in self._heap) / MB
