"""In-process tracing for the traced benchmark pass.

Every traced step runs under its own Spark job group. After the step the
tracer reads the group's jobs from the status tracker and their stages'
task metrics from the application status store (executor run time,
shuffle read/write, spill, failed task attempts), so the numbers come
from Spark's own accounting with the UI off. Spans stay in memory;
``dump`` writes them once, when the run ends.
"""

from __future__ import annotations

import json
import os
import re
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

MB = 1e6


@dataclass
class Span:
    name: str
    group: str
    start: float
    end: float = 0.0
    jobs: int = 0
    task_s: float = 0.0
    shuffle_mb: float = 0.0
    spill_mb: float = 0.0
    failed_tasks: int = 0
    storage_mb: float = 0.0
    py_cpu_s: float = 0.0

    @property
    def s(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self._store = self.sc._jsc.sc().statusStore()

    @contextmanager
    def span(self, name: str, pass_no: int):
        """Time one step under a job group unique to (pass, step)."""
        group = f"{self.run_id}.p{pass_no}.{name}"
        self.sc.setJobGroup(group, name)
        sp = Span(name=name, group=group, start=time.perf_counter())
        cpu0 = time.process_time()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            sp.py_cpu_s = time.process_time() - cpu0
            self.sc._jsc.clearJobGroup()
            self._collect(sp)
            self.spans.append(sp)

    def _collect(self, sp: Span) -> None:
        """Fold the group's job and stage metrics into the span (untimed)."""
        try:  # let the listener bus deliver the last task-end events
            self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        except Exception:
            time.sleep(0.2)
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(sp.group)
        stage_ids: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(int(s) for s in info.stageIds)
        jvm = self.sc._jvm
        no_status = jvm.java.util.ArrayList()
        no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        run_ms = shuffle = spill = failed = 0
        for sid in stage_ids:
            attempts = self._store.stageData(sid, False, no_status, False, no_quantiles)
            for i in range(attempts.length()):
                st = attempts.apply(i)
                run_ms += st.executorRunTime()
                shuffle += st.shuffleReadBytes() + st.shuffleWriteBytes()
                spill += st.memoryBytesSpilled() + st.diskBytesSpilled()
                failed += st.numFailedTasks()
        sp.jobs = len(jobs)
        sp.task_s = run_ms / 1000.0
        sp.shuffle_mb = shuffle / MB
        sp.spill_mb = spill / MB
        sp.failed_tasks = failed
        sp.storage_mb = storage_mb(self.sc)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(
                [{**asdict(s), "s": s.s} for s in self.spans], fh, indent=1, default=float
            )


def storage_mb(sc) -> float:
    """Memory plus disk held by persisted RDDs and checkpoint blocks."""
    infos = sc._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / MB


def jvm_gc_s(sc) -> float:
    beans = sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(beans.get(i).getCollectionTime(), 0) for i in range(beans.size())) / 1000.0


def gc_live_peak_mb(log_path: str) -> float:
    """The most heap a collection left in use so far, in MB: the highest
    ``after`` figure of the collections in a ``-Xlog:gc`` file."""
    with open(log_path) as fh:
        return float(max(int(m) for m in re.findall(r"\d+M->(\d+)M\(\d+M\)", fh.read())))


def retained_heap_mb(sc) -> float:
    """Heap in use after a full collection, in MiB: what the JVM holds
    live. The collection also clears the garbage a pass left behind, so
    the next pass starts from the same heap whatever the collector's
    timing was."""
    bean = sc._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    bean.gc()
    return bean.getHeapMemoryUsage().getUsed() / 2**20


def heap_committed_mb(sc) -> float:
    """The JVM's committed heap in MiB, the unit of the GC log and VmHWM."""
    bean = sc._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return bean.getHeapMemoryUsage().getCommitted() / 2**20


def descendants(root_pid: int) -> dict[int, list[str]]:
    """The ``/proc/<pid>/stat`` fields (from the state on) of a process
    and of all its live descendants, by pid."""
    children: dict[int, list[int]] = {}
    stats: dict[int, list[str]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        stats[int(d)] = f
        children.setdefault(int(f[1]), []).append(int(d))
    out, todo = {}, [root_pid]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo += children.get(pid, [])
    return out


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds used so far by a process and all its descendants
    (live ones, plus the children each has already reaped)."""
    ticks = sum(sum(int(x) for x in f[11:15])  # utime stime cutime cstime
                for f in descendants(root_pid).values())
    return ticks / os.sysconf("SC_CLK_TCK")
