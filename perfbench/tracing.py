"""Tracing from outside the program: spans around layer calls, Spark job
groups, stage metrics from the driver's status store, plan-shape counts
from the executed plan, and process CPU and memory from ``/proc`` and
the JVM's memory pools.

Spans are kept in memory and written out once, at the end of the run.
Each span tags the jobs it starts with ``SparkContext.setJobGroup`` so
that stage metrics can be attributed to it afterwards.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str):
        """Time one layer call.  The caller materializes the layer's input
        before entering, so the span's duration is the layer's self time."""
        sc = self.spark.sparkContext
        sc.setJobGroup(name, name)
        rec = {"name": name, "start": time.perf_counter()}
        self.spans.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            sc.setJobGroup("untraced", "untraced")

    def duration(self, name: str) -> float:
        """Wall time of every span called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def stage_metrics(self, group: str) -> dict:
        """Sum the stage metrics of every job tagged with ``group``.  They
        are read from the driver's status store, the data behind the
        monitoring REST API, which is kept whether or not the UI is on."""
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        ids = list(sc.statusTracker().getJobIdsForGroup(group))
        # the store is fed by the listener bus: wait until it shows every
        # job of the group as finished
        deadline = time.monotonic() + 30
        while True:
            try:
                jobs = [store.job(j) for j in ids]
                done = all(j.status().toString() != "RUNNING" for j in jobs)
            except Exception:  # a job the listener has not recorded yet
                jobs, done = [], False
            if done or time.monotonic() > deadline:
                break
            time.sleep(0.2)
        out = {"shuffle_write_bytes": 0, "spill_bytes": 0}
        stage_ids = {j.stageIds().apply(i) for j in jobs for i in range(j.stageIds().size())}
        for sid in sorted(stage_ids):
            st = store.lastStageAttempt(sid)
            if st.status().toString() != "COMPLETE":
                continue  # skipped: its shuffle output was reused
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def plan_nodes(df) -> list[str]:
    """Node names of ``df``'s executed physical plan, descending through
    adaptive query stages.  Call after the frame has been executed so AQE's
    final plan is the one counted."""
    names: list[str] = []
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        names.append(node.nodeName())
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return names


def jvm_live_mb(spark) -> float:
    """Memory the JVM behind ``spark`` holds, in MiB: its heap used right
    after a full GC, plus its non-heap memory used (metaspace, code
    cache)."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return (mem.getHeapMemoryUsage().getUsed() + mem.getNonHeapMemoryUsage().getUsed()) / 2**20


def jit_seconds(pid: int) -> float:
    """CPU time of the JIT compiler threads of JVM ``pid`` (thread names
    ``C1 CompilerThreadN`` and ``C2 CompilerThreadN``, cut to 15
    characters in ``/proc``)."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0.0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if stat[stat.index("(") + 1:].startswith(("C1 CompilerThre", "C2 CompilerThre")):
            fields = stat.rsplit(")", 1)[1].split()
            total += (int(fields[11]) + int(fields[12])) / tick
    return total


def steal_seconds() -> float:
    """CPU time the hypervisor gave to others while this machine's CPUs
    were runnable, summed over CPUs since boot (``/proc/stat``)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for process {pid}")


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (the JVM's Python workers)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def cpu_seconds(pid: int | None = None) -> float:
    """CPU time used so far by this Python process, by process ``pid``
    and by every process below it, counting exited children that were
    waited for.  Clock ticks from ``/proc/<pid>/stat``."""
    tick = os.sysconf("SC_CLK_TCK")
    total = sum(os.times()[:2])
    for p in [] if pid is None else [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # ended between the scan and the read
        # utime, stime, cutime, cstime are fields 14-17 of stat(5)
        total += sum(int(x) for x in fields[11:15]) / tick
    return total
