"""Measurements taken from outside the program: the process tree in
``/proc``, the Spark status store, the JVM's management beans and the
session's own state (persisted RDDs, runtime conf)."""

from __future__ import annotations

import os
import signal
import time

_CLK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    return s[s.rindex(")") + 2:].split()  # fields from "state" on


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def process_tree(root: int | None = None) -> dict[int, str]:
    """Live processes under ``root`` (default: this one), each labeled
    ``driver`` (the root), ``jvm`` (a java child) or ``pyworker`` (under
    the JVM: the pyspark daemon and its workers)."""
    root = root or os.getpid()
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st:
                kids.setdefault(int(st[1]), []).append(int(d))
    out = {root: "driver"}
    todo = [root]
    while todo:
        pid = todo.pop()
        for kid in kids.get(pid, []):
            if out[pid] == "driver":
                out[kid] = "jvm" if _comm(kid) == "java" else "driver"
            else:
                out[kid] = "pyworker"
            todo.append(kid)
    return out


def tree_cpu(root: int | None = None) -> dict[str, float]:
    """CPU seconds of the process tree by label, counting each process's
    reaped children (a finished Python worker lands in its parent)."""
    cpu = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
    for pid, label in process_tree(root).items():
        st = _stat(pid)
        if st:
            cpu[label] += sum(int(x) for x in st[11:15]) / _CLK
    return cpu


def tree_peak_rss_mb(root: int | None = None) -> dict[str, float]:
    """Peak RSS (VmHWM) of the live tree by label, in MB; their sum
    bounds the tree's peak from above."""
    peak = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
    for pid, label in process_tree(root).items():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak[label] += int(line.split()[1]) / 1024.0
        except OSError:
            pass
    return peak


def stop_tree(root: int | None = None, timeout: float = 30.0) -> None:
    """Wait for every process under ``root`` to end, killing any that
    outlive ``timeout``."""
    root = root or os.getpid()
    deadline = time.monotonic() + timeout
    while True:
        left = [p for p in process_tree(root) if p != root]
        if not left:
            return
        if time.monotonic() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.monotonic() + 5.0
        try:  # reap direct children so they do not linger as zombies
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        time.sleep(0.05)


def _iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


class StatusStore:
    """Per-job-group counters from the live Spark status store, which
    exists with the UI disabled."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()

    def collect(self, group: str) -> dict[str, float]:
        c = dict(jobs=0, stages=0, tasks=0, job_busy_s=0.0, task_cpu_s=0.0,
                 shuffle_write_mb=0.0, shuffle_read_mb=0.0, spill_mb=0.0)
        stage_ids: set[int] = set()
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            job = self.store.job(jid)
            c["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                c["job_busy_s"] += (done.get().getTime() - sub.get().getTime()) / 1000.0
            stage_ids.update(int(s) for s in _iter(job.stageIds()))
        for sid in sorted(stage_ids):
            for sd in _iter(self.store.stageData(sid, False, None, False, None)):
                if sd.status().toString() == "SKIPPED":
                    continue
                c["stages"] += 1
                c["tasks"] += sd.numCompleteTasks()
                c["task_cpu_s"] += sd.executorCpuTime() / 1e9
                c["shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
                c["shuffle_read_mb"] += sd.shuffleReadBytes() / 2**20
                c["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 2**20
        return c


def jvm_runtime(spark) -> dict[str, float]:
    """JIT and GC time and peak heap, from the driver JVM's MXBeans."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    heap = 0
    for pool in mf.getMemoryPoolMXBeans():
        if pool.getType().toString() == "Heap memory":
            heap += pool.getPeakUsage().getUsed()
    return {
        "jit_s": mf.getCompilationMXBean().getTotalCompilationTime() / 1000.0,
        "gc_s": sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1000.0,
        "heap_peak_mb": heap / 2**20,
    }


def session_state(spark) -> tuple[int, dict[str, str]]:
    """(number of persisted RDDs, runtime conf) — compared around each op."""
    n = spark.sparkContext._jsc.getPersistentRDDs().size()
    return n, dict(spark.conf.getAll)


def hygiene(before: tuple[int, dict], after: tuple[int, dict]) -> dict[str, int]:
    conf_b, conf_a = before[1], after[1]
    changed = sum(conf_b.get(k) != conf_a.get(k) for k in set(conf_b) | set(conf_a))
    return {"leaked_rdds": after[0] - before[0], "conf_changed": changed}
