"""Spark-side measurements: per-operation job, stage and task figures
from Spark's status store, peak memory of Spark's Python workers, and
an orderly shutdown that waits for every process the session started."""

from __future__ import annotations

import os
import signal
import time
from collections import Counter
from typing import Dict, List


def job_group_totals(spark, group: str) -> Counter:
    """Jobs, tasks and executor times of every job run under ``group``.
    Stage figures come from the status store's last attempt of each
    stage; stages that never ran (skipped) contribute nothing."""
    from py4j.protocol import Py4JError

    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    # the status store is fed by the listener bus; drain it so the last
    # stage's task metrics have landed
    jsc.listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    store = jsc.statusStore()
    jobs = tracker.getJobIdsForGroup(group)
    stages = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    tot = Counter(jobs=len(jobs))
    for s in stages:
        try:
            sd = store.lastStageAttempt(s)
        except Py4JError:
            continue
        tot["tasks"] += sd.numCompleteTasks()
        tot["run_s"] += sd.executorRunTime() / 1e3
        tot["cpu_s"] += sd.executorCpuTime() / 1e9
        tot["gc_s"] += sd.jvmGcTime() / 1e3
        tot["deserialize_s"] += sd.executorDeserializeTime() / 1e3
    return tot


def _ppid_map() -> Dict[int, int]:
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        out[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(pid: int) -> List[int]:
    children: Dict[int, list] = {}
    for child, parent in _ppid_map().items():
        children.setdefault(parent, []).append(child)
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class WorkerMemory:
    """Peak RSS (``VmHWM``) of Spark's Python worker processes: every
    Python process below this one. Call :meth:`sample` after each
    operation; the total sums each worker's highest reading."""

    def __init__(self):
        self.peak_kb: Dict[int, int] = {}

    def sample(self) -> None:
        for pid in descendants(os.getpid()):
            try:
                with open(f"/proc/{pid}/comm") as f:
                    comm = f.read().strip()
            except OSError:
                continue
            if comm.startswith("python"):
                kb = _status_kb(pid, "VmHWM")
                self.peak_kb[pid] = max(self.peak_kb.get(pid, 0), kb)

    def total_mb(self) -> float:
        return sum(self.peak_kb.values()) / 1024.0

    def workers(self) -> int:
        return len(self.peak_kb)


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, shut the JVM down and wait for every process
    started under this one to end (killing stragglers after
    ``timeout`` seconds)."""
    import subprocess

    from pyspark import SparkContext

    # Python workers are children of the JVM and are re-parented when
    # it exits, so note them first
    started = set(descendants(os.getpid()))
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + timeout
    while True:
        left = [p for p in started | set(descendants(os.getpid()))
                if _alive(p)]
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 10
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    return state != "Z"
