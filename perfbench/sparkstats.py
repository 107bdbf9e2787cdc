"""Reads what Spark and the host did, without touching the program.

- Job and stage metrics come from the in-process status store
  (``sc._jsc.sc().statusStore()``), which serves them with the UI
  disabled.  They are read between ops, before retention evicts them.
- Python/Arrow boundary bytes come from the SQL status store's plan
  graphs, where the executed plan exposes them.
- CPU time is summed over this process and every descendant
  (driver Python, the JVM and its Python workers).
- Host noise is a fixed CPU control loop and the CPU steal share.
"""

from __future__ import annotations

import os
import re
import time
from dataclasses import dataclass, field

MB = 1024.0 * 1024.0
_TICK = os.sysconf("SC_CLK_TCK")


def _ms(opt) -> int | None:
    """Scala ``Option[java.util.Date]`` -> epoch ms."""
    return opt.get().getTime() if opt.isDefined() else None


@dataclass
class Job:
    job_id: int
    group: str | None
    submitted_ms: int
    stages: list[dict] = field(default_factory=list)


class StatusReader:
    """Job, stage and SQL-execution reads for one SparkContext."""

    def __init__(self, spark):
        self.spark = spark
        self.store = spark.sparkContext._jsc.sc().statusStore()

    def last_job_id(self) -> int:
        jobs = self.store.jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    def jobs_after(self, job_id: int) -> list[Job]:
        """Jobs with id > ``job_id``, oldest first, with their stages."""
        jobs = self.store.jobsList(None)  # newest first
        out = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() <= job_id:
                break
            group = j.jobGroup()
            job = Job(j.jobId(), group.get() if group.isDefined() else None,
                      _ms(j.submissionTime()) or 0)
            sids = j.stageIds()
            for k in range(sids.size()):
                st = self._stage(sids.apply(k))
                if st is not None:
                    job.stages.append(st)
            out.append(job)
        return out[::-1]

    def _stage(self, sid: int) -> dict | None:
        a = self.store.lastStageAttempt(sid)
        if a.status().toString() != "COMPLETE":
            return None  # skipped stages reuse an earlier stage's output
        return {
            "id": sid, "tasks": a.numTasks(),
            "run_ms": a.executorRunTime(), "gc_ms": a.jvmGcTime(),
            "input": a.inputBytes(), "output": a.outputBytes(),
            "shuffle_read": a.shuffleReadBytes(), "shuffle_write": a.shuffleWriteBytes(),
            "spill": a.memoryBytesSpilled() + a.diskBytesSpilled(),
            "peak_mem": a.peakExecutionMemory(),
            "start_ms": _ms(a.submissionTime()), "end_ms": _ms(a.completionTime()),
        }

    # -- SQL executions (Python/Arrow boundary volume) ------------------
    def _sql(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def sql_count(self) -> int:
        return int(self._sql().executionsCount())

    def python_bytes_after(self, n_before: int) -> int:
        """Bytes sent to and returned from Python workers by the SQL
        executions numbered after ``n_before``."""
        sql = self._sql()
        total = 0
        execs = sql.executionsList(n_before, 1 << 20)
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            wanted = set()
            nodes = sql.planGraph(eid).allNodes()
            for n in range(nodes.size()):
                ms = nodes.apply(n).metrics()
                for m in range(ms.size()):
                    metric = ms.apply(m)
                    if "Python workers" in metric.name():
                        wanted.add(metric.accumulatorId())
            if not wanted:
                continue
            it = sql.executionMetrics(eid).iterator()
            while it.hasNext():
                kv = it.next()
                if kv._1() in wanted:
                    total += parse_size(kv._2())
        return total


_SIZE = re.compile(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)\b")
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def parse_size(text: str) -> int:
    """First size in a Spark SQL metric string ("total (min, med,
    max ...)\\n12.3 KiB (...)" or "5.8 KiB") -> bytes."""
    m = _SIZE.search(text.split("\n", 1)[-1])
    return int(float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]) if m else 0


def sum_stages(jobs: list[Job]) -> dict:
    """Totals over the completed stages of ``jobs``."""
    t = {"jobs": len(jobs), "stages": 0, "tasks": 0, "run_s": 0.0, "gc_s": 0.0,
         "input_mb": 0.0, "output_mb": 0.0, "shuffle_read_mb": 0.0,
         "shuffle_write_mb": 0.0, "spill_mb": 0.0, "peak_mem_mb": 0.0}
    for j in jobs:
        for s in j.stages:
            t["stages"] += 1
            t["tasks"] += s["tasks"]
            t["run_s"] += s["run_ms"] / 1e3
            t["gc_s"] += s["gc_ms"] / 1e3
            t["input_mb"] += s["input"] / MB
            t["output_mb"] += s["output"] / MB
            t["shuffle_read_mb"] += s["shuffle_read"] / MB
            t["shuffle_write_mb"] += s["shuffle_write"] / MB
            t["spill_mb"] += s["spill"] / MB
            t["peak_mem_mb"] += s["peak_mem"] / MB
    return t


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def stage_intervals(jobs: list[Job]) -> list[tuple[float, float]]:
    return [(s["start_ms"] / 1e3, s["end_ms"] / 1e3) for j in jobs for s in j.stages
            if s["start_ms"] is not None and s["end_ms"] is not None]


# -- process tree CPU ---------------------------------------------------
def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while listing
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds of ``root`` and all its live descendants, including
    what each has reaped from children that already ended."""
    kids = _children()
    todo, total = [root or os.getpid()], 0
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        except (OSError, IndexError, ValueError):
            continue
        todo.extend(kids.get(pid, ()))
    return total / _TICK


# -- host noise ---------------------------------------------------------
def cpu_times() -> list[int]:
    """The host's cumulative CPU times (``/proc/stat``), for :func:`steal_pct`."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of CPU time stolen by the hypervisor between two readings."""
    delta = [b - a for a, b in zip(before, after)]
    steal = delta[7] if len(delta) > 7 else 0
    return round(100.0 * steal / (sum(delta) or 1), 3)


def host_noise() -> dict:
    """Time a fixed pure-Python CPU loop and the CPU steal share over it."""
    before = cpu_times()
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += i * i
    control = time.perf_counter() - t0
    return {"cpu_control_s": round(control, 4), "steal_pct": steal_pct(before, cpu_times())}
