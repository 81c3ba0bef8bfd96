"""Counters read from outside the library: the Spark status store per
job, block-manager storage, and CPU time of the process tree.

Nothing here changes what the library does. The status store is read
after the listener bus has drained, so the last job of a timed region
is always present. Stage records are fetched once per stage id: a
stage that a later job skips (shuffle reuse) keeps the id of the job
that ran it and is never counted twice.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

MB = 1e6

# Stage fields summed into a job's counters, keyed by the name this
# benchmark reports them under. Times in the status store are ms,
# except executorCpuTime, which is ns.
_STAGE_SUMS = {
    "tasks": "numCompleteTasks",
    "failed_tasks": "numFailedTasks",
    "killed_tasks": "numKilledTasks",
    "run_ms": "executorRunTime",
    "cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "fetch_wait_ms": "shuffleFetchWaitTime",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "disk_spill_bytes": "diskBytesSpilled",
    "mem_spill_bytes": "memoryBytesSpilled",
    "input_bytes": "inputBytes",
}


@dataclass
class Job:
    job_id: int
    group: str | None
    start_ms: int
    end_ms: int
    sums: dict[str, int] = field(default_factory=dict)


class StatusCounters:
    """Reads finished jobs and their stages from the status store.

    ``new_jobs()`` returns every job that ended since the previous
    call, each with its stage counters summed. Build one per session.
    """

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._gw = sc._gateway
        jvm = sc._jvm
        self._jvm = jvm
        self._store = self._jsc.statusStore()
        scala_module = getattr(
            getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"),
            "MODULE$",
        )
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(scala_module)
        self._last_job = -1
        self._seen_stages: set[int] = set()

    def _json(self, obj) -> list | dict:
        return json.loads(self._mapper.writeValueAsString(obj))

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event."""
        self._jsc.listenerBus().waitUntilEmpty()

    def new_jobs(self) -> list[Job]:
        self.drain()
        jobs = [
            j for j in self._json(self._store.jobsList(None))
            if j["jobId"] > self._last_job
        ]
        jobs.sort(key=lambda j: j["jobId"])
        out = []
        empty = self._gw.new_array(self._jvm.double, 0)
        for j in jobs:
            self._last_job = max(self._last_job, j["jobId"])
            sums = dict.fromkeys(_STAGE_SUMS, 0)
            for sid in j["stageIds"]:
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                attempts = self._json(
                    self._store.stageData(
                        sid, False, self._jvm.java.util.ArrayList(), False, empty
                    )
                )
                for st in attempts:
                    for name, key in _STAGE_SUMS.items():
                        sums[name] += st[key] or 0
            out.append(
                Job(
                    job_id=j["jobId"],
                    group=j.get("jobGroup"),
                    start_ms=j.get("submissionTime") or 0,
                    end_ms=j.get("completionTime") or 0,
                    sums=sums,
                )
            )
        return out


def totals(jobs: list[Job]) -> dict[str, int]:
    """Sum the stage counters of ``jobs``."""
    tot = dict.fromkeys(_STAGE_SUMS, 0)
    for j in jobs:
        for k, v in j.sums.items():
            tot[k] += v
    return tot


def busy_s(jobs: list[Job], start_s: float, end_s: float) -> float:
    """Seconds of [start_s, end_s] during which at least one of
    ``jobs`` was running (union of job intervals, clipped)."""
    spans = sorted(
        (max(j.start_ms / 1e3, start_s), min(j.end_ms / 1e3, end_s))
        for j in jobs
    )
    busy, cur_a, cur_b = 0.0, None, None
    for a, b in spans:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                busy += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        busy += cur_b - cur_a
    return busy


def storage_mb(spark) -> float:
    """Block-manager storage (memory + disk) held by persisted and
    checkpointed RDDs, read from the block manager master. Forces no
    GC, so blocks that only a collected Python or JVM reference still
    pins are counted as held."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / MB


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name is parenthesized and may hold spaces
    return raw[raw.rindex(")") + 2:].split()


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of ``root`` and every descendant,
    including children they have already reaped. Covers the Python
    driver, the driver JVM and the Python workers it forks."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    stats: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is None:
            continue
        pid = int(name)
        stats[pid] = fields
        children.setdefault(int(fields[1]), []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        f = stats.get(pid)
        if f is not None:
            # utime, stime, cutime, cstime: fields 14-17 of stat(5)
            total += sum(int(x) for x in f[11:15])
        todo.extend(children.get(pid, ()))
    return total / _CLK_TCK


def process_age_s() -> float:
    """Seconds since this process was launched (stat(5) starttime)."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - int(_stat_fields(os.getpid())[19]) / _CLK_TCK

