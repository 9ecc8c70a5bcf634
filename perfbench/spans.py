"""Spans and counters recorded from outside the program.

A span is (name, start, end, parent, run id) plus, when counters are on,
the change of every counter between its start and end. Spans stay in
memory until the run ends. Counters come from three places: ``/proc`` for
the CPU time of the bench process, the JVM and the Python workers; the
JVM's garbage-collector beans; and Spark's status store for jobs, stages,
tasks, task time, shuffle writes, spills and failed tasks.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields start after its ")"
    return data[data.rindex(")") + 2 :].split()


def _children() -> dict[int, list[int]]:
    tree: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat(int(entry))
            if fields:
                tree.setdefault(int(fields[1]), []).append(int(entry))
    return tree


def descendants(pid: int) -> list[int]:
    tree, out, todo = _children(), [], [pid]
    while todo:
        kids = tree.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def _cpu_s(pid: int, with_children: bool) -> float:
    fields = _stat(pid)
    if not fields:
        return 0.0
    # utime, stime, cutime, cstime are fields 14-17 of /proc/<pid>/stat
    ticks = int(fields[11]) + int(fields[12])
    if with_children:
        ticks += int(fields[13]) + int(fields[14])
    return ticks / _TICK


def cpu_split(jvm_pid: int) -> dict[str, float]:
    """CPU seconds so far of this process, the JVM, and the JVM's
    descendants (the Python workers, with the workers they have reaped)."""
    return {
        "cpu.driver_py_s": _cpu_s(os.getpid(), with_children=False),
        "cpu.jvm_s": _cpu_s(jvm_pid, with_children=False),
        "cpu.py_workers_s": sum(
            _cpu_s(p, with_children=True) for p in descendants(jvm_pid)
        ),
    }


def host_ticks() -> tuple[int, int]:
    """(all, steal) CPU ticks of the machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return sum(fields[:8]), fields[7]


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of each process's peak resident set (VmHWM)."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024


class Counters:
    """Cumulative counters of one Spark application, read at boundaries."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()
        self._no_quantiles = sc._gateway.new_array(self._jvm.double, 0)
        self.jvm_pid = int(
            self._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getPid()
        )
        self._job_mark = -1
        self._stage_mark = -1
        self._spark = dict.fromkeys(
            ("jobs", "stages", "tasks", "task_s", "shuffle_write_mb",
             "spill_mb", "failed_tasks"),
            0.0,
        )

    def _poll_spark(self) -> None:
        # Both lists come newest first; read only what is past the marks.
        jobs = self._store.jobsList(None).iterator()
        top = self._job_mark
        while jobs.hasNext():
            job_id = jobs.next().jobId()
            if job_id <= self._job_mark:
                break
            top = max(top, job_id)
            self._spark["jobs"] += 1
        self._job_mark = top
        stages = self._store.stageList(
            None, False, False, self._no_quantiles, None
        ).iterator()
        top = self._stage_mark
        while stages.hasNext():
            s = stages.next()
            stage_id = s.stageId()
            if stage_id <= self._stage_mark:
                break
            top = max(top, stage_id)
            if s.status().toString() not in ("COMPLETE", "FAILED"):
                continue  # skipped stages ran no tasks
            sp = self._spark
            sp["stages"] += 1
            sp["tasks"] += s.numTasks()
            sp["failed_tasks"] += s.numFailedTasks()
            sp["task_s"] += s.executorRunTime() / 1000
            sp["shuffle_write_mb"] += s.shuffleWriteBytes() / 2**20
            sp["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 2**20
        self._stage_mark = top

    def gc_s(self) -> float:
        beans = self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000

    def read(self) -> dict[str, float]:
        self._poll_spark()
        out = {f"spark.{k}": v for k, v in self._spark.items()}
        out.update(cpu_split(self.jvm_pid))
        out["jvm.gc_s"] = self.gc_s()
        return out


class Tracer:
    """Records spans in memory. While ``counters`` is set, a span opened
    with ``counted=True`` also carries the counter deltas over its interval
    and the seconds spent reading them (``read_s``), which is the tracing
    overhead inside any span that encloses it."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        #: Counters to read at span boundaries; None reads none.
        self.counters: Counters | None = None
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def _read(self, record: dict) -> dict[str, float]:
        t = time.perf_counter()
        values = self.counters.read()
        record["read_s"] = record.get("read_s", 0.0) + time.perf_counter() - t
        return values

    @contextmanager
    def span(self, name: str, counted: bool = False, **attrs):
        counted = counted and self.counters is not None
        record: dict = {}
        before = self._read(record) if counted else None
        record.update({
            "id": len(self.spans),
            "name": name,
            "run_id": self.run_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            **attrs,
        })
        self.spans.append(record)
        self._stack.append(record["id"])
        try:
            yield record
        finally:
            record["end"] = time.perf_counter()
            self._stack.pop()
            if before is not None:
                after = self._read(record)
                record["counters"] = {k: after[k] - before[k] for k in after}

    def children(self, record: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == record["id"]]


def duration(record: dict) -> float:
    return record["end"] - record["start"]


def self_time(tracer: Tracer, record: dict) -> float:
    """A span's duration minus the part of it its children cover."""
    covered, cursor = 0.0, record["start"]
    for child in sorted(tracer.children(record), key=lambda s: s["start"]):
        lo, hi = max(child["start"], cursor), min(child["end"], record["end"])
        if hi > lo:
            covered += hi - lo
            cursor = hi
    return duration(record) - covered
