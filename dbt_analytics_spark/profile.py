"""Where a query's time goes: one profiler for any DataFrame builder.

``profile(spark, build)`` runs ``build()`` — Python-side plan
construction, with Catalyst's eager analysis of every step — and then
executes the full plan through the noop sink, the action bench.py's exec
series times. The action's wall splits into three parts that sum to it:

- ``plan_s``: the time before the action's first Spark job starts —
  Catalyst analysis, optimization and physical planning of the write, up
  to AQE submitting its first stage;
- ``job_s``: the union of the action's Spark job intervals;
- ``unattributed_s``: the rest — driver work between and after the jobs
  (AQE re-planning between stages, driver-side broadcast builds, the
  write's commit) and the py4j round trip.

``catalyst`` splits the same query's own QueryExecution by phase:
analysis ran inside the builder; optimization and planning are forced
after the action (the noop write plans its own copy, which ``plan_s``
times). Job, stage and operator counters come from the application's
status stores, so ``spark.ui.enabled=false`` is fine. Counting assumes
no other thread runs Spark jobs while a profile is taken.

Usage: python -m dbt_analytics_spark.profile SF_DIR [QUERY ...]
prints one JSON line per registry query (default: the headline queries).
Each query is profiled after one warm run of the same build and action,
as bench.py's exec series warms before it times.
"""

from __future__ import annotations

import json
import sys
import time
from itertools import takewhile
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

#: Multipliers of the units Spark's SQL metrics print their totals in.
_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_TIMINGS = ("timing", "nsTiming")


def _metric_total(text: str) -> float:
    """The total of a formatted SQL metric: ``6,000``, ``64.2 MiB``,
    ``502 ms``, or a multi-task ``total (min, med, max ...)\\n1.2 s (...)``."""
    value, _, unit = text.split("\n")[-1].split(" (")[0].partition(" ")
    return float(value.replace(",", "")) * _UNITS.get(unit, 1)


def _each(it):
    """The items of a JVM iterator."""
    while it.hasNext():
        yield it.next()


def _union_s(intervals: list[tuple[int, int]]) -> float:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total, end = total + b - a, b
        elif b > end:
            total, end = total + b - end, b
    return total / 1000


def _operators(sql, execution_id: int) -> list[dict]:
    """Name, output rows, summed timing metrics and peak memory of every
    node of an execution's final (post-AQE) plan graph."""
    values = {
        kv._1(): kv._2()
        for kv in _each(sql.executionMetrics(execution_id).iterator())
    }
    ops = []
    for node in _each(sql.planGraph(execution_id).allNodes().iterator()):
        rows = peak = None
        time_s = 0.0
        for m in _each(node.metrics().iterator()):
            text = values.get(m.accumulatorId())
            if text is None:
                continue
            if m.metricType() in _TIMINGS:
                time_s += _metric_total(text)
            elif m.name() == "number of output rows":
                rows = int(_metric_total(text))
            elif m.name() == "peak memory":
                peak = int(_metric_total(text))
        ops.append({
            "name": node.name().strip(),
            "rows": rows,
            "time_s": round(time_s, 3),
            "peak_memory_bytes": peak,
        })
    return ops


def profile(spark: SparkSession, build: Callable[[], DataFrame]) -> dict:
    """Build a frame, run it through the noop sink and attribute the time.
    See the module docstring for what each key measures."""
    sc = spark.sparkContext
    app = sc._jsc.sc().statusStore()
    sql = spark._jsparkSession.sharedState().statusStore()
    bus = sc._jsc.sc().listenerBus()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    # Newest first, each with its id; ids only grow.
    sources = {
        "jobs": (lambda: app.jobsList(None).iterator(), lambda j: j.jobId()),
        "stages": (
            lambda: app.stageList(None, False, False, no_quantiles, None).iterator(),
            lambda s: s.stageId(),
        ),
        "executions": (
            lambda: sql.executionsList().reverseIterator(),
            lambda e: e.executionId(),
        ),
    }

    def marks() -> dict[str, int]:
        bus.waitUntilEmpty()
        return {
            k: next((key(x) for x in _each(items())), -1)
            for k, (items, key) in sources.items()
        }

    before_build = marks()
    t0 = time.perf_counter()
    df = build()
    build_s = time.perf_counter() - t0
    before_action = marks()
    epoch0, t0 = time.time(), time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    action_s = time.perf_counter() - t0
    bus.waitUntilEmpty()
    new = {
        k: list(takewhile(lambda x: key(x) > before_action[k], _each(items())))
        for k, (items, key) in sources.items()
    }

    spans = [
        (j.submissionTime().get().getTime(), j.completionTime().get().getTime())
        for j in new["jobs"]
    ]
    plan_s = min(spans)[0] / 1000 - epoch0 if spans else action_s
    job_s = _union_s(spans)
    ran = [s for s in new["stages"] if s.status().toString() in ("COMPLETE", "FAILED")]

    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = {
        f"{kv._1()}_s": kv._2().durationMs() / 1000
        for kv in _each(qe.tracker().phases().iterator())
    }
    return {
        "build_s": round(build_s, 4),
        "action_s": round(action_s, 4),
        "plan_s": round(plan_s, 4),
        "job_s": round(job_s, 4),
        "unattributed_s": round(action_s - plan_s - job_s, 4),
        "catalyst": {
            p: phases.get(p, 0.0)
            for p in ("analysis_s", "optimization_s", "planning_s")
        },
        "build_jobs": before_action["jobs"] - before_build["jobs"],
        "jobs": len(new["jobs"]),
        "stages": len(ran),
        "tasks": sum(s.numTasks() for s in ran),
        "task_s": round(sum(s.executorRunTime() for s in ran) / 1000, 3),
        "shuffle_read_bytes": sum(s.shuffleReadBytes() for s in ran),
        "shuffle_write_bytes": sum(s.shuffleWriteBytes() for s in ran),
        "spill_bytes": sum(s.memoryBytesSpilled() + s.diskBytesSpilled() for s in ran),
        "operators": [
            op for e in reversed(new["executions"])
            for op in _operators(sql, e.executionId())
        ],
    }


def main(argv: list[str]) -> int:
    from .queries import HEADLINE, REGISTRY
    from .session import get_spark

    if not argv:
        print(
            "usage: python -m dbt_analytics_spark.profile SF_DIR [QUERY ...]",
            file=sys.stderr,
        )
        return 2
    sf_dir, names = argv[0], argv[1:] or HEADLINE
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2
    spark = get_spark("profile")
    for name in names:
        builder = REGISTRY[name][0]
        profile(spark, lambda: builder(spark, sf_dir))  # warm run
        out = profile(spark, lambda: builder(spark, sf_dir))
        print(json.dumps({"query": name, **out}), flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
