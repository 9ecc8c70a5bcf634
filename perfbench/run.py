#!/usr/bin/env python3
"""Benchmark of the engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload finance_dag --seed 1 --seconds 1 --trace 0

Run it from the root of a checkout. It starts a Spark session with the
program's own factory and defaults, makes the workload's inputs from the
seed, does the workload's untimed preparation, then runs timed iterations
until ``--seconds`` have passed (at least one) and checks the outputs. The
first iteration runs on a cold JVM, as a fresh CLI process would; with the
``run_seconds`` of 1 in BENCHMARK.json it is the only one.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer ones with ``--trace 1``. The line before it
stamps the host and lists the iteration times. With ``--trace 1`` the
timed iterations also read counters at span boundaries, and the spans are
written to standard error as one JSON line at the end.

Everything the run writes (inputs, warehouse, Spark local dirs) lives in
``.perfbench-work/<pid>`` under the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: Stop starting timed iterations this long after the run began, so a slow
#: host still finishes well inside the per-run limit.
ITERATION_CUTOFF_S = 100.0

#: Units of the end-to-end metrics.
END_TO_END = {
    "setup_s": "s",
    "iter_cpu_s": "s",
    "ops_ok_frac": "ratio",
}


def per_layer_names() -> list[str]:
    from workloads import DAG_NODES, QUERIES

    return (
        ["iter.wall_s", "setup.session_s", "setup.inputs_s", "setup.prepare_s"]
        + ["workload.register_s", "registry.compile_s", "registry.run_s"]
        + ["registry.node_s_sum", "registry.critical_path_s", "registry.overlap"]
        + [f"node.{n}_s" for n in DAG_NODES]
        + ["queries.build_s", "queries.exec_s"]
        + [f"q.{q}.{part}_s" for q in QUERIES for part in ("build", "exec")]
        + [f"spark.{k}" for k in ("jobs", "stages", "tasks", "jobs_per_op",
                                  "tasks_per_op", "task_s", "shuffle_write_mb",
                                  "spill_mb", "failed_tasks")]
        + ["cpu.driver_py_s", "cpu.jvm_s", "cpu.py_workers_s", "jvm.gc_s"]
        + ["mem.peak_rss_mb"]
        + ["trace.overhead_s", "trace.span_cover"]
    )


def unit_of(name: str) -> str:
    if name in END_TO_END:
        return END_TO_END[name]
    if name in ("registry.overlap", "trace.span_cover"):
        return "ratio"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_s", "_s_sum")):
        return "s"
    return "count"


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; 'tiny' is for the self-test")
    ap.add_argument("--full-check", action="store_true",
                    help="also compare every DAG table with its SQL twin")
    return ap.parse_args(argv)


def start_spark(work: str, cpus: int):
    """The program's own session factory and defaults, with a warehouse
    and local dirs owned by this run."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ.pop("SPARK_DRIVER_MEMORY", None)
    # Python workers unpickle functions of the package under test.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from dbt_analytics_spark.session import get_spark

    return get_spark(
        "perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def host_stamp(spark, counters, load_before, ticks_before) -> dict:
    import pyspark

    from spans import host_ticks

    ticks, steal = (a - b for a, b in zip(host_ticks(), ticks_before))
    sc = spark.sparkContext
    jvm = sc._jvm
    return {
        "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "loadavg_before": [round(x, 2) for x in load_before],
        "loadavg_after": [round(x, 2) for x in os.getloadavg()],
        # CPU time the hypervisor gave to other guests during the run
        "steal_frac": round(steal / ticks, 4) if ticks else 0.0,
        "pyspark": pyspark.__version__,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "driver_heap_max_mb": round(jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20),
        "spark_driver_memory": sc.getConf().get("spark.driver.memory", None),
        "jvm_pid": counters.jvm_pid,
    }


def iteration_layers(w, tracer, it: dict, n_ops: int) -> dict[str, float]:
    from spans import duration, self_time

    dur = duration(it)
    out = {"iter.wall_s": dur, "trace.span_cover": (dur - self_time(tracer, it)) / dur}
    out.update(it["counters"])
    # counters read inside the iteration lengthen it; its own reads do not
    out["trace.overhead_s"] = sum(s.get("read_s", 0.0) for s in tracer.children(it))
    for s in tracer.children(it):
        if "counters" in s:
            out[f"{s['name']}_s"] = duration(s)
    out["spark.jobs_per_op"] = out.get("spark.jobs", 0.0) / max(n_ops, 1)
    out["spark.tasks_per_op"] = out.get("spark.tasks", 0.0) / max(n_ops, 1)
    out.update(w.layer_metrics(it))
    return out


def run(args: argparse.Namespace, work: str) -> tuple[dict, dict]:
    from spans import (
        Counters, Tracer, cpu_split, descendants, duration, host_ticks, peak_rss_mb,
    )
    from workloads import SIZES, WORKLOADS

    t0 = time.perf_counter()
    load_before, ticks_before = os.getloadavg(), host_ticks()
    cpus = len(os.sched_getaffinity(0))
    tracer = Tracer(run_id=f"{args.workload}-{args.seed}-{os.getpid()}")
    with tracer.span("setup.session") as s_session:
        spark = start_spark(work, cpus)
    try:
        counters = Counters(spark)
        w = WORKLOADS[args.workload](
            spark, tracer, args.seed, SIZES[args.size], work
        )
        with tracer.span("setup.inputs") as s_inputs:
            w.make_inputs()
        with tracer.span("setup.prepare") as s_prepare:
            w.prepare()

        iters = []
        tracer.counters = counters if args.trace else None
        end = time.perf_counter() + args.seconds
        while True:
            cpu0 = sum(cpu_split(counters.jvm_pid).values())
            with tracer.span("iteration", counted=True) as it:
                ops = w.iteration()
            it["cpu_s"] = sum(cpu_split(counters.jvm_pid).values()) - cpu0
            iters.append((it, ops))
            now = time.perf_counter()
            if now >= end or now - t0 > ITERATION_CUTOFF_S:
                break
        tracer.counters = None
        pids = [os.getpid(), counters.jvm_pid] + descendants(counters.jvm_pid)
        rss = peak_rss_mb(pids)

        with tracer.span("check") as s_check:
            wrong = set(w.check(args.full_check))
        attempted = sum(len(ops) for _, ops in iters)
        failed = sum(not ok for _, ops in iters for _, _, ok in ops)
        last_ops = iters[-1][1]
        failed += sum(ok and name in wrong for name, _, ok in last_ops)
        stamp = host_stamp(spark, counters, load_before, ticks_before)
    finally:
        stop_spark(spark)

    metrics = {
        "setup_s": duration(s_session) + duration(s_inputs) + duration(s_prepare),
        "iter_cpu_s": statistics.median(it["cpu_s"] for it, _ in iters),
        "ops_ok_frac": 1.0 - failed / attempted,
    }
    if args.trace:
        per_iter = [iteration_layers(w, tracer, it, len(ops)) for it, ops in iters]
        layers = dict.fromkeys(per_layer_names(), 0.0)
        for k in set().union(*per_iter):
            if k in layers:
                layers[k] = statistics.median(m.get(k, 0.0) for m in per_iter)
        layers["setup.session_s"] = duration(s_session)
        layers["setup.inputs_s"] = duration(s_inputs)
        layers["setup.prepare_s"] = duration(s_prepare)
        layers["mem.peak_rss_mb"] = rss
        metrics = layers
        print(json.dumps({"spans": tracer.spans}), file=sys.stderr)
    result = {
        "correct": not wrong and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "size": args.size,
        "iterations": len(iters),
        "iteration_s": [round(duration(it), 4) for it, _ in iters],
        "check_s": round(duration(s_check), 4),
        "wrong": sorted(wrong),
        "host": stamp,
    }
    return result, info


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "dbt_analytics_spark")):
        print("perfbench: no dbt_analytics_spark package beside perfbench/; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench-work", str(os.getpid()))
    os.makedirs(work)
    try:
        result, info = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    print(json.dumps(info))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
