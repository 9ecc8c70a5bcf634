#!/usr/bin/env python3
"""Self-test of the benchmark at a tiny input size.

    python3 perfbench/selftest.py [workload ...]

For each workload named in BENCHMARK.json (or those given), it runs
``run.py --size tiny --full-check`` untraced and traced and asserts that the last line
has exactly the result keys, that every metric BENCHMARK.json names is
emitted with its unit, that the output checks pass, and that the traced
iteration's child spans cover its wall time to within 10%. It also checks
that the benchmark refuses to run, without printing a result, in a
directory that holds only BENCHMARK.json and the benchmark's files.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = 7


def run_bench(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
           "--workload", workload, "--seed", str(SEED), "--seconds", "1",
           "--trace", str(trace), "--size", "tiny", "--full-check"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def check_result(spec: dict, workload: str, trace: int) -> list[str]:
    proc = run_bench(ROOT, workload, trace)
    if proc.returncode != 0:
        return [f"exit {proc.returncode}: {proc.stderr[-1500:]}"]
    lines = proc.stdout.strip().splitlines()
    result, info = json.loads(lines[-1]), json.loads(lines[-2])
    errors = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"result keys {sorted(result)}")
    if result["correct"] is not True or result["failed"] != 0:
        errors.append(f"outputs wrong: {info.get('wrong')} failed={result['failed']}")
    if not isinstance(result["attempted"], int) or result["attempted"] < 1:
        errors.append(f"attempted {result['attempted']!r}")
    wanted = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = result["metrics"]
    if set(got) != set(wanted):
        errors.append(f"metrics missing {sorted(set(wanted) - set(got))}, "
                      f"extra {sorted(set(got) - set(wanted))}")
    for name, unit in wanted.items():
        m = got.get(name)
        if m is not None and (m.get("unit") != unit
                              or not isinstance(m.get("value"), (int, float))):
            errors.append(f"{name}: {m} (unit should be {unit})")
    if "host" not in info or "java" not in info["host"]:
        errors.append("no host stamp")
    if trace:
        cover = got.get("trace.span_cover", {}).get("value", 0.0)
        if not 0.9 <= cover <= 1.1:
            errors.append(f"child spans cover {cover:.3f} of the iteration")
    return errors


def check_refuses_bare_dir() -> list[str]:
    with tempfile.TemporaryDirectory() as bare:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        proc = run_bench(bare, "finance_dag", 0)
    if proc.returncode == 0 or proc.stdout.strip():
        return [f"bare directory: exit {proc.returncode}, stdout {proc.stdout[-200:]!r}"]
    return []


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = argv or [w["name"] for w in spec["workloads"]]
    failures = {"bare-dir": check_refuses_bare_dir()}
    for workload in workloads:
        for trace in (0, 1):
            failures[f"{workload} trace={trace}"] = check_result(spec, workload, trace)
    for case, errors in failures.items():
        print(f"{'ok  ' if not errors else 'FAIL'} {case}")
        for e in errors:
            print(f"     {e}")
    return 1 if any(failures.values()) else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
