"""Every name the scripts and the benchmark take from the layout and
ingest modules still exists — checked Spark-free, by reading both sides
with ``ast``, so a rename in plans/star_layout.py, plans/layout_catalog.py,
plans/materialize.py, plans/ingest.py or streaming/incremental.py cannot
leave a probe script or perfbench/workloads.py calling a name that is
gone."""

from __future__ import annotations

import ast
import glob
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MODULES = {
    f"dbt_analytics_spark.{m}": os.path.join(
        ROOT, "dbt_analytics_spark", *m.split(".")
    ) + ".py"
    for m in (
        "plans.star_layout",
        "plans.layout_catalog",
        "plans.materialize",
        "plans.ingest",
        "streaming.incremental",
    )
}
CALLERS = sorted(
    glob.glob(os.path.join(ROOT, "scripts", "*.py"))
    + glob.glob(os.path.join(ROOT, "perfbench", "*.py"))
)


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), path)


def _defined(module: str) -> set[str]:
    """Top-level names of a module: defs, classes, assignments, imports."""
    names: set[str] = set()
    for node in _parse(MODULES[module]).body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, ast.Assign):
            names |= {t.id for t in node.targets if isinstance(t, ast.Name)}
        elif isinstance(node, ast.AnnAssign):
            names.add(node.target.id)
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names |= {(a.asname or a.name) for a in node.names}
    return names


def _used(path: str) -> set[tuple[str, str]]:
    """``(module, name)`` for every name ``path`` imports from, or reads
    as an attribute of, one of the checked modules."""
    tree = _parse(path)
    aliases: dict[str, str] = {}
    used: set[tuple[str, str]] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module:
            for a in node.names:
                if node.module in MODULES:
                    used.add((node.module, a.name))
                elif f"{node.module}.{a.name}" in MODULES:
                    aliases[a.asname or a.name] = f"{node.module}.{a.name}"
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name in MODULES and a.asname:
                    aliases[a.asname] = a.name
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id in aliases
        ):
            used.add((aliases[node.value.id], node.attr))
    return used


def test_scan_sees_the_benchmark_calls():
    """Guard against a vacuous pass: the scan must find the layout
    builds the benchmark's set-up makes."""
    used = _used(os.path.join(ROOT, "perfbench", "workloads.py"))
    sl = "dbt_analytics_spark.plans.star_layout"
    assert {(sl, "ensure_star_layout"), (sl, "ensure_q1_rollup")} <= used


@pytest.mark.parametrize(
    "path", CALLERS, ids=[os.path.relpath(p, ROOT) for p in CALLERS]
)
def test_layout_names_used_by_callers_exist(path):
    missing = sorted(
        f"{module}.{name}"
        for module, name in _used(path)
        if name not in _defined(module)
    )
    assert not missing, f"{os.path.relpath(path, ROOT)} uses {missing}"
