"""Every name the scripts and the benchmark take from the package still
exists — checked Spark-free, by reading both sides with ``ast``, so a
rename or a deleted module anywhere in ``dbt_analytics_spark`` cannot
leave a script, ``bench.py``, ``local_correctness.py``, ``skew_probe.py``
or ``perfbench/`` calling a name that is gone."""

from __future__ import annotations

import ast
import glob
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "dbt_analytics_spark"
CALLERS = sorted(
    glob.glob(os.path.join(ROOT, "scripts", "*.py"))
    + glob.glob(os.path.join(ROOT, "perfbench", "*.py"))
    + [
        os.path.join(ROOT, f)
        for f in ("bench.py", "local_correctness.py", "skew_probe.py")
    ]
)


def _module_path(module: str) -> str | None:
    """Source file of a package module, or None when there is none."""
    base = os.path.join(ROOT, *module.split("."))
    for path in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.exists(path):
            return path
    return None


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), path)


def _defined(module: str) -> set[str]:
    """Top-level names of a module: defs, classes, assignments, imports."""
    names: set[str] = set()
    for node in _parse(_module_path(module)).body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, ast.Assign):
            names |= {t.id for t in node.targets if isinstance(t, ast.Name)}
        elif isinstance(node, ast.AnnAssign):
            names.add(node.target.id)
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names |= {(a.asname or a.name) for a in node.names}
    return names


def _exists(module: str, name: str) -> bool:
    return _module_path(f"{module}.{name}") is not None or name in _defined(module)


def _used(path: str) -> set[tuple[str, str]]:
    """``(module, name)`` for every name ``path`` imports from, or reads
    as an attribute of, a package module; ``(module, "")`` for an
    imported module with no source file."""
    tree = _parse(path)
    aliases: dict[str, str] = {}
    used: set[tuple[str, str]] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module and (
            node.module == PACKAGE or node.module.startswith(PACKAGE + ".")
        ):
            if _module_path(node.module) is None:
                used.add((node.module, ""))
                continue
            for a in node.names:
                if _module_path(f"{node.module}.{a.name}"):
                    aliases[a.asname or a.name] = f"{node.module}.{a.name}"
                else:
                    used.add((node.module, a.name))
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.startswith(PACKAGE + ".") and a.asname:
                    aliases[a.asname] = a.name
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id in aliases
        ):
            used.add((aliases[node.value.id], node.attr))
    return used


def _missing(path: str) -> list[str]:
    return sorted(
        f"{module}.{name}" if name else f"{module} (no such module)"
        for module, name in _used(path)
        if not name or not _exists(module, name)
    )


def test_scan_sees_the_benchmark_calls():
    """Guard against a vacuous pass: the scan must find the layout
    builds the benchmark's set-up makes and the registry bench.py reads."""
    used = _used(os.path.join(ROOT, "perfbench", "workloads.py"))
    sl = f"{PACKAGE}.plans.star_layout"
    assert {(sl, "ensure_star_layout"), (sl, "ensure_q1_rollup")} <= used
    assert (f"{PACKAGE}.queries", "HEADLINE") in _used(os.path.join(ROOT, "bench.py"))


def test_scan_flags_a_missing_module_and_name(tmp_path):
    caller = tmp_path / "caller.py"
    caller.write_text(
        f"from {PACKAGE}.operators._gone import x\n"
        f"from {PACKAGE}.operators import dedup\n"
        "dedup.minhash_lsh_pairs, dedup.no_such_name\n"
    )
    assert _missing(str(caller)) == [
        f"{PACKAGE}.operators._gone (no such module)",
        f"{PACKAGE}.operators.dedup.no_such_name",
    ]


@pytest.mark.parametrize(
    "path", CALLERS, ids=[os.path.relpath(p, ROOT) for p in CALLERS]
)
def test_layout_names_used_by_callers_exist(path):
    missing = _missing(path)
    assert not missing, f"{os.path.relpath(path, ROOT)} uses {missing}"
