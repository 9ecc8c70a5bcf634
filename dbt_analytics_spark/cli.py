"""Command-line interface: the dbt CLI surface over a project directory.

The reference's primary UX is the ``dbt`` command line (Click group at
SP/dbt/cli/main.py:155-164 — ``run`` :171-200, ``compile`` :313-336,
``seed``, ``test``, ``show`` :353+, ``ls``, ``docs``, ``retry``,
``clone``). This module exposes the same surface natively on Spark:

    python -m dbt_analytics_spark run   --project-dir my_proj --select +spend_monthly
    python -m dbt_analytics_spark build --project-dir my_proj
    python -m dbt_analytics_spark ls    --select tag:finance --output json
    python -m dbt_analytics_spark show  spend_monthly -n 10
    python -m dbt_analytics_spark docs generate

A project directory follows dbt's layout (reference: dbt_project.yml:1-16
``model-paths: ["models"]``, ``seed-paths: ["seeds"]``):

    my_proj/
      dbt_project.yml      # name / vars / model-paths / seed-paths / sources
      models/**/*.sql      # Jinja-SQL models (plans/sql_models.py surface)
      models/**/*.yml      # schema files: column tests (unique/not_null/...)
      seeds/*.csv          # seeds (agate-style typed CSV)
      selectors.yml        # named YAML selectors (plans/selectors_yaml.py)

``dbt_project.yml`` keys honored: ``name``, ``vars``, ``model-paths``,
``seed-paths``, ``database``, plus the engine extension ``sources:`` —
raw input tables bound to files (the reference reads pre-existing
warehouse tables like ``public.card_transactions`` by name; a standalone
Spark engine must be told where those live):

    sources:
      card_transactions: data/card_transactions.parquet
      events: {path: data/events.csv, format: csv,
               options: {header: true, inferSchema: true}}

Artifacts land in ``<project>/target/`` exactly like dbt: manifest.json
(write_manifest), run_results.json (write_run_results), catalog.json +
index.html under ``docs generate``. ``--state DIR`` loads a previous
target dir for ``state:modified`` / ``result:`` selection; ``retry``
replays the failed/skipped nodes of the last run_results.json.

Python models are the library surface (``Project.model`` decorator) —
a CLI project is the SQL-authoring surface, mirroring how the reference
project itself is pure SQL (27 models, 0 Python).
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import re
import sys
from typing import TYPE_CHECKING, Any

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import SparkSession

    from .plans.registry import Project, RunResult

_STATUS_ICON = {"success": "OK", "warn": "WARN", "error": "ERROR", "skipped": "SKIP"}


# ---------------------------------------------------------------------------
# Project loading
# ---------------------------------------------------------------------------


def _read_yaml(path: str) -> dict:
    import yaml

    with open(path) as f:
        data = yaml.safe_load(f)
    return data or {}


def _parse_after(spec: dict | None):
    """dbt freshness threshold: {count: N, period: minute|hour|day}."""
    import datetime as _dt

    if not spec:
        return None
    seconds = {"minute": 60, "hour": 3600, "day": 86400}[spec["period"]]
    return _dt.timedelta(seconds=int(spec["count"]) * seconds)


def _config_tree_resolver(tree: dict, project_name: str):
    """dbt_project.yml ``models:`` config hierarchy (reference:
    dbt_project.yml:14-16 ``models: my_project: +materialized: table``;
    SP/dbt/config/project.py): ``+key`` entries apply to everything at
    and below their level, deeper levels win, ``+tags`` ACCUMULATE. The
    returned fn maps a model's folder path-parts to its defaults."""
    root = tree or {}
    start = root.get(project_name, root)

    def defaults_for(parts: tuple[str, ...]) -> dict:
        acc: dict = {}

        def absorb(level: dict) -> None:
            for k, v in level.items():
                if not k.startswith("+"):
                    continue
                key = k[1:]
                if key == "tags":
                    vals = v if isinstance(v, (list, tuple)) else [v]
                    acc["tags"] = tuple(acc.get("tags", ())) + tuple(vals)
                else:
                    acc[key] = v

        # Root-level +keys (outside the project-name scope) apply too.
        if start is not root:
            absorb(root)
        absorb(start)
        level = start
        for p in parts:
            nxt = level.get(p)
            if not isinstance(nxt, dict):
                break
            absorb(nxt)
            level = nxt
        return acc

    return defaults_for


def _bind_sources(project: "Project", spec: dict, project_dir: str) -> None:
    """Register raw input tables from the ``sources:`` section. Values are
    a path string (format inferred from the extension) or a dict with
    ``path`` / ``format`` / ``options`` — plus dbt's freshness surface
    (``loaded_at_field`` + ``freshness: {warn_after/error_after:
    {count, period}}``; reference: dbt sources YAML,
    SP/dbt/task/freshness.py). Reads are lazy DataFrames — at 100 TB a
    source is a parquet scan with pushdown, never an eager load."""
    project.source_freshness = {}
    for name, val in spec.items():
        if isinstance(val, str):
            val = {"path": val}
        path = val["path"]
        if not os.path.isabs(path):
            path = os.path.join(project_dir, path)
        fmt = val.get("format") or (
            "csv" if path.endswith(".csv") else "parquet"
        )
        options = {str(k): str(v) for k, v in (val.get("options") or {}).items()}
        reader = project.spark.read.format(fmt).options(**options)
        df = reader.load(path)
        project.source_table(name, df)
        if val.get("loaded_at_field"):
            fr = val.get("freshness") or {}
            project.source_freshness[name] = (
                df,
                val["loaded_at_field"],
                _parse_after(fr.get("warn_after")),
                _parse_after(fr.get("error_after")),
            )


_TEST_BUILDERS = ("unique", "not_null", "accepted_values", "relationships")
_REF_IN_TO = re.compile(r"ref\(\s*['\"]([^'\"]+)['\"]\s*\)")
_INPUT_NAME = re.compile(r"(?:ref|source)\(\s*['\"]([^'\"]+)['\"][^)]*\)")


def _collect_unit_tests(project: "Project", doc: dict) -> int:
    """Parse dbt ``unit_tests:`` blocks (dbt >= 1.8 YAML unit tests —
    reference: SP/.../materializations/tests/unit.sql:1-30, fixture CTEs
    + EXCEPT diff) into specs the ``test`` command evaluates via
    Project.run_unit_test. ``given[].input`` accepts ``ref('x')`` /
    ``source('x')`` strings; rows are lists of column dicts."""
    specs = getattr(project, "yaml_unit_tests", None)
    if specs is None:
        specs = project.yaml_unit_tests = []
    n = 0
    for ut in doc.get("unit_tests", []) or []:
        name, model = ut.get("name"), ut.get("model")
        if not name or not model:
            raise ValueError("unit test needs both 'name' and 'model'")
        given = {}
        for g in ut.get("given", []) or []:
            m = _INPUT_NAME.search(str(g["input"]))
            given[m.group(1) if m else str(g["input"])] = list(g.get("rows") or [])
        expect = list((ut.get("expect") or {}).get("rows") or [])
        specs.append({"name": name, "model": model, "given": given, "expect": expect})
        n += 1
    return n


def _collect_exposures(project: "Project", doc: dict) -> int:
    """dbt ``exposures:`` blocks (dashboards/jobs that depend on models;
    reference: SP/dbt/contracts/graph/nodes.py Exposure): lineage-only
    nodes — ``+exposure`` selection builds everything they need, and docs
    show them downstream."""
    n = 0
    for ex in doc.get("exposures", []) or []:
        deps = []
        for d in ex.get("depends_on", []) or []:
            m = _INPUT_NAME.search(str(d))
            deps.append(m.group(1) if m else str(d))
        owner = ex.get("owner") or {}
        project.exposure(
            ex["name"],
            depends_on=tuple(deps),
            owner=str(owner.get("name", owner) or ""),
            url=ex.get("url", ""),
            description=ex.get("description", ""),
        )
        n += 1
    return n


def _run_yaml_unit_tests(project: "Project") -> "list[RunResult]":
    import time as _time

    import pandas as pd

    from .plans.registry import RunResult

    results = []
    for spec in getattr(project, "yaml_unit_tests", []):
        t0 = _time.perf_counter()
        label = f"unit_{spec['name']}__{spec['model']}"
        try:
            given = {
                name: project.spark.createDataFrame(pd.DataFrame(rows))
                for name, rows in spec["given"].items()
            }
            expect = project.spark.createDataFrame(pd.DataFrame(spec["expect"]))
            passed, missing, unexpected = project.run_unit_test(
                spec["model"], given, expect
            )
            if passed:
                results.append(
                    RunResult(label, "success", _time.perf_counter() - t0, "")
                )
            else:
                msg = (
                    f"{missing.count()} expected rows missing, "
                    f"{unexpected.count()} unexpected rows"
                )
                results.append(
                    RunResult(label, "error", _time.perf_counter() - t0, msg)
                )
        except Exception as exc:  # noqa: BLE001
            results.append(
                RunResult(label, "error", _time.perf_counter() - t0, str(exc))
            )
    return results


def _attach_schema_tests(project: "Project", doc: dict) -> int:
    """Register column tests from one schema-file document (reference:
    dbt schema.yml — SP/dbt/parser/schemas.py; each test compiles to a
    violations SELECT, SP/.../generic_test_sql/*.sql). Supports the
    ``tests:`` and ``data_tests:`` (dbt >= 1.8) keys, string and
    single-key-dict forms, and per-test ``config`` with ``severity:
    warn``, ``store_failures``, and ``where``."""
    from .plans import testing

    n = 0
    for model in doc.get("models", []) or []:
        mname = model.get("name")
        if not mname:
            continue
        # Enforced model contracts (reference: dbt contracts —
        # SP/.../relations/column/columns_spec_ddl.sql
        # assert_columns_equivalent): config.contract.enforced +
        # per-column data_type (+ not_null constraints) populate
        # Node.contract, validated by enforce_contract BEFORE
        # materialization.
        mcfg = model.get("config") or {}
        if (mcfg.get("contract") or {}).get("enforced") and mname in project.nodes:
            contract: dict[str, str] = {}
            for column in model.get("columns", []) or []:
                dt = column.get("data_type")
                if not dt:
                    continue
                cons = column.get("constraints") or []
                not_null = any(
                    (c.get("type") if isinstance(c, dict) else c) == "not_null"
                    for c in cons
                )
                contract[column["name"]] = f"{dt} not null" if not_null else str(dt)
            if contract:
                project.nodes[mname].contract = contract
        for column in model.get("columns", []) or []:
            cname = column.get("name")
            specs = column.get("data_tests") or column.get("tests") or []
            for spec in specs:
                if isinstance(spec, str):
                    kind, args = spec, {}
                elif isinstance(spec, dict) and len(spec) == 1:
                    kind, args = next(iter(spec.items()))
                    args = dict(args or {})
                else:
                    raise ValueError(
                        f"unsupported test spec {spec!r} on {mname}.{cname}"
                    )
                if kind not in _TEST_BUILDERS:
                    raise ValueError(
                        f"unknown generic test {kind!r} on {mname}.{cname} "
                        f"(supported: {', '.join(_TEST_BUILDERS)})"
                    )
                cfg = dict(args.pop("config", {}) or {})
                where = cfg.pop("where", None)
                if kind == "unique":
                    fn = testing.unique(cname)
                elif kind == "not_null":
                    fn = testing.not_null(cname)
                elif kind == "accepted_values":
                    fn = testing.accepted_values(cname, list(args["values"]))
                else:  # relationships
                    to = args["to"]
                    m = _REF_IN_TO.search(str(to))
                    target = m.group(1) if m else str(to)
                    fn = testing.relationships(
                        cname,
                        # Late-bound: read the materialized parent at test
                        # time (dbt semantics), not a recompute.
                        lambda _t=target: project._resolve_for_adhoc(_t),
                        args["field"],
                    )
                if where is not None:
                    inner = fn

                    def fn(df, _inner=inner, _w=where):
                        return _inner(df.filter(_w))

                config: dict[str, Any] = {}
                if cfg.pop("severity", "error") == "warn":
                    config["error_if"] = lambda _n: False
                    config["warn_if"] = lambda n: n != 0
                if cfg.pop("store_failures", False):
                    config["store_failures"] = True
                project.test(mname, f"{kind}_{mname}_{cname}", fn, **config)
                n += 1
    return n


def load_project(
    spark: "SparkSession",
    project_dir: str,
    *,
    vars_override: dict | None = None,
    threads: int | None = None,
    full_refresh: bool = False,
    run_date: dt.date | None = None,
    database: str | None = None,
) -> "Project":
    """Load a dbt-style project directory into a :class:`Project`:
    dbt_project.yml → config, ``sources:`` → source tables, seed-paths →
    seeds, model-paths → SQL models + schema-file tests, selectors.yml →
    named selectors. Mirrors ManifestLoader.load (SP/dbt/parser/
    manifest.py:334) minus partial parsing — registry loading is
    milliseconds of Python, not a msgpack cache problem."""
    from .plans.registry import Project
    from .plans.sql_models import load_sql_models_dir

    cfg_path = os.path.join(project_dir, "dbt_project.yml")
    cfg = _read_yaml(cfg_path) if os.path.exists(cfg_path) else {}
    vars_merged = dict(cfg.get("vars") or {})
    vars_merged.update(vars_override or {})
    project = Project(
        spark,
        name=cfg.get("name") or os.path.basename(os.path.abspath(project_dir)),
        database=database or cfg.get("database"),
        run_date=run_date,
        threads=threads or int(cfg.get("threads", 8)),
        full_refresh=full_refresh,
        vars=vars_merged,
    )

    _bind_sources(project, cfg.get("sources") or {}, project_dir)

    for seed_dir in cfg.get("seed-paths", ["seeds"]):
        sdir = os.path.join(project_dir, seed_dir)
        if not os.path.isdir(sdir):
            continue
        for f in sorted(os.listdir(sdir)):
            if f.endswith(".csv"):
                project.seed(f[: -len(".csv")], os.path.join(sdir, f))

    from .plans.sql_models import load_sql_snapshots_dir

    for snap_dir in cfg.get("snapshot-paths", ["snapshots"]):
        sdir = os.path.join(project_dir, snap_dir)
        if os.path.isdir(sdir):
            load_sql_snapshots_dir(project, sdir)

    defaults_fn = _config_tree_resolver(cfg.get("models") or {}, project.name)
    schema_docs: list[dict] = []
    for model_dir in cfg.get("model-paths", ["models"]):
        mdir = os.path.join(project_dir, model_dir)
        if not os.path.isdir(mdir):
            continue
        load_sql_models_dir(project, mdir, config_defaults_fn=defaults_fn)
        for root, _dirs, files in sorted(os.walk(mdir)):
            for f in sorted(files):
                if f.endswith((".yml", ".yaml")):
                    schema_docs.append(_read_yaml(os.path.join(root, f)))
    # Attach AFTER every model dir has loaded, so a schema file may
    # describe models from any model-path (dbt allows cross-dir YAML).
    from .plans.semantics import SemanticLayer

    project.semantic_layer = SemanticLayer(project)
    for doc in schema_docs:
        _attach_schema_tests(project, doc)
        _collect_unit_tests(project, doc)
        _collect_exposures(project, doc)
        project.semantic_layer.load(doc)

    # analyses/: compile-only SQL (dbt analysis nodes — rendered into
    # target/compiled/, never materialized; reference: dbt
    # analysis-paths).
    from .plans.sql_models import register_sql_model

    for ana_dir in cfg.get("analysis-paths", ["analyses"]):
        adir = os.path.join(project_dir, ana_dir)
        if not os.path.isdir(adir):
            continue
        for root, _dirs, files in sorted(os.walk(adir)):
            for f in sorted(files):
                if not f.endswith(".sql"):
                    continue
                aname = f[: -len(".sql")]
                with open(os.path.join(root, f)) as fh:
                    register_sql_model(project, fh.read(), aname)
                node = project.nodes[aname]
                node.kind = "analysis"
                node.materialized = "ephemeral"
                node.path = os.path.join(root, f)

    # macros/ (macro-paths): {% macro %} blocks become SQL-fragment
    # macros usable from any model SQL and from `run-operation`.
    from .plans.sql_models import load_macros_dir

    for macro_dir in cfg.get("macro-paths", ["macros"]):
        madir = os.path.join(project_dir, macro_dir)
        if os.path.isdir(madir):
            load_macros_dir(project, madir)

    # tests/ (test-paths): dbt SINGULAR data tests — each .sql file is a
    # violations SELECT rendered with ref()/source() at test time; pass
    # iff it returns 0 rows (reference: dbt singular tests —
    # SP/dbt/parser/singular_test.py; same pass/fail contract as the
    # generic tests' compiled SELECTs). A config() header supports
    # severity/store_failures like schema-file tests.
    from .plans.sql_models import _REF_RE, _SOURCE_RE, parse_config

    for test_dir in cfg.get("test-paths", ["tests"]):
        tdir = os.path.join(project_dir, test_dir)
        if not os.path.isdir(tdir):
            continue
        for root, _dirs, files in sorted(os.walk(tdir)):
            for f in sorted(files):
                if not f.endswith(".sql"):
                    continue
                tname = f[: -len(".sql")]
                with open(os.path.join(root, f)) as fh:
                    raw = fh.read()
                tcfg, body = parse_config(raw)
                refs = _REF_RE.findall(body)
                anchors = [r[0] if isinstance(r, tuple) else r for r in refs]
                if not anchors:
                    # dbt anchors a singular test to its ref graph; with
                    # no refs there is nothing to select/run it against.
                    raise ValueError(
                        f"singular test {tname!r} must reference at least "
                        "one model via ref()"
                    )
                config: dict[str, Any] = {}
                if tcfg.pop("severity", "error") == "warn":
                    config["error_if"] = lambda _n: False
                    config["warn_if"] = lambda n: n != 0
                if tcfg.pop("store_failures", False):
                    config["store_failures"] = True

                def _violations(_df, _body=body):
                    # Late-rendered: ref() reads the MATERIALIZED relation
                    # at test time (dbt semantics), and the anchor df is
                    # ignored — a singular test is its own SELECT.
                    return project.query(_body)

                project.test(anchors[0], tname, _violations, **config)

    sel_path = os.path.join(project_dir, "selectors.yml")
    if os.path.exists(sel_path):
        project.load_selectors(sel_path)
    return project


# ---------------------------------------------------------------------------
# Command implementations
# ---------------------------------------------------------------------------


def _combine_select(select: list[str], exclude: list[str]) -> str | None:
    """dbt --select/--exclude → one DSL string (exclusion is the DSL's
    leading-``!`` form; reference: SP/dbt/graph/cli.py:27-166)."""
    tokens = list(select) + [f"!{t}" for t in exclude]
    return " ".join(tokens) if tokens else None


def _restrict_kind(select: str | None, kind: str) -> str:
    """Intersect a selection with a node kind (``dbt seed --select x`` runs
    only seeds matching x; comma is the DSL's intersection operator)."""
    base = f"config.kind:{kind}"
    if not select:
        return base
    out = []
    for tok in select.split():
        out.append(tok if tok.startswith("!") else f"{base},{tok}")
    return " ".join(out) or base


def _print_results(results: list["RunResult"], out=sys.stdout) -> int:
    total = len(results)
    for i, r in enumerate(results, 1):
        icon = _STATUS_ICON.get(r.status, r.status.upper())
        line = f"{i} of {total} {icon} {r.node} "
        line += f"[{r.status.upper()} in {r.execution_time:.2f}s]"
        if r.message:
            line += f" {r.message}"
        print(line, file=out)
    n_err = sum(1 for r in results if r.status == "error")
    n_warn = sum(1 for r in results if r.status == "warn")
    n_skip = sum(1 for r in results if r.status == "skipped")
    n_ok = total - n_err - n_warn - n_skip
    print(
        f"Done. PASS={n_ok} WARN={n_warn} ERROR={n_err} SKIP={n_skip} TOTAL={total}",
        file=out,
    )
    return 1 if n_err else 0


def _write_artifacts(project: "Project", target_dir: str) -> None:
    os.makedirs(target_dir, exist_ok=True)
    project.write_manifest(os.path.join(target_dir, "manifest.json"))
    project.write_run_results(os.path.join(target_dir, "run_results.json"))


def _maybe_load_state(project: "Project", state_dir: str | None) -> None:
    if not state_dir:
        return
    manifest = os.path.join(state_dir, "manifest.json")
    run_results = os.path.join(state_dir, "run_results.json")
    project.load_state(
        manifest, run_results if os.path.exists(run_results) else None
    )


def _cmd_run(project: "Project", args, target_dir: str, with_tests: bool) -> int:
    select = _combine_select(args.select, args.exclude)
    results = project.run(
        select=select,
        selector=args.selector,
        with_tests=with_tests,
        fail_fast=getattr(args, "fail_fast", False),
    )
    _write_artifacts(project, target_dir)
    return _print_results(results)


def _cmd_seed_or_snapshot(project: "Project", args, target_dir: str, kind: str) -> int:
    select = _combine_select(args.select, args.exclude)
    if args.selector:
        # Selector names resolve against the compiled graph (graph ops
        # need edges), then intersect with the kind like --select does.
        project.compile()
        names = sorted(project.select_by_selector(args.selector))
        select = " ".join(names) if names else None
        if select is None:
            print("Selector matched no nodes.")
            return 0
    select = _restrict_kind(select, kind)
    results = project.run(select=select)
    _write_artifacts(project, target_dir)
    return _print_results(results)


def _cmd_test(project: "Project", args, target_dir: str) -> int:
    select = _combine_select(args.select, args.exclude)
    project.compile()
    if select or args.selector:
        from .plans.selection import select_nodes

        selected = (
            project.select_by_selector(args.selector)
            if args.selector
            else select_nodes(project, select)
        )
        project.tests = [t for t in project.tests if t[0] in selected]
        project.yaml_unit_tests = [
            u
            for u in getattr(project, "yaml_unit_tests", [])
            if u["model"] in selected
        ]
    results = project.run_tests()
    results += _run_yaml_unit_tests(project)
    project.results = results
    _write_artifacts(project, target_dir)
    return _print_results(results)


def _cmd_ls(project: "Project", args) -> int:
    select = _combine_select(args.select, args.exclude)
    # DAG edges for SQL models are recorded when refs render — compile
    # first so topological order and state:/graph selection see them
    # (dbt ls parses AND compiles; SP/dbt/task/list.py).
    project.compile()
    rows = project.list(select=select, selector=args.selector)
    for row in rows:
        if args.output == "json":
            print(json.dumps(row))
        else:
            print(row["name"])
    return 0


def _cmd_compile(project: "Project", args, target_dir: str) -> int:
    select = _combine_select(args.select, args.exclude)
    project.compile()
    os.makedirs(target_dir, exist_ok=True)
    project.write_manifest(os.path.join(target_dir, "manifest.json"))
    # Compiled-SQL artifacts for every SQL-surface node (models,
    # snapshots, analyses) — dbt's target/compiled tree.
    from .plans.sql_models import render_compiled

    compiled_dir = os.path.join(target_dir, "compiled")
    os.makedirs(compiled_dir, exist_ok=True)
    for name, node in project.nodes.items():
        if not node.raw_sql or name in project._compile_errors:
            continue
        with open(os.path.join(compiled_dir, f"{name}.sql"), "w") as f:
            f.write(render_compiled(project, node))
    errs = dict(project._compile_errors)
    if select:
        from .plans.selection import select_nodes

        keep = select_nodes(project, select)
        errs = {k: v for k, v in errs.items() if k in keep}
    for name, msg in errs.items():
        print(f"ERROR compiling {name}: {msg}")
    n = len(project.nodes)
    print(f"Compiled {n - len(errs)} of {n} nodes")
    return 1 if errs else 0


def _cmd_show(project: "Project", args) -> int:
    explain = getattr(args, "explain", False)

    def _explain(df) -> None:
        # The formatted physical plan — what the engine will actually do
        # (scan pushdowns, join strategies, exchanges). An engine whose
        # whole pitch is plan quality must let users SEE the plan.
        print(
            df._jdf.queryExecution().explainString(
                df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        )

    if args.inline:
        df = project.query(args.inline)
        if explain:
            _explain(df)
        else:
            df.limit(args.limit).show(truncate=False)
        return 0
    if not args.node:
        print("show: pass a node name or --inline SQL", file=sys.stderr)
        return 2
    if explain:
        _explain(
            project.read_relation(args.node)
            if project.relation_exists(args.node)
            else project.compile_node(args.node)
        )
        return 0
    project.show(args.node, n=args.limit)
    return 0


def _cmd_docs(project: "Project", args, target_dir: str) -> int:
    from .plans.docs_site import write_docs_site

    project.compile()
    os.makedirs(target_dir, exist_ok=True)
    project.write_manifest(os.path.join(target_dir, "manifest.json"))
    project.write_catalog(os.path.join(target_dir, "catalog.json"))
    index = write_docs_site(project, target_dir)
    print(f"Docs generated at {index}")
    return 0


def _cmd_source_freshness(project: "Project", args, target_dir: str) -> int:
    """dbt source freshness: max(loaded_at_field) age vs thresholds per
    configured source (plans/freshness.py; reference: SP/dbt/task/
    freshness.py — artifact written as target/sources.json). ``--run-date``
    pins 'now' to that date's midnight UTC for deterministic checks."""
    import datetime as _dt

    from .plans.freshness import check_freshness

    now = None
    if getattr(args, "run_date", None):
        now = _dt.datetime.combine(
            _dt.date.fromisoformat(args.run_date),
            _dt.time(0, 0),
            tzinfo=_dt.timezone.utc,
        )
    configured = getattr(project, "source_freshness", {})
    if not configured:
        print("No sources configured with loaded_at_field.")
        return 0
    results = []
    worst = 0
    for name, (df, col, warn_after, error_after) in sorted(configured.items()):
        r = check_freshness(
            df, col, warn_after=warn_after, error_after=error_after, now=now
        )
        age_s = r.age.total_seconds() if r.age is not None else None
        results.append(
            {
                "unique_id": name,
                "status": r.status,
                "max_loaded_at": str(r.max_loaded_at) if r.max_loaded_at else None,
                "age_seconds": age_s,
            }
        )
        print(f"{r.status.upper():5s} {name} (age: {r.age})")
        worst = max(worst, {"pass": 0, "warn": 0, "error": 1}[r.status])
    os.makedirs(target_dir, exist_ok=True)
    with open(os.path.join(target_dir, "sources.json"), "w") as f:
        json.dump({"results": results}, f, indent=2)
    return worst


def _cmd_retry(project: "Project", target_dir: str) -> int:
    """Replay the failed/skipped nodes of the previous run_results.json
    (reference: SP/dbt/task/retry.py — cross-invocation, artifact-driven)."""
    rr_path = os.path.join(target_dir, "run_results.json")
    if not os.path.exists(rr_path):
        print(f"retry: no previous run_results.json in {target_dir}", file=sys.stderr)
        return 2
    with open(rr_path) as f:
        prev = json.load(f)
    # Tests appear in run_results as <test>__<model> and are not nodes —
    # a retried model re-runs its tests via build anyway.
    failed = sorted(
        {
            r["unique_id"]
            for r in prev.get("results", [])
            if r["status"] in ("error", "skipped")
        }
        & set(project.nodes)
    )
    if not failed:
        print("Nothing to retry — previous run was clean.")
        return 0
    results = project.run(select=" ".join(failed))
    _write_artifacts(project, target_dir)
    return _print_results(results)


# ---------------------------------------------------------------------------
# Argument parsing / entry point
# ---------------------------------------------------------------------------


def build_parser() -> argparse.ArgumentParser:
    common = argparse.ArgumentParser(add_help=False)
    common.add_argument("--project-dir", default=".", help="project directory")
    common.add_argument(
        "--target-dir", default=None, help="artifact directory (default <project>/target)"
    )
    common.add_argument("--vars", default=None, help="YAML/JSON dict of project vars")
    common.add_argument("--threads", type=int, default=None)
    common.add_argument("--full-refresh", action="store_true")
    common.add_argument(
        "--run-date", default=None, help="pin the logical run date (YYYY-MM-DD)"
    )
    common.add_argument("--database", default=None, help="target database/schema")
    common.add_argument(
        "--state", default=None, help="previous target dir for state:/result: selection"
    )
    common.add_argument(
        "--fail-fast", action="store_true",
        help="stop scheduling after the first failing level",
    )
    common.add_argument(
        "--empty", action="store_true",
        help="schema-only dry run: models materialize with LIMIT 0",
    )

    sel = argparse.ArgumentParser(add_help=False)
    sel.add_argument("--select", "-s", action="append", default=[])
    sel.add_argument("--exclude", action="append", default=[])
    sel.add_argument("--selector", default=None, help="named selector from selectors.yml")

    p = argparse.ArgumentParser(
        prog="dbt_analytics_spark",
        description="PySpark-native analytics engine: dbt CLI surface",
    )
    sub = p.add_subparsers(dest="command", required=True)
    sub.add_parser("run", parents=[common, sel], help="materialize selected models")
    sub.add_parser("build", parents=[common, sel], help="run models + their tests, DAG-ordered")
    sub.add_parser("seed", parents=[common, sel], help="load seed CSVs")
    sub.add_parser("snapshot", parents=[common, sel], help="run snapshot nodes")
    sub.add_parser("test", parents=[common, sel], help="run data tests")
    ls = sub.add_parser("ls", parents=[common, sel], aliases=["list"], help="list selected nodes")
    ls.add_argument("--output", choices=["name", "json"], default="name")
    sub.add_parser("compile", parents=[common, sel], help="compile the DAG, write manifest")
    sub.add_parser(
        "parse",
        parents=[common],
        help="load + compile the project, write the manifest — no execution",
    )
    ini = sub.add_parser(
        "init", parents=[common], help="scaffold a new project directory"
    )
    ini.add_argument("project_name")
    show = sub.add_parser("show", parents=[common], help="preview a node or inline SQL")
    show.add_argument("node", nargs="?", default=None)
    show.add_argument("-n", "--limit", type=int, default=5)
    show.add_argument("--inline", default=None, help="ad-hoc Jinja-SQL to preview")
    show.add_argument(
        "--explain",
        action="store_true",
        help="print the Catalyst physical plan instead of rows",
    )
    docs = sub.add_parser("docs", parents=[common], help="generate docs artifacts")
    docs.add_argument("action", choices=["generate"])
    src = sub.add_parser("source", parents=[common], help="source subcommands")
    src.add_argument("action", choices=["freshness"])
    rop = sub.add_parser(
        "run-operation",
        parents=[common],
        help="invoke a project macro (renders to SQL, executes, prints rows)",
    )
    rop.add_argument("macro")
    rop.add_argument(
        "--args", default="{}", help="YAML/JSON dict of macro kwargs"
    )
    sub.add_parser("retry", parents=[common], help="re-run failures from last run_results.json")
    sub.add_parser("debug", parents=[common], help="check project/session health")
    sub.add_parser("clean", parents=[common], help="remove the target directory")
    sl = sub.add_parser("sl", parents=[common], help="semantic-layer metric queries")
    sl.add_argument(
        "action", choices=["query", "list", "export", "validate", "rollup"]
    )
    sl.add_argument("--saved", default=None, help="run a saved_queries block by name")
    sl.add_argument("--metrics", default="", help="comma-separated metric names")
    sl.add_argument("--group-by", default="", help="comma-separated dimensions (dim or dim__grain)")
    sl.add_argument("--where", default=None)
    sl.add_argument("--grain", default=None, help="default grain for time dimensions")
    sl.add_argument("-n", "--limit", type=int, default=100)
    sl.add_argument("--name", default=None, help="rollup: rollup name")
    sl.add_argument("--model", default=None, help="rollup: semantic model to pre-aggregate")
    sl.add_argument(
        "--refresh",
        action="store_true",
        help="rollup: refresh an existing rollup against the current "
        "source (append-only incremental fast path; rebuilds otherwise)",
    )
    sl.add_argument(
        "--dims",
        default="",
        help="rollup: comma-separated dims (dim or time_dim__grain) to store",
    )
    clone = sub.add_parser("clone", parents=[common], help="clone a materialized relation")
    clone.add_argument("node")
    clone.add_argument("new_name")
    from .plans.star_layout import KINDS

    lay = sub.add_parser(
        "layout",
        parents=[common],
        help="engine-owned derived tables (bucketed star and its rollups, "
        "z-order, cents-enriched lineitem, q1 grain rollup): list / ensure "
        "/ refresh",
    )
    lay.add_argument("layout_action", choices=["list", "ensure", "refresh"])
    lay.add_argument(
        "--data", default=None, help="source data directory (ensure/refresh)"
    )
    lay.add_argument(
        "--kind",
        default="all",
        choices=[*KINDS, "all"],
        help="which layout family to ensure/refresh",
    )
    return p


def _cmd_layout(spark, args) -> int:
    """dbt-style operator surface for the layout family: `layout list`
    prints every substitution-capable layout the catalog discovers (with
    per-use freshness verdicts); `layout ensure --data DIR` builds (or
    verifies) them; `layout refresh --data DIR` folds append-only deltas
    (plans/star_layout.refresh; falls back to rebuild on any non-append
    change). Families are the ``kind`` of the declared tables."""
    from .plans import layout_catalog, star_layout

    act = args.layout_action
    if act == "list":
        found = layout_catalog.discover_layouts(spark)
        if not found:
            print("no layouts in the warehouse")
            return 0
        for tbl, spec in found:
            fresh = star_layout.routable(spark, spec)
            print(
                f"{tbl}  covers={spec['covers']}  "
                f"group={spec.get('group', '-')}  "
                f"{'FRESH' if fresh else 'stale-or-gated'}"
            )
        return 0
    if not args.data:
        print(f"layout {act}: pass --data DIR", file=sys.stderr)
        return 2
    for kind in star_layout.KINDS if args.kind == "all" else [args.kind]:
        if act == "refresh":
            out = star_layout.refresh_kind(spark, kind, args.data)
        else:
            out = [
                star_layout.ensure(spark, d, args.data)
                for d in star_layout.DECLARATIONS
                if d.kind == kind
            ]
        print(f"{kind}: {out}")
    return 0


def main(argv: list[str] | None = None, spark: "SparkSession | None" = None) -> int:
    args = build_parser().parse_args(argv)
    import yaml

    vars_override = yaml.safe_load(args.vars) if getattr(args, "vars", None) else None
    if vars_override is not None and not isinstance(vars_override, dict):
        print("--vars must be a YAML/JSON mapping", file=sys.stderr)
        return 2
    run_date = (
        dt.date.fromisoformat(args.run_date) if getattr(args, "run_date", None) else None
    )
    project_dir = args.project_dir
    target_dir = args.target_dir or os.path.join(project_dir, "target")

    if args.command == "init":
        # dbt init: scaffold a runnable project tree (reference:
        # SP/dbt/task/init.py — starter project). Runs before any project
        # load: the project does not exist yet.
        root = os.path.join(project_dir, args.project_name)
        if os.path.exists(root):
            print(f"{root} already exists", file=sys.stderr)
            return 2
        for sub_dir in (
            "models", "seeds", "tests", "macros", "analyses", "snapshots"
        ):
            os.makedirs(os.path.join(root, sub_dir), exist_ok=True)
        with open(os.path.join(root, "dbt_project.yml"), "w") as f:
            f.write(
                f"name: {args.project_name}\n"
                "model-paths: [models]\nseed-paths: [seeds]\n"
                "test-paths: [tests]\nmacro-paths: [macros]\n"
                "analysis-paths: [analyses]\nsnapshot-paths: [snapshots]\n"
            )
        with open(os.path.join(root, "models", "example.sql"), "w") as f:
            f.write(
                "{{ config(materialized='table') }}\n"
                "SELECT 1 AS id, 'hello' AS greeting\n"
            )
        print(f"Created project {args.project_name!r} at {root}")
        return 0

    owns_spark = spark is None
    if spark is None:
        from .session import get_spark

        spark = get_spark("dbt-analytics-spark-cli")
    try:
        if args.command == "layout":
            # layout commands operate on a DATA directory + the session
            # warehouse — no project load needed (or present)
            return _cmd_layout(spark, args)
        project = load_project(
            spark,
            project_dir,
            vars_override=vars_override,
            threads=args.threads,
            full_refresh=args.full_refresh,
            run_date=run_date,
            database=args.database,
        )
        project.empty_run = getattr(args, "empty", False)
        _maybe_load_state(project, args.state)
        cmd = args.command
        if cmd == "run":
            return _cmd_run(project, args, target_dir, with_tests=False)
        if cmd == "build":
            return _cmd_run(project, args, target_dir, with_tests=True)
        if cmd == "seed":
            return _cmd_seed_or_snapshot(project, args, target_dir, "seed")
        if cmd == "snapshot":
            return _cmd_seed_or_snapshot(project, args, target_dir, "snapshot")
        if cmd == "test":
            return _cmd_test(project, args, target_dir)
        if cmd in ("ls", "list"):
            return _cmd_ls(project, args)
        if cmd == "compile":
            return _cmd_compile(project, args, target_dir)
        if cmd == "show":
            return _cmd_show(project, args)
        if cmd == "docs":
            return _cmd_docs(project, args, target_dir)
        if cmd == "source":
            return _cmd_source_freshness(project, args, target_dir)
        if cmd == "parse":
            # dbt parse: full load + compile + manifest, zero execution
            # (reference: SP/dbt/task/parse.py) — the CI "is the project
            # well-formed" gate.
            project.compile()
            os.makedirs(target_dir, exist_ok=True)
            project.write_manifest(os.path.join(target_dir, "manifest.json"))
            for n, e in sorted(project._compile_errors.items()):
                print(f"Parse error in {n}: {e}")
            print(
                f"Parsed {len(project.nodes)} nodes "
                f"({len(project._compile_errors)} errors)"
            )
            return 1 if project._compile_errors else 0
        if cmd == "run-operation":
            # dbt run-operation: invoke a macro for its side effects /
            # result (reference: SP/dbt/task/run_operation.py). The macro
            # renders to SQL (param substitution), then executes through
            # the same ref()/source()-aware renderer as models.
            import yaml as _yaml

            if args.macro not in project.sql_macros:
                known = ", ".join(sorted(project.sql_macros)) or "(none)"
                print(f"Unknown macro {args.macro!r}. Known macros: {known}")
                return 2
            kwargs = _yaml.safe_load(args.args) or {}
            if not isinstance(kwargs, dict):
                print("--args must be a YAML/JSON mapping")
                return 2
            sql = project.sql_macros[args.macro](**kwargs)
            df = project.query(str(sql))
            for row in df.limit(50).collect():
                print(row.asDict())
            return 0
        if cmd == "retry":
            return _cmd_retry(project, target_dir)
        if cmd == "debug":
            # dbt debug: environment + project sanity (reference:
            # SP/dbt/task/debug.py — connection/config checks).
            print(f"spark version: {spark.version}")
            print(f"warehouse: {spark.conf.get('spark.sql.warehouse.dir', '?')}")
            n_src = sum(1 for n in project.nodes.values() if n.kind == "source")
            n_models = sum(1 for n in project.nodes.values() if n.kind == "model")
            n_seeds = sum(1 for n in project.nodes.values() if n.kind == "seed")
            n_snaps = sum(1 for n in project.nodes.values() if n.kind == "snapshot")
            print(
                f"project {project.name!r}: {n_models} models, {n_seeds} seeds, "
                f"{n_snaps} snapshots, {n_src} sources, "
                f"{len(project.tests)} tests"
            )
            project.compile()
            errs = project._compile_errors
            for bad, msg in errs.items():
                print(f"COMPILE ERROR {bad}: {msg}")
            print("All checks passed!" if not errs else "Compile errors found")
            return 1 if errs else 0
        if cmd == "sl":
            sl = getattr(project, "semantic_layer", None)
            if sl is None or (not sl.metrics and not sl.models):
                print("No semantic models/metrics defined in schema files.")
                return 2 if args.action == "query" else 0
            if args.action == "list":
                for name, m in sorted(sl.metrics.items()):
                    print(f"{name} ({m.type})")
                for name in sorted(sl.saved_queries):
                    print(f"{name} (saved query)")
                return 0
            if args.action == "validate":
                # Static validation, no Spark jobs: every metric's
                # references resolve (measures, ratio legs, derived
                # inputs — cycles fail with their chain), windows parse,
                # and conversion params are complete. Mirrors MetricFlow's
                # `mf validate-configs` surface.
                from .plans.semantics import _grain_interval, _parse_window

                problems: list[str] = []
                for name, m in sorted(sl.metrics.items()):
                    try:
                        if m.type in ("simple", "cumulative"):
                            ms = sl._measure_of(m)
                            if ms.agg == "percentile":
                                p = (ms.agg_params or {}).get("percentile")
                                if p is None or not (0.0 <= float(p) <= 1.0):
                                    raise ValueError(
                                        f"measure {ms.name!r}: agg "
                                        "'percentile' needs "
                                        "agg_params.percentile in [0, 1]"
                                    )
                        if m.type in ("ratio", "derived"):
                            sl._metric_sql(m)
                        if m.window:
                            # Match the COMPILE paths exactly: conversion
                            # windows go through _grain_interval (which
                            # additionally accepts 'hour'); cumulative
                            # windows through _parse_window. Validating a
                            # conversion '1 hour' window with the stricter
                            # parser was a false FAIL on a metric query()
                            # runs fine.
                            if m.type == "conversion":
                                _grain_interval(m.window)
                            else:
                                _parse_window(m.window)
                        if m.type == "conversion":
                            for fld in (
                                "base_measure",
                                "conversion_measure",
                                "entity",
                            ):
                                if not getattr(m, fld):
                                    raise ValueError(
                                        f"conversion metric needs {fld}"
                                    )
                        for mi in m.inputs:
                            if (
                                mi.offset_window or mi.offset_to_grain
                            ) and not mi.alias:
                                raise ValueError(
                                    f"offset input {mi.name!r} needs an "
                                    "alias"
                                )
                            if mi.offset_window and mi.offset_to_grain:
                                raise ValueError(
                                    f"input {mi.name!r}: offset_window "
                                    "and offset_to_grain are mutually "
                                    "exclusive"
                                )
                            if mi.offset_to_grain:
                                _grain_interval(mi.offset_to_grain)
                    except Exception as exc:  # noqa: BLE001 — report all
                        problems.append(f"{name}: {exc}")
                for name, sq in sorted(sl.saved_queries.items()):
                    for mname in sq.metrics:
                        if mname not in sl.metrics:
                            problems.append(
                                f"{name} (saved query): unknown metric "
                                f"{mname!r}"
                            )
                if problems:
                    for pr in problems:
                        print(f"FAIL {pr}")
                    return 2
                print(
                    f"OK: {len(sl.metrics)} metrics, "
                    f"{len(sl.saved_queries)} saved queries validated"
                )
                return 0
            if args.action == "rollup":
                # Aggregate awareness (plans/semantics.Rollup): build an
                # engine-maintained pre-aggregation; subsequent `sl query`
                # invocations in this session route to it automatically
                # when the request re-aggregates exactly from it.
                if args.refresh:
                    # incremental refresh (append-only fast path; falls
                    # back to a rebuild when the source was rewritten or
                    # definitions drifted — plans/semantics.refresh_rollup)
                    if not (args.name and args.model):
                        print(
                            "sl rollup --refresh: pass --name and --model",
                            file=sys.stderr,
                        )
                        return 2
                    sl.discover_rollups()
                    r = sl.refresh_rollup(args.name, args.model)
                    print(
                        f"rollup {r.name} -> {r.table} "
                        f"({sl.last_refresh_mode})"
                    )
                    return 0
                if not (args.name and args.model and args.dims):
                    print(
                        "sl rollup: pass --name, --model and --dims",
                        file=sys.stderr,
                    )
                    return 2
                dims = [d.strip() for d in args.dims.split(",") if d.strip()]
                r = sl.materialize_rollup(args.name, args.model, dims)
                print(
                    f"rollup {r.name} -> {r.table} "
                    f"(dims: {', '.join(r.dims)}; measures: "
                    f"{', '.join(sorted(r.measures))})"
                )
                return 0
            if args.action == "export":
                targets = (
                    [args.saved] if args.saved else sorted(sl.saved_queries)
                )
                for name in targets:
                    for rel in sl.run_exports(name):
                        print(f"exported {name} -> {rel}")
                return 0
            # pick up rollups built by previous invocations (aggregate
            # awareness routes automatically when derivable)
            sl.discover_rollups()
            if args.saved:
                sl.run_saved(args.saved).limit(args.limit).show(truncate=False)
                return 0
            names = [m.strip() for m in args.metrics.split(",") if m.strip()]
            if not names:
                print("sl query: pass --metrics", file=sys.stderr)
                return 2
            gb = [g.strip() for g in args.group_by.split(",") if g.strip()]
            sl.query(
                names, group_by=gb, where=args.where, time_grain=args.grain
            ).limit(args.limit).show(truncate=False)
            return 0
        if cmd == "clean":
            import shutil

            if os.path.isdir(target_dir):
                shutil.rmtree(target_dir)
                print(f"Removed {target_dir}")
            else:
                print(f"Nothing to clean at {target_dir}")
            return 0
        if cmd == "clone":
            project.compile()
            project.run(select=args.node)
            project.clone(args.node, args.new_name)
            print(f"Cloned {args.node} -> {args.new_name}")
            return 0
        print(f"unknown command {cmd!r}", file=sys.stderr)
        return 2
    finally:
        if owns_spark:
            spark.stop()
