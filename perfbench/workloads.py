"""The benchmark's workloads, pinned here so that edits to ``bench.py`` or
``scripts/`` cannot change what is measured.

Each workload is a closed loop with one client. ``make_inputs`` makes the
inputs from the seed and ``prepare`` does the one-time work a warehouse
would already hold; both are set-up. ``iteration`` is one timed unit of
work and returns its operations as ``(name, seconds, ok)``; ``check``
verifies the outputs after the timed window.
"""

from __future__ import annotations

import datetime as dt
import decimal
import os
import random

import numpy as np
import pandas as pd

import datagen

RUN_DATE = dt.date(2025, 8, 31)

#: Ad-hoc mix: the 19 headline queries of the sf0.1 bench.
QUERIES = (
    "q1_pricing_summary",
    "q1b_pricing_summary_layout",
    "j1_join_agg",
    "j1b_join_agg_bucketed",
    "j3_top1_per_group",
    "j3b_regex_lateral_top1",
    "w3_pct_of_total",
    "w3b_pct_of_total_bucketed",
    "q13_custdist",
    "q13b_custdist_bucketed",
    "g1_date_spine",
    "u1_union_dedup",
    "ev1_sessionize",
    "j5_explode_split",
    "dd1_exact_dedup",
    "dd3_minhash_lsh",
    "sim1_cosine_topk",
    "sim3_ivf_topk",
    "txt2_quality",
)
#: Queries without an oracle whose row count must not change between runs.
ROWS_STABLE = ("dd3_minhash_lsh", "sim3_ivf_topk")

#: Input sizes per scale: card_transactions rows for the DAG, data scale
#: factor for the query mix.
SIZES = {
    "full": {"dag_n": 600, "sf": 0.02},
    "tiny": {"dag_n": 600, "sf": 0.001},
}

#: Nodes of the finance DAG reported one by one in the traced run.
DAG_NODES = ("classified_card_transactions", "card_merchants_model", "metrics_monthly")


def _canon(x) -> str:
    if isinstance(x, (list, tuple, np.ndarray)):
        return "[" + ",".join(_canon(v) for v in x) + "]"
    if x is None or (isinstance(x, float) and x != x) or x is pd.NaT:
        return "null"
    if isinstance(x, (bool, np.bool_)):
        return str(bool(x))
    if isinstance(x, (int, np.integer)):
        return str(int(x))
    if isinstance(x, (float, np.floating, decimal.Decimal)):
        return f"{float(x):.17g}"
    if isinstance(x, dt.datetime):
        return x.date().isoformat() if x.time() == dt.time() else x.isoformat()
    if isinstance(x, dt.date):
        return x.isoformat()
    return str(x)


def canonical(pdf: pd.DataFrame) -> tuple[tuple[str, ...], list[tuple]]:
    """Order-insensitive form of a result: sorted column names and sorted
    rows of canonical strings (floats to 17 significant digits)."""
    cols = sorted(pdf.columns)
    rows = [
        tuple(_canon(v) for v in row)
        for row in pdf[cols].astype(object).itertuples(index=False, name=None)
    ]
    return tuple(cols), sorted(rows)


class FinanceDag:
    """The paper's dbt project: 27 models and 4 seeds, run like ``dbt run``."""

    name = "finance_dag"

    def __init__(self, spark, tracer, seed: int, size: dict, work: str):
        self.spark, self.tracer, self.seed = spark, tracer, seed
        self.n = size["dag_n"]
        self.project = None
        self.results = []

    def make_inputs(self) -> None:
        from dbt_analytics_spark.workload import fixtures

        s, base = self.spark, self.seed * 10
        self.sources = {
            "card_transactions": fixtures.card_transactions(s, n=self.n, seed=base),
            "exercise_log": fixtures.exercise_log(s, seed=base + 1),
            "recipe_log": fixtures.recipe_log(s, seed=base + 2),
            "shopping_log": fixtures.shopping_log(s, seed=base + 3),
            "weights": fixtures.weights(s, seed=base + 4),
        }

    def prepare(self) -> None:
        pass  # a cold first run into an empty warehouse, as from the CLI

    def iteration(self) -> list[tuple[str, float, bool]]:
        from dbt_analytics_spark.workload import build_project

        tr = self.tracer
        with tr.span("workload.register", counted=True):
            p = build_project(self.spark, self.sources, run_date=RUN_DATE)
        with tr.span("registry.compile", counted=True):
            p.compile()
        with tr.span("registry.run", counted=True):
            results = p.run()
        self.project, self.results = p, results
        return [(r.node, r.execution_time, r.status == "success") for r in results]

    def layer_metrics(self, span: dict) -> dict[str, float]:
        run_s = sum(
            s["end"] - s["start"]
            for s in self.tracer.children(span)
            if s["name"] == "registry.run"
        )
        times = {r.node: r.execution_time for r in self.results}
        nodes = self.project.nodes
        memo: dict[str, float] = {}

        def chain(name: str) -> float:
            if name not in memo:
                deps = nodes[name].depends_on
                memo[name] = times.get(name, 0.0) + max(
                    (chain(d) for d in deps), default=0.0
                )
            return memo[name]

        node_sum = sum(times.values())
        out = {
            "registry.node_s_sum": node_sum,
            "registry.critical_path_s": max(chain(n) for n in nodes),
            "registry.overlap": node_sum / run_s if run_s else 0.0,
        }
        for name in DAG_NODES:
            out[f"node.{name}_s"] = times.get(name, 0.0)
        return out

    def check(self, full: bool) -> list[str]:
        """Names of the models whose table is wrong.

        Every run checks that each model's table has rows and that the
        grain families add up: each spend table sums to the classified
        amount, each plants table counts every flattened recipe row and
        each recipes table counts every raw recipe row. ``full`` also
        compares each table with its SQL-authored twin."""
        from dbt_analytics_spark.workload.sql_dag import (
            SQL_MODEL_NAMES,
            register_sql_dag,
        )

        p, grains = self.project, ("weekly", "monthly", "quarterly", "yearly")
        totals = {
            **{f"spend_{g}": ("sum(total_spend)", "classified")
               for g in ("daily",) + grains},
            **{f"plants_{g}": ("sum(total_count)", "flattened") for g in grains},
            **{f"recipes_{g}": ("sum(total_count)", "raw") for g in grains},
        }
        refs = {
            "classified": "sum(amount) FROM classified_card_transactions",
            "flattened": "count(*) FROM recipe_log_flattened",
        }
        cols = [f"(SELECT count(*) FROM {p.qualified(m)}) AS `{m}`"
                for m in SQL_MODEL_NAMES]
        cols += [f"(SELECT {agg} FROM {p.qualified(m)}) AS `{m}.total`"
                 for m, (agg, _) in totals.items()]
        cols += [f"(SELECT {sql}) AS `{name}`" for name, sql in refs.items()]
        row = self.spark.sql("SELECT " + ", ".join(cols)).first().asDict()
        row["raw"] = self.sources["recipe_log"].count()
        wrong = [m for m in SQL_MODEL_NAMES if not row[m]]
        wrong += [m for m, (_, ref) in totals.items() if row[f"{m}.total"] != row[ref]]
        if full:
            twins = register_sql_dag(p, run_date=RUN_DATE)
            results = p.run(select=" ".join(twins))
            wrong += [r.node.removesuffix("_sql") for r in results if r.status != "success"]
            for model in SQL_MODEL_NAMES:
                a = canonical(self.spark.table(p.qualified(model)).toPandas())
                b = canonical(self.spark.table(p.qualified(f"{model}_sql")).toPandas())
                if a != b:
                    wrong.append(model)
        return wrong


class AdhocMix:
    """The 19 headline queries in a seed-shuffled order, each fully executed
    and collected, as the first queries of a fresh session whose warehouse
    already holds the engine's layouts."""

    name = "adhoc_mix"

    def __init__(self, spark, tracer, seed: int, size: dict, work: str):
        self.spark, self.tracer, self.seed = spark, tracer, seed
        self.sf = size["sf"]
        self.data = os.path.join(work, "data")
        self.order = random.Random(seed)
        self.outputs: dict[str, object] = {}

    def make_inputs(self) -> None:
        datagen.write(self.data, self.seed, self.sf)

    def prepare(self) -> None:
        """Build the bucketed star, the cents lineitem and the q1 rollup
        layouts that q1b, j1b, w3b and q13b read."""
        from dbt_analytics_spark.plans import star_layout

        star_layout.ensure_star_layout(self.spark, self.data)
        star_layout.ensure_lineitem_layout(self.spark, self.data)
        star_layout.ensure_q1_rollup(self.spark, self.data)

    def iteration(self) -> list[tuple[str, float, bool]]:
        from dbt_analytics_spark.queries import REGISTRY

        tr, ops = self.tracer, []
        names = list(QUERIES)
        self.order.shuffle(names)
        for name in names:
            builder = REGISTRY[name][0]
            try:
                with tr.span("queries.build", query=name) as b:
                    df = builder(self.spark, self.data)
                with tr.span("queries.exec", query=name) as e:
                    table = df.toArrow()
            except Exception as exc:  # noqa: BLE001 — a failed query is counted
                self.outputs[name] = exc
                ops.append((name, 0.0, False))
                continue
            self.outputs[name] = table
            ops.append((name, e["end"] - b["start"], True))
        return ops

    def layer_metrics(self, span: dict) -> dict[str, float]:
        out = {"queries.build_s": 0.0, "queries.exec_s": 0.0}
        for s in self.tracer.children(span):
            key = s["name"].split(".")[1]
            out[f"queries.{key}_s"] += s["end"] - s["start"]
            out[f"q.{s['query']}.{key}_s"] = s["end"] - s["start"]
        return out

    def check(self, full: bool) -> list[str]:
        """Names of the queries whose last output is wrong: a mismatch with
        the DuckDB oracle or, for the queries without one, a row count that
        differs when the query runs again."""
        import duckdb

        from dbt_analytics_spark.queries import REGISTRY

        con = duckdb.connect()
        for f in sorted(os.listdir(self.data)):
            if f.endswith(".parquet"):
                path = os.path.join(self.data, f)
                con.execute(
                    f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')"
                )
        wrong = []
        for name in QUERIES:
            out, sql = self.outputs.get(name), REGISTRY[name][1]
            if not hasattr(out, "to_pandas"):
                wrong.append(name)
            elif name in ROWS_STABLE:
                again = REGISTRY[name][0](self.spark, self.data).toArrow()
                if again.num_rows != out.num_rows:
                    wrong.append(name)
            elif sql is None or canonical(out.to_pandas()) != canonical(
                con.execute(sql).fetch_df()
            ):
                wrong.append(name)
        con.close()
        return wrong


WORKLOADS = {w.name: w for w in (FinanceDag, AdhocMix)}
