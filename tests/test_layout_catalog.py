"""Engine-level layout awareness (plans/layout_catalog.py): layouts are
catalog-discovered from their sidecars and substituted for raw source
scans in USER-AUTHORED models resolved through the Project registry —
the generalization of the j1/w3/q13 registry-query routing into an
engine rule (VERDICT r13 item 1). Contract under test: discovery via
sidecar, physical (input-file) matching, fingerprint-gated freshness,
silent fallback, never builds, row- and schema-identity of the routed
plan, and the exchange-free join a user SQL-string star model inherits.
"""

from __future__ import annotations

import os
import shutil
import uuid

import pytest
from pyspark.sql import functions as F

from dbt_analytics_spark.plans import layout_catalog, star_layout
from dbt_analytics_spark.plans.registry import Project

SF = "/root/testdata/sf0.001"
TABLES = ("orders", "customer", "nation", "region")

USER_STAR_SQL = """
SELECT r_name AS region_name, n_name AS nation_name,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
           AS total_spend
FROM {{ source('orders') }} o
JOIN {{ source('customer') }} c ON o.o_custkey = c.c_custkey
JOIN {{ source('nation') }} n ON c.c_nationkey = n.n_nationkey
JOIN {{ source('region') }} r ON n.n_regionkey = r.r_regionkey
GROUP BY 1, 2
"""


@pytest.fixture(autouse=True)
def _route_at_toy_scale(monkeypatch):
    monkeypatch.setattr(star_layout, "ROUTE_MIN_FACT_BYTES", 0)


@pytest.fixture()
def sf_copy(tmp_path):
    d = str(tmp_path / f"sfc_{uuid.uuid4().hex[:8]}")
    os.makedirs(d)
    for t in TABLES:
        shutil.copy(os.path.join(SF, f"{t}.parquet"), d)
    return d


def _user_project(spark, sf_dir) -> Project:
    p = Project(spark, name=f"user_{uuid.uuid4().hex[:6]}")
    for t in TABLES:
        p.source_table(
            t, spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet"))
        )
    p.sql_model(USER_STAR_SQL, name="user_star", materialized="ephemeral")
    return p


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _scanned_tables(df) -> set[str]:
    """The catalog tables ``df``'s optimized plan reads."""
    import re

    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return set(re.findall(r"spark_catalog\.default\.(\w+)", plan))


def test_route_source_misses_without_layout(spark, sf_copy):
    df = spark.read.parquet(os.path.join(sf_copy, "orders.parquet"))
    assert layout_catalog.route_source(spark, df) is None


def test_route_source_hits_identity_and_derived(spark, sf_copy):
    o_tbl, c_tbl = star_layout.ensure_star_layout(spark, sf_copy)
    orders = spark.read.parquet(os.path.join(sf_copy, "orders.parquet"))
    routed = layout_catalog.route_source(spark, orders)
    assert routed is not None and _scanned_tables(routed) == {o_tbl}
    assert routed.schema == orders.schema
    assert _rows(routed) == _rows(orders)
    customer = spark.read.parquet(os.path.join(sf_copy, "customer.parquet"))
    routed_c = layout_catalog.route_source(spark, customer)
    assert routed_c is not None and _scanned_tables(routed_c) == {c_tbl}
    # the derived (flattened-snowflake) layout substitutes the raw dim
    # with IDENTICAL schema and rows — the row-parity build proof at work
    assert routed_c.schema == customer.schema
    assert _rows(routed_c) == _rows(customer)


def test_route_source_refuses_pre_transformed_frame(spark, sf_copy):
    star_layout.ensure_star_layout(spark, sf_copy)
    orders = spark.read.parquet(os.path.join(sf_copy, "orders.parquet"))
    # same files, different column view: not the original relation
    assert (
        layout_catalog.route_source(spark, orders.select("o_orderkey"))
        is None
    )


def test_route_source_refuses_filtered_frame(spark, sf_copy):
    """VERDICT r14 item 1 (the one silent-wrong-rows hazard): a filtered
    source keeps the raw scan's inputFiles(), column list, AND schema —
    the three physical-identity checks all pass — so only the
    bare-scan logical-plan guard stands between it and the UNFILTERED
    layout. The filtered frame must refuse; the bare scan (control)
    must still route in the same warehouse state."""
    o_tbl, _ = star_layout.ensure_star_layout(spark, sf_copy)
    orders = spark.read.parquet(os.path.join(sf_copy, "orders.parquet"))
    filtered = orders.filter(F.col("o_orderstatus") == "O")
    assert list(filtered.columns) == list(orders.columns)
    assert filtered.schema == orders.schema
    assert layout_catalog.route_source(spark, filtered) is None
    # control: the untouched scan still routes
    routed = layout_catalog.route_source(spark, orders)
    assert routed is not None and _scanned_tables(routed) == {o_tbl}


def test_route_source_refuses_value_rewriting_frame(spark, sf_copy):
    """A withColumn that rewrites VALUES but keeps names and types also
    passes every physical check — same files, columns, schema — and is
    caught only by the plan walk (Project node above the relation)."""
    star_layout.ensure_star_layout(spark, sf_copy)
    orders = spark.read.parquet(os.path.join(sf_copy, "orders.parquet"))
    rewritten = orders.withColumn(
        "o_orderstatus", F.upper(F.col("o_orderstatus"))
    )
    assert rewritten.schema == orders.schema
    assert layout_catalog.route_source(spark, rewritten) is None


def test_registered_filtered_source_falls_back_end_to_end(spark, sf_copy):
    """The registry path: Project.source_table('orders', raw.filter(...))
    with a fresh covering layout must compile downstream models from the
    FILTERED rows (fallback), never the full layout table."""
    star_layout.ensure_star_layout(spark, sf_copy)
    raw = spark.read.parquet(os.path.join(sf_copy, "orders.parquet"))
    cond = F.col("o_orderstatus") == "O"
    p = Project(spark, name=f"user_{uuid.uuid4().hex[:6]}")
    p.source_table("orders", raw.filter(cond))
    for t in ("customer", "nation", "region"):
        p.source_table(
            t, spark.read.parquet(os.path.join(sf_copy, f"{t}.parquet"))
        )
    p.sql_model(USER_STAR_SQL, name="user_star", materialized="ephemeral")
    got = p.compile_node("user_star")
    expected_orders = raw.filter(cond).count()
    assert got.agg(F.sum("n_orders")).collect()[0][0] == expected_orders
    # and the bare-scan sibling sources still routed where applicable
    customer = spark.read.parquet(os.path.join(sf_copy, "customer.parquet"))
    assert layout_catalog.route_source(spark, customer) is not None


@pytest.mark.parametrize(
    "error, falls_back", [(OSError, True), (KeyError, False)]
)
def test_registry_route_fallback_only_on_expected_errors(
    spark, sf_copy, monkeypatch, error, falls_back
):
    """The registry falls back to the raw scan only on the errors routing
    expects (JVM, Spark, filesystem); a defect inside route_source — the
    ``KeyError: 'bucket_col'`` a broad handler once hid — surfaces when a
    source node compiles."""
    p = _user_project(spark, sf_copy)

    def broken(spark, df):
        raise error("bucket_col")

    monkeypatch.setattr(layout_catalog, "route_source", broken)
    if falls_back:
        assert p.compile_node("orders").count() == p.nodes["orders"].fn(
            None
        ).count()
    else:
        with pytest.raises(KeyError, match="bucket_col"):
            p.compile_node("orders")


def test_route_source_respects_fact_size_gate(spark, sf_copy, monkeypatch):
    star_layout.ensure_star_layout(spark, sf_copy)
    orders = spark.read.parquet(os.path.join(sf_copy, "orders.parquet"))
    assert layout_catalog.route_source(spark, orders) is not None
    monkeypatch.setattr(star_layout, "ROUTE_MIN_FACT_BYTES", 1 << 60)
    assert layout_catalog.route_source(spark, orders) is None


def test_route_source_stale_after_rewrite_falls_back(spark, sf_copy):
    star_layout.ensure_star_layout(spark, sf_copy)
    orders = spark.read.parquet(os.path.join(sf_copy, "orders.parquet"))
    assert layout_catalog.route_source(spark, orders) is not None
    kept = orders.filter(F.col("o_orderstatus") == "O").collect()
    tmp_new = sf_copy + "_neworders"
    spark.createDataFrame(kept, orders.schema).coalesce(1).write.parquet(
        tmp_new
    )
    os.remove(os.path.join(sf_copy, "orders.parquet"))
    os.rename(tmp_new, os.path.join(sf_copy, "orders.parquet"))
    fresh = spark.read.parquet(os.path.join(sf_copy, "orders.parquet"))
    # orders layout: its own source changed -> fingerprint mismatch
    assert layout_catalog.route_source(spark, fresh) is None
    # custmap layout: orders is not among its sources, but it IS the
    # group's route gate; the customer substitution stays valid (its own
    # sources are untouched)
    customer = spark.read.parquet(os.path.join(sf_copy, "customer.parquet"))
    assert layout_catalog.route_source(spark, customer) is not None


def test_user_sql_model_inherits_exchange_free_plan(spark, sf_copy):
    """The VERDICT r13 'Done' criterion: a user-authored SQL-string star
    join — written against raw source tables, never naming the layout —
    routes to the bucketed layout when it exists and is fresh, yielding
    a plan whose fact⋈dim join has NO shuffle exchange on either side,
    row-identical to the raw plan."""
    p_raw = _user_project(spark, sf_copy)
    p_raw.layout_routing = False
    raw_df = p_raw.compile_node("user_star")
    raw_rows = _rows(raw_df)

    star_layout.ensure_star_layout(spark, sf_copy)
    p = _user_project(spark, sf_copy)
    routed_df = p.compile_node("user_star")
    assert routed_df.schema == raw_df.schema

    # pin the plan BEFORE executing (an executed AdaptiveSparkPlan prints
    # final + initial plans, double-counting every exchange)
    plan = routed_df._jdf.queryExecution().executedPlan().toString()
    assert "star_orders" in plan and "star_custmap" in plan
    # the orders⋈customer hop joins two co-bucketed scans: the only
    # SHUFFLE exchange in the whole plan is the tiny 25-nation groupBy;
    # nation/region ride broadcasts
    shuffles = plan.count("Exchange") - plan.count("BroadcastExchange")
    assert shuffles == 1, plan
    # both routed scans are co-bucketed on the join key — at cluster
    # scale (dim past the broadcast threshold) this is what lets the
    # fact⋈dim hop run as a bucket-local join with NO exchange on
    # either side (pinned at data scale by test_plan_quality's j1b)
    assert plan.count("Bucketed: true") == 2, plan
    assert _rows(routed_df) == raw_rows


def test_user_sql_model_select_star_routed_schema_identical(spark, sf_copy):
    """SELECT * over a routed source must keep the source's exact
    schema: the substitution projects the layout back to the covered
    relation's original columns, so enrichment columns never leak."""
    star_layout.ensure_star_layout(spark, sf_copy)
    p = Project(spark, name=f"user_{uuid.uuid4().hex[:6]}")
    customer = spark.read.parquet(os.path.join(sf_copy, "customer.parquet"))
    p.source_table("customer", customer)
    p.sql_model(
        "SELECT * FROM {{ source('customer') }}",
        name="all_cust",
        materialized="ephemeral",
    )
    out = p.compile_node("all_cust")
    assert out.schema == customer.schema
    assert _rows(out) == _rows(customer)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "star_custmap" in plan


def test_routing_disabled_flag_keeps_raw_plan(spark, sf_copy):
    star_layout.ensure_star_layout(spark, sf_copy)
    p = _user_project(spark, sf_copy)
    p.layout_routing = False
    plan = (
        p.compile_node("user_star")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "star_orders" not in plan


def test_discover_layouts_lists_sidecar_contracts(spark, sf_copy):
    o_tbl, c_tbl = star_layout.ensure_star_layout(spark, sf_copy)
    names = {t for t, _ in layout_catalog.discover_layouts(spark)}
    assert {o_tbl, c_tbl} <= names
    specs = dict(layout_catalog.discover_layouts(spark))
    assert specs[o_tbl]["covers"] == "orders"
    assert specs[c_tbl]["covers"] == "customer"
    assert specs[c_tbl]["source_columns"] == list(
        spark.read.parquet(
            os.path.join(sf_copy, "customer.parquet")
        ).columns
    )


def test_semantic_layer_query_inherits_layout_routing(spark, sf_copy):
    """sl-query time (the VERDICT r13 item-1 wording): a semantic model
    defined over a raw SOURCE relation resolves through compile_node, so
    its metric queries scan the fresh layout — same silent-fallback
    contract, answers identical either way."""
    import yaml

    from dbt_analytics_spark.plans.semantics import SemanticLayer

    doc = yaml.safe_load(
        """
semantic_models:
  - name: ords
    model: ref('orders')
    dimensions:
      - {name: o_orderstatus, type: categorical}
    measures:
      - {name: n_orders, agg: count}
metrics:
  - {name: order_count, type: simple, measure: n_orders}
metrics_aux: []
"""
    )

    def build_layer():
        p = Project(spark, name=f"semlc_{uuid.uuid4().hex[:6]}")
        p.source_table(
            "orders",
            spark.read.parquet(os.path.join(sf_copy, "orders.parquet")),
        )
        layer = SemanticLayer(p)
        layer.load(doc)
        return layer

    raw_rows = sorted(
        map(
            tuple,
            build_layer()
            .query(["order_count"], group_by=["o_orderstatus"])
            .collect(),
        )
    )
    star_layout.ensure_star_layout(spark, sf_copy)
    layer = build_layer()
    df = layer.query(["order_count"], group_by=["o_orderstatus"])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "star_orders" in plan
    assert sorted(map(tuple, df.collect())) == raw_rows
