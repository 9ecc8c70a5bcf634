"""Layout awareness for ad-hoc star joins (plans/star_layout.py
route + the j1/w3/q13 routing in queries/core.py): route to
the engine-owned bucketed layout ONLY when it exists and verifiably
derives from the current source files; silent fallback otherwise; never
build from a read path. The staleness contract mirrors the semantic
layer's rollup fingerprints (plans/fingerprint.py)."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from dbt_analytics_spark.plans import star_layout
from dbt_analytics_spark.queries import REGISTRY

SF = "/root/testdata/sf0.001"
TABLES = ("orders", "customer", "nation", "region", "lineitem")


@pytest.fixture(autouse=True)
def _route_at_toy_scale(monkeypatch):
    """Routing is fact-size gated (ROUTE_MIN_FACT_BYTES: below ~32 MB
    the raw broadcast plan wins); these tests exercise the routing
    machinery itself at toy scale, so pin the gate open."""
    monkeypatch.setattr(star_layout, "ROUTE_MIN_FACT_BYTES", 0)


@pytest.fixture()
def sf_copy(tmp_path):
    """A private, MUTABLE copy of the star tables so staleness tests can
    rewrite sources without touching the shared testdata. The dir name
    is unique per test: layout table names derive from it, so tests
    never collide on each other's warehouse leftovers."""
    import uuid

    d = str(tmp_path / f"sfc_{uuid.uuid4().hex[:8]}")
    os.makedirs(d)
    for t in TABLES:
        shutil.copy(os.path.join(SF, f"{t}.parquet"), d)
    return d


def _fresh_session_view():
    """Simulate a NEW session's view of mutated source files: the
    per-session load_testdata cache holds the old file listing (testdata
    dirs are immutable in real use; these tests mutate private copies)."""
    from dbt_analytics_spark.sources import readers

    readers._CACHE.clear()


def _star_route(spark, sf_dir):
    """``(orders, custmap)`` when both bucketed star tables route."""
    names = tuple(star_layout.route(spark, d, sf_dir) for d in star_layout.STAR)
    return names if all(names) else None


def _j1_rows(spark, sf_dir):
    return sorted(
        map(tuple, REGISTRY["j1_join_agg"][0](spark, sf_dir).collect())
    )


def test_route_misses_without_layout(spark, sf_copy):
    assert _star_route(spark, sf_copy) is None
    # the ad-hoc query still answers (raw-parquet fallback)
    assert len(_j1_rows(spark, sf_copy)) == 25


def test_route_hits_after_ensure_and_matches_fallback(spark, sf_copy):
    rollup = star_layout.NATION_ROLLUP
    raw = _j1_rows(spark, sf_copy)
    assert star_layout.route(spark, rollup, sf_copy) is None
    star_layout.ensure_star_layout(spark, sf_copy)
    routed = _j1_rows(spark, sf_copy)
    assert star_layout.route(spark, rollup, sf_copy) == rollup.table(sf_copy)
    assert routed == raw


def test_route_never_builds(spark, sf_copy):
    wh = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")
    before = set(os.listdir(wh))
    assert _star_route(spark, sf_copy) is None
    assert set(os.listdir(wh)) == before  # no layout dirs appeared


def test_route_stale_after_source_rewrite_falls_back(spark, sf_copy):
    star_layout.ensure_star_layout(spark, sf_copy)
    assert _star_route(spark, sf_copy) is not None
    # the source fact is REWRITTEN after the layout was built: keep only
    # orders from one status so the answer visibly changes
    orders = spark.read.parquet(os.path.join(sf_copy, "orders.parquet"))
    kept = orders.filter(F.col("o_orderstatus") == "O").collect()
    schema = orders.schema
    tmp_new = sf_copy + "_neworders"
    spark.createDataFrame(kept, schema).coalesce(1).write.parquet(tmp_new)
    os.remove(os.path.join(sf_copy, "orders.parquet"))
    os.rename(tmp_new, os.path.join(sf_copy, "orders.parquet"))
    _fresh_session_view()
    # the router must refuse the stale layout...
    assert _star_route(spark, sf_copy) is None
    # ...and the ad-hoc query must answer from the NEW source
    rows = REGISTRY["j1_join_agg"][0](spark, sf_copy)
    total = sum(r["n_orders"] for r in rows.collect())
    assert total == len(kept)


def test_ensure_rebuilds_stale_layout(spark, sf_copy):
    """ensure_star_layout (the explicit build path) must DETECT the
    stale stamp and rebuild rather than reuse."""
    star_layout.ensure_star_layout(spark, sf_copy)
    orders = spark.read.parquet(os.path.join(sf_copy, "orders.parquet"))
    kept = orders.filter(F.col("o_orderstatus") == "O").collect()
    tmp_new = sf_copy + "_neworders"
    spark.createDataFrame(kept, orders.schema).coalesce(1).write.parquet(
        tmp_new
    )
    os.remove(os.path.join(sf_copy, "orders.parquet"))
    os.rename(tmp_new, os.path.join(sf_copy, "orders.parquet"))
    _fresh_session_view()
    spark.conf.set("spark.dbt_analytics.orphanHealMinAgeSeconds", "0")
    try:
        star_layout.ensure_star_layout(spark, sf_copy)
    finally:
        spark.conf.unset("spark.dbt_analytics.orphanHealMinAgeSeconds")
    rows = REGISTRY["j1b_join_agg_bucketed"][0](spark, sf_copy)
    assert sum(r["n_orders"] for r in rows.collect()) == len(kept)


def test_route_refuses_partial_write(spark, sf_copy):
    """Persisted files without _SUCCESS (crashed write) must never be
    re-registered by the router; with the marker restored it routes."""
    o_tbl, c_tbl = star_layout.ensure_star_layout(spark, sf_copy)
    wh = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")
    dirs = {t: os.path.join(wh, t.lower()) for t in (o_tbl, c_tbl)}
    # simulate a dead session: catalog entries gone, files persisted
    for t, d in dirs.items():
        shutil.copytree(d, d + ".keep")
        spark.sql(f"DROP TABLE {t}")  # managed drop removes the files
        shutil.move(d + ".keep", d)
    # crash the orders write: no _SUCCESS
    os.remove(os.path.join(dirs[o_tbl], "_SUCCESS"))
    assert _star_route(spark, sf_copy) is None
    # restore the marker: the router re-registers and routes
    open(os.path.join(dirs[o_tbl], "_SUCCESS"), "w").close()
    assert _star_route(spark, sf_copy) is not None
    assert len(_j1_rows(spark, sf_copy)) == 25


def test_route_respects_fact_size_gate(spark, sf_copy, monkeypatch):
    """Below ROUTE_MIN_FACT_BYTES the raw broadcast plan wins — the
    router must decline even when a fresh layout exists."""
    star_layout.ensure_star_layout(spark, sf_copy)
    assert _star_route(spark, sf_copy) is not None
    monkeypatch.setattr(star_layout, "ROUTE_MIN_FACT_BYTES", 1 << 60)
    assert _star_route(spark, sf_copy) is None
    assert len(_j1_rows(spark, sf_copy)) == 25  # raw fallback


def test_spec_cache_invalidates_on_mid_session_schema_change(spark, sf_copy):
    """_SCHEMAS caches the derived schema DDL per (appId, table, source
    fingerprint); if source files are rewritten with a CHANGED schema
    mid-session, a rebuild must write a sidecar carrying the FRESH
    schema, not the stale cached string (otherwise spec-equality gating
    forces one wasted rebuild in the next session)."""
    spec_before = star_layout._spec(spark, star_layout.STAR_ORDERS, sf_copy)
    # rewrite orders with an extra column mid-session
    orders = spark.read.parquet(os.path.join(sf_copy, "orders.parquet"))
    widened = orders.withColumn("o_extra", F.lit(1).cast("int"))
    tmp_new = sf_copy + "_neworders"
    widened.coalesce(1).write.parquet(tmp_new)
    os.remove(os.path.join(sf_copy, "orders.parquet"))
    os.rename(tmp_new, os.path.join(sf_copy, "orders.parquet"))
    _fresh_session_view()
    spec_after = star_layout._spec(spark, star_layout.STAR_ORDERS, sf_copy)
    assert "o_extra" not in spec_before["schema"]
    assert "o_extra" in spec_after["schema"]
    # and a rebuild writes the fresh schema into the sidecar
    spark.conf.set("spark.dbt_analytics.orphanHealMinAgeSeconds", "0")
    try:
        o_tbl, _ = star_layout.ensure_star_layout(spark, sf_copy)
    finally:
        spark.conf.unset("spark.dbt_analytics.orphanHealMinAgeSeconds")
    from dbt_analytics_spark.plans.fingerprint import read_sidecar

    side = read_sidecar(
        star_layout._warehouse_path(spark, o_tbl),
        star_layout.LAYOUT_SIDECAR,
    )
    assert side is not None and "o_extra" in side["schema"]
    # the freshly built layout routes without a redundant rebuild
    assert _star_route(spark, sf_copy) is not None


def _w3_rows(spark, sf_dir):
    return sorted(
        map(tuple, REGISTRY["w3_pct_of_total"][0](spark, sf_dir).collect())
    )


def test_nation_rollup_routes_j1_w3_and_matches_raw(spark, sf_copy):
    """Round 15: the 25-row nation-grain rollup (the star-join twin of
    q1's grain rollup) routes j1 AND w3, row-identical to the raw
    fallback, and the plan reads the rollup table (no fact scan)."""
    raw_j1, raw_w3 = _j1_rows(spark, sf_copy), _w3_rows(spark, sf_copy)
    assert star_layout.route(spark, star_layout.NATION_ROLLUP, sf_copy) is None
    star_layout.ensure_star_layout(spark, sf_copy)
    tbl = star_layout.route(spark, star_layout.NATION_ROLLUP, sf_copy)
    assert tbl == star_layout.NATION_ROLLUP.table(sf_copy)
    assert spark.table(tbl).count() == 25
    routed_j1 = REGISTRY["j1_join_agg"][0](spark, sf_copy)
    plan = routed_j1._jdf.queryExecution().optimizedPlan().toString()
    assert tbl in plan and "orders.parquet" not in plan
    assert sorted(map(tuple, routed_j1.collect())) == raw_j1
    assert _w3_rows(spark, sf_copy) == raw_w3


def test_nation_rollup_stale_on_customer_change(spark, sf_copy):
    """A customer-source change (non-covered, moves rows between
    nations) must refuse the rollup AND refuse a delta fold (rebuild
    only)."""
    star_layout.ensure_star_layout(spark, sf_copy)
    assert star_layout.route(spark, star_layout.NATION_ROLLUP, sf_copy) is not None
    os.utime(os.path.join(sf_copy, "customer.parquet"), None)
    assert star_layout.route(spark, star_layout.NATION_ROLLUP, sf_copy) is None
    _fresh_session_view()
    assert star_layout.refresh(spark, star_layout.NATION_ROLLUP, sf_copy) == "rebuilt"
    assert star_layout.route(spark, star_layout.NATION_ROLLUP, sf_copy) is not None


def test_nation_rollup_refresh_folds_orders_delta(spark, tmp_path):
    """Orders-append-only growth folds ONLY the delta into the stored
    partials; the refreshed rollup is row-identical to a from-scratch
    build and j1 routes to it with the full answer."""
    import uuid

    d = str(tmp_path / f"sfr_{uuid.uuid4().hex[:8]}")
    os.makedirs(d)
    for t in ("customer", "nation", "region"):
        shutil.copy(os.path.join(SF, f"{t}.parquet"), d)
    orders = spark.read.parquet(os.path.join(SF, "orders.parquet"))
    main = orders.filter(F.col("o_orderkey") % 10 != 0)
    hold = orders.filter(F.col("o_orderkey") % 10 == 0)
    main.repartition(2).write.parquet(os.path.join(d, "orders.parquet"))
    star_layout.ensure(spark, star_layout.NATION_ROLLUP, d)
    # append new part files without touching existing ones
    tmp = d + "_app"
    hold.coalesce(1).write.parquet(tmp)
    tgt = os.path.join(d, "orders.parquet")
    for f in os.listdir(tmp):
        if not f.startswith((".", "_")):
            shutil.move(
                os.path.join(tmp, f), os.path.join(tgt, f"appended_{f}")
            )
    shutil.rmtree(tmp)
    _fresh_session_view()
    assert star_layout.route(spark, star_layout.NATION_ROLLUP, d) is None  # stale
    status = star_layout.refresh(spark, star_layout.NATION_ROLLUP, d)
    assert status.startswith("refreshed"), status
    tbl = star_layout.route(spark, star_layout.NATION_ROLLUP, d)
    assert tbl is not None
    total = spark.table(tbl).agg(F.sum("n_orders")).collect()[0][0]
    assert total == orders.count()
    # row-identical to a from-scratch build over the same sources
    refreshed = sorted(map(tuple, spark.table(tbl).collect()))
    spark.sql(f"DROP TABLE {tbl}")
    _fresh_session_view()
    star_layout.ensure(spark, star_layout.NATION_ROLLUP, d)
    scratch = sorted(map(tuple, spark.table(tbl).collect()))
    assert refreshed == scratch


def _q13_rows(spark, sf_dir):
    return list(
        map(tuple, REGISTRY["q13_custdist"][0](spark, sf_dir).collect())
    )


def test_custdist_rollup_routes_q13_and_matches_raw(spark, sf_copy):
    """Round 15: q13's two-level rollup (foldable per-customer base +
    derived histogram incl. the zero bucket) answers q13 row-identically
    to the raw fallback — ORDER included (it's an ordered query)."""
    raw = _q13_rows(spark, sf_copy)
    assert star_layout.route(spark, star_layout.CUSTDIST_ROLLUP, sf_copy) is None
    star_layout.ensure_star_layout(spark, sf_copy)
    tbl = star_layout.route(spark, star_layout.CUSTDIST_ROLLUP, sf_copy)
    assert tbl is not None
    assert _q13_rows(spark, sf_copy) == raw
    # zero-bucket invariant: histogram total == customer count (the 0
    # row exists exactly when some customer has no orders — at sf0.001
    # all customers order, and the oracle-shaped histogram omits it)
    n_cust = spark.read.parquet(
        os.path.join(sf_copy, "customer.parquet")
    ).count()
    assert sum(r[1] for r in raw) == n_cust


def test_custdist_rollup_refresh_folds_orders_delta(spark, tmp_path):
    import uuid

    d = str(tmp_path / f"sfq_{uuid.uuid4().hex[:8]}")
    os.makedirs(d)
    for t in ("customer", "nation", "region"):
        shutil.copy(os.path.join(SF, f"{t}.parquet"), d)
    orders = spark.read.parquet(os.path.join(SF, "orders.parquet"))
    main = orders.filter(F.col("o_orderkey") % 10 != 0)
    hold = orders.filter(F.col("o_orderkey") % 10 == 0)
    main.repartition(2).write.parquet(os.path.join(d, "orders.parquet"))
    star_layout.ensure(spark, star_layout.CUSTDIST_ROLLUP, d)
    tmp = d + "_app"
    hold.coalesce(1).write.parquet(tmp)
    tgt = os.path.join(d, "orders.parquet")
    for f in os.listdir(tmp):
        if not f.startswith((".", "_")):
            shutil.move(
                os.path.join(tmp, f), os.path.join(tgt, f"appended_{f}")
            )
    shutil.rmtree(tmp)
    _fresh_session_view()
    assert star_layout.route(spark, star_layout.CUSTDIST_ROLLUP, d) is None  # stale
    status = star_layout.refresh(spark, star_layout.CUSTDIST_ROLLUP, d)
    assert status.startswith("refreshed"), status
    tbl = star_layout.route(spark, star_layout.CUSTDIST_ROLLUP, d)
    assert tbl is not None
    # invariant: histogram total == customer count, and the refreshed
    # histogram equals a from-scratch build over the same sources
    n_cust = spark.read.parquet(os.path.join(d, "customer.parquet")).count()
    assert (
        spark.table(tbl).agg(F.sum("custdist")).collect()[0][0] == n_cust
    )
    refreshed = sorted(map(tuple, spark.table(tbl).collect()))
    spark.sql(f"DROP TABLE {tbl}")
    base_tbl = star_layout._spec(spark, star_layout.CUSTDIST_ROLLUP, d)[
        "base_table"
    ]
    spark.sql(f"DROP TABLE {base_tbl}")
    _fresh_session_view()
    star_layout.ensure(spark, star_layout.CUSTDIST_ROLLUP, d)
    scratch = sorted(map(tuple, spark.table(tbl).collect()))
    assert refreshed == scratch


def _g1_rows(spark, sf_dir):
    return sorted(
        map(tuple, REGISTRY["g1_date_spine"][0](spark, sf_dir).collect())
    )


def test_monthly_rollup_routes_g1_and_matches_raw(spark, sf_copy):
    """Round 16: the ~80-row monthly-grain orders rollup (the
    single-source twin of q1's grain rollup) routes g1, row-identical to
    the raw fallback, and the routed plan reads the rollup table only
    (no orders scan)."""
    raw = _g1_rows(spark, sf_copy)
    assert star_layout.route(spark, star_layout.MONTHLY_ROLLUP, sf_copy) is None
    star_layout.ensure_star_layout(spark, sf_copy)
    tbl = star_layout.route(spark, star_layout.MONTHLY_ROLLUP, sf_copy)
    assert tbl == star_layout.MONTHLY_ROLLUP.table(sf_copy)
    routed = REGISTRY["g1_date_spine"][0](spark, sf_copy)
    plan = routed._jdf.queryExecution().optimizedPlan().toString()
    assert tbl in plan and "orders.parquet" not in plan
    assert sorted(map(tuple, routed.collect())) == raw
    # invariant: rollup counts cover every order (incl. any NULL-date
    # group, which the query itself drops exactly like the raw plan)
    n_orders = spark.read.parquet(
        os.path.join(sf_copy, "orders.parquet")
    ).count()
    assert (
        spark.table(tbl).agg(F.sum("cnt")).collect()[0][0] == n_orders
    )


def test_monthly_rollup_schema_literal_matches_frame(spark):
    """_MONTHLY_SCHEMA is a literal (no per-call plan analysis — the
    r15 j1b regression's lesson); pin it to the frame's true schema."""
    o = spark.read.parquet(os.path.join(SF, "orders.parquet")).limit(0)
    assert (
        star_layout._schema_ddl(star_layout._monthly_rollup_frame(o))
        == star_layout._MONTHLY_SCHEMA
    )


def test_monthly_rollup_stale_on_orders_change(spark, sf_copy):
    star_layout.ensure_star_layout(spark, sf_copy)
    assert star_layout.route(spark, star_layout.MONTHLY_ROLLUP, sf_copy) is not None
    os.utime(os.path.join(sf_copy, "orders.parquet"), None)
    assert star_layout.route(spark, star_layout.MONTHLY_ROLLUP, sf_copy) is None
    # the raw fallback still answers (silent-fallback contract)
    assert _g1_rows(spark, sf_copy)


def test_monthly_rollup_refresh_folds_orders_delta(spark, tmp_path):
    """Orders-append-only growth folds ONLY the delta into the stored
    partials; the refreshed rollup is row-identical to a from-scratch
    build and g1 routes to it with the full answer."""
    import uuid

    d = str(tmp_path / f"sfm_{uuid.uuid4().hex[:8]}")
    os.makedirs(d)
    for t in ("customer", "nation", "region"):
        shutil.copy(os.path.join(SF, f"{t}.parquet"), d)
    orders = spark.read.parquet(os.path.join(SF, "orders.parquet"))
    main = orders.filter(F.col("o_orderkey") % 10 != 0)
    hold = orders.filter(F.col("o_orderkey") % 10 == 0)
    main.repartition(2).write.parquet(os.path.join(d, "orders.parquet"))
    star_layout.ensure(spark, star_layout.MONTHLY_ROLLUP, d)
    tmp = d + "_app"
    hold.coalesce(1).write.parquet(tmp)
    tgt = os.path.join(d, "orders.parquet")
    for f in os.listdir(tmp):
        if not f.startswith((".", "_")):
            shutil.move(
                os.path.join(tmp, f), os.path.join(tgt, f"appended_{f}")
            )
    shutil.rmtree(tmp)
    _fresh_session_view()
    assert star_layout.route(spark, star_layout.MONTHLY_ROLLUP, d) is None  # stale
    status = star_layout.refresh(spark, star_layout.MONTHLY_ROLLUP, d)
    assert status.startswith("refreshed"), status
    tbl = star_layout.route(spark, star_layout.MONTHLY_ROLLUP, d)
    assert tbl is not None
    total = spark.table(tbl).agg(F.sum("cnt")).collect()[0][0]
    assert total == orders.count()
    refreshed = sorted(map(tuple, spark.table(tbl).collect()))
    spark.sql(f"DROP TABLE {tbl}")
    _fresh_session_view()
    star_layout.ensure(spark, star_layout.MONTHLY_ROLLUP, d)
    scratch = sorted(map(tuple, spark.table(tbl).collect()))
    assert refreshed == scratch


def test_q1_routes_to_lineitem_layout_and_matches_fallback(spark, sf_copy):
    """q1's routing twin of test_route_hits_after_ensure: raw answer
    first, then the layout exists and q1 inherits the stored-cents plan
    — row-identical (same oracle as q1b in the registry)."""
    raw = sorted(
        map(tuple, REGISTRY["q1_pricing_summary"][0](spark, sf_copy).collect())
    )
    assert star_layout.route(spark, star_layout.LINEITEM, sf_copy) is None
    star_layout.ensure_lineitem_layout(spark, sf_copy)
    assert star_layout.route(spark, star_layout.LINEITEM, sf_copy) is not None
    routed_df = REGISTRY["q1_pricing_summary"][0](spark, sf_copy)
    plan = routed_df._jdf.queryExecution().executedPlan().toString()
    assert "li_cents" in plan  # the layout scan, not raw parquet
    assert sorted(map(tuple, routed_df.collect())) == raw


def test_q1_lineitem_route_stale_after_rewrite_falls_back(spark, sf_copy):
    star_layout.ensure_lineitem_layout(spark, sf_copy)
    assert star_layout.route(spark, star_layout.LINEITEM, sf_copy) is not None
    li = spark.read.parquet(os.path.join(sf_copy, "lineitem.parquet"))
    kept = li.filter(F.col("l_linestatus") == "F").collect()
    tmp_new = sf_copy + "_newli"
    spark.createDataFrame(kept, li.schema).coalesce(1).write.parquet(tmp_new)
    os.remove(os.path.join(sf_copy, "lineitem.parquet"))
    os.rename(tmp_new, os.path.join(sf_copy, "lineitem.parquet"))
    _fresh_session_view()
    assert star_layout.route(spark, star_layout.LINEITEM, sf_copy) is None
    # q1 answers from the NEW source (raw fallback)
    rows = REGISTRY["q1_pricing_summary"][0](spark, sf_copy).collect()
    assert sum(r["count_order"] for r in rows) == len(kept)


def test_lineitem_layout_refresh_appends_delta(spark, tmp_path):
    """Append-only growth of a directory-backed lineitem folds only the
    delta through the derivation; refreshed table row-identical to a
    scratch rebuild."""
    import uuid as _uuid

    d = str(tmp_path / f"sfl_{_uuid.uuid4().hex[:8]}")
    os.makedirs(d)
    li = spark.read.parquet(os.path.join(SF, "lineitem.parquet"))
    main = li.filter(F.col("l_orderkey") % 7 != 0)
    hold = li.filter(F.col("l_orderkey") % 7 == 0)
    main.repartition(2).write.parquet(os.path.join(d, "lineitem.parquet"))
    tbl = star_layout.ensure_lineitem_layout(spark, d)
    assert star_layout.refresh(spark, star_layout.LINEITEM, d) == "fresh"
    # append new part files without touching existing ones
    tmp = d + "_app"
    hold.coalesce(1).write.parquet(tmp)
    for f in os.listdir(tmp):
        if not f.startswith((".", "_")):
            shutil.move(
                os.path.join(tmp, f),
                os.path.join(d, "lineitem.parquet", f"app_{f}"),
            )
    shutil.rmtree(tmp)
    status = star_layout.refresh(spark, star_layout.LINEITEM, d)
    assert status.startswith("refreshed"), status
    refreshed = sorted(map(tuple, spark.table(tbl).collect()))
    spark.sql(f"DROP TABLE {tbl}")
    _fresh_session_view()
    star_layout.ensure_lineitem_layout(spark, d)
    scratch = sorted(map(tuple, spark.table(tbl).collect()))
    assert refreshed == scratch


def test_q1_prefers_grain_rollup_and_matches(spark, sf_copy):
    """Routing order: the 6-row grain rollup beats the per-row layout;
    both bit-identical to the raw arithmetic (q1's own oracle)."""
    raw = sorted(
        map(tuple, REGISTRY["q1_pricing_summary"][0](spark, sf_copy).collect())
    )
    star_layout.ensure_lineitem_layout(spark, sf_copy)
    star_layout.ensure_q1_rollup(spark, sf_copy)
    df = REGISTRY["q1_pricing_summary"][0](spark, sf_copy)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "q1_rollup" in plan
    assert sorted(map(tuple, df.collect())) == raw


def test_q1_rollup_stale_falls_back_to_layout_then_raw(spark, sf_copy):
    star_layout.ensure_lineitem_layout(spark, sf_copy)
    star_layout.ensure_q1_rollup(spark, sf_copy)
    assert star_layout.route(spark, star_layout.Q1_ROLLUP, sf_copy) is not None
    li = spark.read.parquet(os.path.join(sf_copy, "lineitem.parquet"))
    kept = li.filter(F.col("l_linestatus") == "F").collect()
    tmp_new = sf_copy + "_newli2"
    spark.createDataFrame(kept, li.schema).coalesce(1).write.parquet(tmp_new)
    os.remove(os.path.join(sf_copy, "lineitem.parquet"))
    os.rename(tmp_new, os.path.join(sf_copy, "lineitem.parquet"))
    _fresh_session_view()
    # both routes refuse the stale artifacts; q1 answers from the source
    assert star_layout.route(spark, star_layout.Q1_ROLLUP, sf_copy) is None
    assert star_layout.route(spark, star_layout.LINEITEM, sf_copy) is None
    rows = REGISTRY["q1_pricing_summary"][0](spark, sf_copy).collect()
    assert sum(r["count_order"] for r in rows) == len(kept)


def test_q1_rollup_refresh_folds_delta_bit_identical(spark, tmp_path):
    """Append-only growth merges delta PARTIALS with the stored 6 rows;
    the refreshed rollup answers bit-identically to raw q1 over the
    grown source."""
    import uuid as _uuid

    d = str(tmp_path / f"sfq_{_uuid.uuid4().hex[:8]}")
    os.makedirs(d)
    li = spark.read.parquet(os.path.join(SF, "lineitem.parquet"))
    main = li.filter(F.col("l_orderkey") % 7 != 0)
    hold = li.filter(F.col("l_orderkey") % 7 == 0)
    main.repartition(2).write.parquet(os.path.join(d, "lineitem.parquet"))
    tbl = star_layout.ensure_q1_rollup(spark, d)
    assert star_layout.refresh(spark, star_layout.Q1_ROLLUP, d) == "fresh"
    tmp = d + "_app"
    hold.coalesce(1).write.parquet(tmp)
    for f in os.listdir(tmp):
        if not f.startswith((".", "_")):
            shutil.move(
                os.path.join(tmp, f),
                os.path.join(d, "lineitem.parquet", f"app_{f}"),
            )
    shutil.rmtree(tmp)
    status = star_layout.refresh(spark, star_layout.Q1_ROLLUP, d)
    assert status.startswith("refreshed"), status
    # routed answer == raw arithmetic over the grown source
    _fresh_session_view()
    from dbt_analytics_spark.queries.core import _q1_from_rollup

    routed = sorted(map(tuple, _q1_from_rollup(spark.table(tbl)).collect()))
    # the raw leg must NOT route (the open toy-scale gate would send it
    # to the very rollup under test): pin the gate shut for it
    old_gate = star_layout.ROUTE_MIN_FACT_BYTES
    star_layout.ROUTE_MIN_FACT_BYTES = 1 << 60
    try:
        raw = sorted(
            map(tuple, REGISTRY["q1_pricing_summary"][0](spark, d).collect())
        )
    finally:
        star_layout.ROUTE_MIN_FACT_BYTES = old_gate
    assert routed == raw


def test_custdist_refresh_refuses_dangling_delta(spark, tmp_path):
    """ADVICE r15's exact scenario: a clean build, then an APPENDED
    orders delta whose o_custkey is absent from customer. The append
    guard only proves customer UNCHANGED — without the parity proof the
    delta-fold would count a phantom custkey and corrupt the zero
    bucket, silently diverging from the raw LEFT-JOIN fallback. The
    fold must refuse the pair and routing must fall back."""
    import uuid

    d = str(tmp_path / f"sfd_{uuid.uuid4().hex[:8]}")
    os.makedirs(d)
    for t in ("customer", "nation", "region"):
        shutil.copy(os.path.join(SF, f"{t}.parquet"), d)
    orders = spark.read.parquet(os.path.join(SF, "orders.parquet"))
    orders.repartition(2).write.parquet(os.path.join(d, "orders.parquet"))
    star_layout.ensure(spark, star_layout.CUSTDIST_ROLLUP, d)
    assert star_layout.route(spark, star_layout.CUSTDIST_ROLLUP, d) is not None
    q13 = REGISTRY["q13_custdist"][0]
    routed = sorted(map(tuple, q13(spark, d).collect()))

    bad = orders.limit(1).withColumn(
        "o_custkey", F.lit(99_999_999).cast("bigint")
    )
    tmp = d + "_app"
    bad.coalesce(1).write.parquet(tmp)
    tgt = os.path.join(d, "orders.parquet")
    for f in os.listdir(tmp):
        if not f.startswith((".", "_")):
            shutil.move(
                os.path.join(tmp, f), os.path.join(tgt, f"appended_{f}")
            )
    shutil.rmtree(tmp)
    _fresh_session_view()

    status = star_layout.refresh(spark, star_layout.CUSTDIST_ROLLUP, d)
    assert status.startswith("refused") and "parity proof" in status
    assert star_layout.route(spark, star_layout.CUSTDIST_ROLLUP, d) is None
    # the raw fallback serves q13 and the dangling order is invisible
    # to it (LEFT JOIN from customer), matching the pre-append answer
    assert sorted(map(tuple, q13(spark, d).collect())) == routed


def test_g1_raw_path_is_single_scan_gap_fill(spark, monkeypatch):
    """g1's raw path has one shape at every fact size: the single-scan
    gap-fill (no spine join, ONE orders scan), also below
    ROUTE_MIN_FACT_BYTES where the rollup route is shut, and its rows
    equal the routed answer's (test_monthly_rollup_routes_g1_and_matches_raw
    pins those against each other)."""
    g1 = REGISTRY["g1_date_spine"][0]
    monkeypatch.setattr(star_layout, "ROUTE_MIN_FACT_BYTES", 1 << 60)
    plan = g1(spark, SF)._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan
    assert plan.count("Relation") == 1  # ONE orders scan
