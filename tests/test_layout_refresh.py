"""Incremental layout refresh (plans/star_layout.refresh over the star
family and the Z-order table — VERDICT r13 item 5): an append-only source
change folds only the delta files into the existing layout; anything
else rebuilds. Contract under test: refreshed layout row-identical to a
from-scratch build, delta path actually taken (status string), bucket
joins stay exchange-free after the append, routing resumes on the
refreshed layout, pending markers refuse routing, non-append changes
rebuild."""

from __future__ import annotations

import json
import os
import shutil
import uuid

import pytest
from pyspark.sql import functions as F

from dbt_analytics_spark.plans import layout_catalog, star_layout
from dbt_analytics_spark.plans.fingerprint import read_sidecar, write_sidecar
from tests.test_layout_routing import _star_route

SF = "/root/testdata/sf0.001"
TABLES = ("orders", "customer", "nation", "region")


@pytest.fixture(autouse=True)
def _route_at_toy_scale(monkeypatch):
    monkeypatch.setattr(star_layout, "ROUTE_MIN_FACT_BYTES", 0)


@pytest.fixture()
def sf_dirs(spark, tmp_path):
    """Directory-backed sources (append = add a part file): orders and
    customer become DIRECTORIES of parquet files, as they are at any
    real scale. Returns (mutable sf_dir, holdout frames to append)."""
    d = str(tmp_path / f"sfr_{uuid.uuid4().hex[:8]}")
    os.makedirs(d)
    for t in ("nation", "region"):
        shutil.copy(os.path.join(SF, f"{t}.parquet"), d)
    holdout = {}
    for t in ("orders", "customer"):
        df = spark.read.parquet(os.path.join(SF, f"{t}.parquet"))
        key = "o_orderkey" if t == "orders" else "c_custkey"
        main = df.filter(F.col(key) % 10 != 0)
        hold = df.filter(F.col(key) % 10 == 0)
        main.repartition(2).write.parquet(os.path.join(d, f"{t}.parquet"))
        holdout[t] = hold
    return d, holdout


def _append(spark, sf_dir, name, df):
    """Append df as new part files WITHOUT touching existing ones."""
    tmp = sf_dir + f"_app_{name}"
    df.coalesce(1).write.parquet(tmp)
    tgt = os.path.join(sf_dir, f"{name}.parquet")
    for f in os.listdir(tmp):
        if not f.startswith((".", "_")):
            shutil.move(
                os.path.join(tmp, f),
                os.path.join(tgt, f"appended_{uuid.uuid4().hex[:6]}_{f}"),
            )
    shutil.rmtree(tmp)


def _table_rows(spark, tbl):
    return sorted(tuple(r) for r in spark.table(tbl).collect())


def test_refresh_fresh_noop(spark, sf_dirs):
    d, _ = sf_dirs
    o_tbl, c_tbl = star_layout.ensure_star_layout(spark, d)
    statuses = star_layout.refresh_kind(spark, "star", d)
    # five family members: both bucketed tables + nation, custdist and
    # monthly rollups. This fixture's customer split leaves orders
    # custkeys dangling, so the custdist member is parity-REFUSED
    # (ADVICE r15) while the rest stay fresh.
    assert {o_tbl, c_tbl} <= set(statuses) and len(statuses) == 5
    refused = [s for s in statuses.values() if s.startswith("refused")]
    assert len(refused) == 1 and "parity proof failed" in refused[0]
    assert all(
        s == "fresh" for s in statuses.values()
        if not s.startswith("refused")
    )


def test_refresh_appends_delta_row_identical_to_rebuild(spark, sf_dirs):
    d, holdout = sf_dirs
    o_tbl, c_tbl = star_layout.ensure_star_layout(spark, d)
    files_before = {
        t: len(os.listdir(star_layout._warehouse_path(spark, t)))
        for t in (o_tbl, c_tbl)
    }
    _append(spark, d, "orders", holdout["orders"])
    _append(spark, d, "customer", holdout["customer"])
    # stale now: routing refuses until refreshed
    assert _star_route(spark, d) is None
    statuses = star_layout.refresh_kind(spark, "star", d)
    assert statuses[o_tbl].startswith("refreshed"), statuses
    assert statuses[c_tbl].startswith("refreshed"), statuses
    # the refresh APPENDED files (never rewrote the table)
    for t in (o_tbl, c_tbl):
        assert (
            len(os.listdir(star_layout._warehouse_path(spark, t)))
            > files_before[t]
        )
    refreshed = {t: _table_rows(spark, t) for t in (o_tbl, c_tbl)}
    # routing resumes on the refreshed layout
    assert _star_route(spark, d) == (o_tbl, c_tbl)

    # row-identical to a from-scratch build of the same sources
    for t in (o_tbl, c_tbl):
        spark.sql(f"DROP TABLE {t}")
    from dbt_analytics_spark.sources import readers

    readers._CACHE.clear()
    star_layout.ensure_star_layout(spark, d)
    scratch = {t: _table_rows(spark, t) for t in (o_tbl, c_tbl)}
    assert refreshed == scratch


def test_refreshed_layout_bucket_join_stays_exchange_free(spark, sf_dirs):
    d, holdout = sf_dirs
    o_tbl, c_tbl = star_layout.ensure_star_layout(spark, d)
    _append(spark, d, "orders", holdout["orders"])
    star_layout.refresh_kind(spark, "star", d)
    o = spark.table(o_tbl).select("o_custkey", "o_cents")
    c = spark.table(c_tbl).select("c_custkey").hint("shuffle_hash")
    j = o.join(c, F.col("o_custkey") == F.col("c_custkey"))
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") - plan.count("BroadcastExchange") == 0, (
        plan
    )


def test_refresh_rebuilds_on_rewrite(spark, sf_dirs):
    d, holdout = sf_dirs
    o_tbl, c_tbl = star_layout.ensure_star_layout(spark, d)
    # REWRITE orders (not append): delete a part file then append
    tgt = os.path.join(d, "orders.parquet")
    part = next(
        f for f in sorted(os.listdir(tgt)) if f.endswith(".parquet")
    )
    os.remove(os.path.join(tgt, part))
    statuses = star_layout.refresh_kind(spark, "star", d)
    assert statuses[o_tbl] == "rebuilt"
    assert statuses[c_tbl] == "fresh"  # customer untouched
    assert _star_route(spark, d) == (o_tbl, c_tbl)


def test_refresh_rebuilds_custmap_when_dim_changes(spark, sf_dirs):
    d, holdout = sf_dirs
    o_tbl, c_tbl = star_layout.ensure_star_layout(spark, d)
    # grow the customer source AND touch nation: custmap cannot fold the
    # delta (derived rows shift everywhere) — must rebuild
    _append(spark, d, "customer", holdout["customer"])
    nat = os.path.join(d, "nation.parquet")
    os.utime(nat, None)
    statuses = star_layout.refresh_kind(spark, "star", d)
    assert statuses[c_tbl] == "rebuilt"


def test_refresh_rebuild_refuses_dangling_fk_custmap(spark, sf_dirs):
    """ADVICE r14: the refresh-triggered REBUILD path must run the same
    custmap row-parity proof as a first build. A customer source
    rewritten to contain a dangling c_nationkey loses that row through
    custmap's inner snowflake hops; without the proof the rebuild would
    ship a row-lossy table with a fully routable sidecar."""
    d, _ = sf_dirs
    o_tbl, c_tbl = star_layout.ensure_star_layout(spark, d)
    cust_dir = os.path.join(d, "customer.parquet")
    cust = spark.read.parquet(cust_dir)
    schema, rows = cust.schema, [r.asDict() for r in cust.collect()]
    bad = dict(rows[0])
    bad["c_custkey"] = 99_999_999
    bad["c_nationkey"] = 9_999  # dangling: no such nation
    rows.append(bad)
    # REWRITE (not append): forces the rebuild path, not a delta fold
    tmp = cust_dir + "_rw"
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(tmp)
    shutil.rmtree(cust_dir)
    os.rename(tmp, cust_dir)
    with pytest.raises(ValueError, match="row-parity"):
        star_layout.refresh_kind(spark, "star", d)
    # the lossy table was refused and dropped: routing cannot serve it
    assert not spark.catalog.tableExists(c_tbl)
    from dbt_analytics_spark.sources import readers

    readers._CACHE.clear()
    customer = spark.read.parquet(cust_dir)
    assert layout_catalog.route_source(spark, customer) is None


def test_pending_marker_refuses_routing_and_rebuilds(spark, sf_dirs):
    d, _ = sf_dirs
    o_tbl, c_tbl = star_layout.ensure_star_layout(spark, d)
    path = star_layout._warehouse_path(spark, o_tbl)
    spec = read_sidecar(path, star_layout.LAYOUT_SIDECAR)
    write_sidecar(
        path, {**spec, "pending": True}, star_layout.LAYOUT_SIDECAR
    )
    # routing refuses a mid-refresh table on both routers
    assert _star_route(spark, d) is None
    orders = spark.read.parquet(os.path.join(d, "orders.parquet"))
    assert layout_catalog.route_source(spark, orders) is None
    # refresh recovers by rebuilding (append basis can't be trusted)
    statuses = star_layout.refresh_kind(spark, "star", d)
    assert statuses[o_tbl] == "rebuilt"
    assert _star_route(spark, d) == (o_tbl, c_tbl)


def test_zorder_refresh_appends_and_stays_prunable(spark, sf_dirs):
    d, holdout = sf_dirs
    tbl = star_layout.ensure(spark, star_layout.ZORDER, d)
    assert star_layout.refresh(spark, star_layout.ZORDER, d) == "fresh"
    _append(spark, d, "orders", holdout["orders"])
    status = star_layout.refresh(spark, star_layout.ZORDER, d)
    assert status.startswith("refreshed"), status
    # content identical to source (multiset)
    from dbt_analytics_spark.sources import readers

    readers._CACHE.clear()
    src = spark.read.parquet(os.path.join(d, "orders.parquet"))
    got = spark.table(tbl)
    assert got.count() == src.count()
    assert got.exceptAll(src.selectExpr(*got.columns)).count() == 0
    # a rewrite rebuilds
    tgt = os.path.join(d, "orders.parquet")
    part = next(
        f for f in sorted(os.listdir(tgt)) if f.endswith(".parquet")
    )
    os.utime(os.path.join(tgt, part), None)
    assert star_layout.refresh(spark, star_layout.ZORDER, d) == "rebuilt"


def test_custdist_refuses_dangling_orders_custkey(spark, sf_dirs):
    """ADVICE r15: the custdist base counts ALL orders per o_custkey,
    but raw q13 and the oracle attach counts via a customer LEFT JOIN —
    an appended orders row referencing a custkey absent from customer
    (allowed by the append guard, which only proves customer UNCHANGED)
    would make the routed histogram count phantom custkeys and corrupt
    the zero bucket. The build/refresh parity proof must refuse the
    pair instead."""
    d, _ = sf_dirs
    # this fixture's customer split leaves orders custkeys dangling, so
    # the from-scratch build path refuses right at provisioning
    star_layout.ensure_star_layout(spark, d)
    status = star_layout.ensure(spark, star_layout.CUSTDIST_ROLLUP, d)
    assert status.startswith("refused") and "parity proof failed" in status
    # the corrupt pair was dropped: routing cannot serve it (q13 falls
    # back to the raw LEFT-JOIN plan, which handles dangling keys)
    assert star_layout.route(spark, star_layout.CUSTDIST_ROLLUP, d) is None
    spec = star_layout._spec(spark, star_layout.CUSTDIST_ROLLUP, d)
    base_tbl, hist_tbl = spec["base_table"], spec["table"]
    assert not spark.catalog.tableExists(base_tbl)
    assert not spark.catalog.tableExists(hist_tbl)
    # the refresh path reports the same refusal, non-fatally
    status = star_layout.refresh(spark, star_layout.CUSTDIST_ROLLUP, d)
    assert status.startswith("refused"), status
    assert star_layout.route(spark, star_layout.CUSTDIST_ROLLUP, d) is None
