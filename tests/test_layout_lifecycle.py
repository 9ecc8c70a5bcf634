"""The one derived-table lifecycle (plans/star_layout.py ensure / route /
refresh / register) over EVERY declaration: crash safety of the refresh
paths, re-registration after a dead session, loud sidecar failures, and
silent route fallback on unreadable sources."""

from __future__ import annotations

import os
import shutil
import uuid

import pytest
from pyspark.sql import functions as F

from dbt_analytics_spark.plans import fingerprint, layout_catalog, star_layout
from dbt_analytics_spark.plans.fingerprint import read_sidecar, write_sidecar
from dbt_analytics_spark.sources import readers

SF = "/root/testdata/sf0.001"

#: the split key of each covered source (held-out rows are appended later)
_SPLIT_KEY = {
    "orders": "o_orderkey",
    "customer": "c_custkey",
    "lineitem": "l_orderkey",
}

_DECLS = pytest.mark.parametrize(
    "decl",
    star_layout.DECLARATIONS,
    ids=[d.name.split("_{")[0] for d in star_layout.DECLARATIONS],
)


@pytest.fixture(autouse=True)
def _route_at_toy_scale(monkeypatch):
    monkeypatch.setattr(star_layout, "ROUTE_MIN_FACT_BYTES", 0)


def _data_dir(spark, tmp_path, decl):
    """A private data directory for ``decl``: its covered source as a
    directory of part files minus a held-out tenth (returned, to append
    later), every other source — and the route-gate source — a full
    copy."""
    d = str(tmp_path / f"sfl_{uuid.uuid4().hex[:8]}")
    os.makedirs(d)
    covered = decl.sources[0]
    for t in set(decl.sources) | {decl.gate or covered}:
        if t != covered:
            shutil.copy(os.path.join(SF, f"{t}.parquet"), d)
    df = spark.read.parquet(os.path.join(SF, f"{covered}.parquet"))
    key = F.col(_SPLIT_KEY[covered]) % 10
    df.filter(key != 0).repartition(2).write.parquet(
        os.path.join(d, f"{covered}.parquet")
    )
    return d, df.filter(key == 0)


def _append(sf_dir, name, df):
    """Append ``df`` to source ``name`` as ONE new part file."""
    tmp = f"{sf_dir}_app_{name}"
    df.coalesce(1).write.parquet(tmp)
    for f in os.listdir(tmp):
        if not f.startswith((".", "_")):
            shutil.move(
                os.path.join(tmp, f),
                os.path.join(sf_dir, f"{name}.parquet", f"appended_{f}"),
            )
    shutil.rmtree(tmp)


def _kill_session(spark, tables):
    """Simulate a dead session: catalog entries gone, files kept."""
    for t in tables:
        path = star_layout._warehouse_path(spark, t)
        shutil.copytree(path, path + ".keep")
        spark.sql(f"DROP TABLE {t}")  # a managed drop removes the files
        shutil.move(path + ".keep", path)


def _rows(spark, spec):
    return [
        sorted(map(tuple, spark.table(t).collect()))
        for t, _ in star_layout._tables(spec)
    ]


def _fresh_build_rows(spark, decl, sf_dir):
    """Rows of every table of ``decl`` built from scratch."""
    spec = star_layout._spec(spark, decl, sf_dir)
    star_layout._drop(spark, spec, purge=True)
    readers._CACHE.clear()
    star_layout.ensure(spark, decl, sf_dir)
    return _rows(spark, spec)


@_DECLS
def test_pending_sidecar_refuses_route_and_rebuilds(spark, tmp_path, decl):
    d, _ = _data_dir(spark, tmp_path, decl)
    table = star_layout.ensure(spark, decl, d)
    routed = table if decl.gate else None  # ungated tables never route
    assert star_layout.route(spark, decl, d) == routed
    path = star_layout._warehouse_path(spark, table)
    spec = read_sidecar(path, star_layout.LAYOUT_SIDECAR)
    write_sidecar(path, {**spec, "pending": True}, star_layout.LAYOUT_SIDECAR)
    assert star_layout.route(spark, decl, d) is None
    assert star_layout.refresh(spark, decl, d) == "rebuilt"
    assert star_layout.route(spark, decl, d) == routed


@_DECLS
def test_failed_delta_write_refuses_route_and_rebuilds(
    spark, tmp_path, decl, monkeypatch
):
    """A failure inside the delta append / fold write leaves no routable
    table behind (pending marker or no sidecar at all), and the next
    refresh rebuilds rows equal to a from-scratch build."""
    d, hold = _data_dir(spark, tmp_path, decl)
    table = star_layout.ensure(spark, decl, d)
    path = star_layout._warehouse_path(spark, table)
    _append(d, decl.sources[0], hold)
    # the refresh below takes the delta path, not a rebuild
    spec = star_layout._spec(spark, decl, d)
    old = read_sidecar(path, star_layout.LAYOUT_SIDECAR)
    assert star_layout._append_only_delta(old, spec) is not None

    def crash(*args):
        raise RuntimeError("injected write failure")

    with monkeypatch.context() as m:
        m.setattr(star_layout, "_write", crash)
        with pytest.raises(RuntimeError, match="injected"):
            star_layout.refresh(spark, decl, d)
    left = read_sidecar(path, star_layout.LAYOUT_SIDECAR)
    assert left is None or left.get("pending")
    assert star_layout.route(spark, decl, d) is None
    assert star_layout.refresh(spark, decl, d) == "rebuilt"
    assert star_layout.route(spark, decl, d) == (table if decl.gate else None)
    assert _rows(spark, spec) == _fresh_build_rows(spark, decl, d)


def test_custdist_refresh_folds_after_dead_session(spark, tmp_path):
    """Both tables of the custdist pair lose their catalog entries with a
    dead session; an orders append must still FOLD (not rebuild, not trip
    the orphan heal on the kept files) and equal a from-scratch build."""
    decl = star_layout.CUSTDIST_ROLLUP
    d, hold = _data_dir(spark, tmp_path, decl)
    star_layout.ensure(spark, decl, d)
    spec = star_layout._spec(spark, decl, d)
    _kill_session(spark, [t for t, _ in star_layout._tables(spec)])
    _append(d, "orders", hold)
    assert star_layout.refresh(spark, decl, d) == "refreshed (+1 files)"
    spec = star_layout._spec(spark, decl, d)
    assert _rows(spark, spec) == _fresh_build_rows(spark, decl, d)


def test_route_source_reregisters_unbucketed_layout(spark, tmp_path):
    """The engine rule re-registers a dead session's UNBUCKETED lineitem
    layout (no bucket clause) and substitutes it for the raw scan."""
    d, _ = _data_dir(spark, tmp_path, star_layout.LINEITEM)
    table = star_layout.ensure_lineitem_layout(spark, d)
    _kill_session(spark, [table])
    raw = spark.read.parquet(os.path.join(d, "lineitem.parquet"))
    routed = layout_catalog.route_source(spark, raw)
    assert routed is not None and spark.catalog.tableExists(table)
    assert routed.schema == raw.schema
    assert sorted(map(tuple, routed.collect())) == sorted(
        map(tuple, raw.collect())
    )


def test_sidecar_write_failure_raises(spark, tmp_path, monkeypatch):
    """A build whose sidecar cannot be written must fail loudly: a
    swallowed failure turned every later ensure into a full rebuild."""
    d, _ = _data_dir(spark, tmp_path, star_layout.LINEITEM)

    def unwritable(*args, **kwargs):
        raise OSError("read-only warehouse")

    monkeypatch.setattr(fingerprint, "write_sidecar", unwritable)
    with pytest.raises(OSError, match="read-only"):
        star_layout.ensure_lineitem_layout(spark, d)


def test_route_with_unreadable_source_falls_back(spark, tmp_path, monkeypatch):
    """A source that can no longer be read refuses every route over it —
    silently, as a stale one does — without raising."""
    decl = star_layout.NATION_ROLLUP
    d, _ = _data_dir(spark, tmp_path, decl)
    star_layout.ensure(spark, decl, d)
    raw = spark.read.parquet(os.path.join(d, "orders.parquet"))
    assert star_layout.route(spark, decl, d) is not None
    orders_dir = os.path.join(d, "orders.parquet")
    listdir = os.listdir

    def unlistable(path="."):
        if os.path.abspath(path) == orders_dir:
            raise PermissionError(13, "Permission denied", path)
        return listdir(path)

    monkeypatch.setattr(os, "listdir", unlistable)
    assert star_layout.route(spark, decl, d) is None
    assert layout_catalog.route_source(spark, raw) is None
