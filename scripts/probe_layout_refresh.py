#!/usr/bin/env python
"""Incremental star/z-order layout refresh at scale (VERDICT r13 item
5): the layout cost 155.8 s to build at 240M rows and any source append
staled it — the star family's refresh must make an append-only delta cost
proportional to the DELTA, not the fact.

Protocol: split a large orders table into main (~97%) + delta (~3%)
part files in a mutable scratch source dir; build the star layout over
main (timed); append the delta files; time refresh_kind("star") (the
append-only fold); then drop the layout and time a full rebuild over
the grown source (the cost the refresh avoided). Same for the z-order
layout. Row-identity of refresh-vs-rebuild is pytest's job
(tests/test_layout_refresh.py); this probe prices the delta
proportionality. Shared load gate; single timings (build/refresh are
one-shot operations — no min-of-N; the compared quantities differ by
an order of magnitude, far past drift noise, and the gate stamps the
ambient load).

Usage: python scripts/probe_layout_refresh.py  (env SPARK_GRAFT_SF_DIR,
default .scratch/sf40; env SPARK_GRAFT_REFRESH_SCRATCH for the mutable
copy location)
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dbt_analytics_spark.bench_gate import emit_gated, wait_for_quiet  # noqa: E402
from dbt_analytics_spark.plans import star_layout  # noqa: E402
from dbt_analytics_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/repo/.scratch/sf40")
SCRATCH = os.environ.get(
    "SPARK_GRAFT_REFRESH_SCRATCH", "/root/repo/.scratch/refresh_probe"
)


def main() -> None:
    from pyspark.sql import functions as F

    load_gate = wait_for_quiet()
    spark = get_spark("layout_refresh_probe")

    if os.path.exists(SCRATCH):
        shutil.rmtree(SCRATCH)
    os.makedirs(SCRATCH)
    for t in ("customer", "nation", "region"):
        src = os.path.join(SF_DIR, f"{t}.parquet")
        dst = os.path.join(SCRATCH, f"{t}.parquet")
        if os.path.isdir(src):
            shutil.copytree(src, dst)
        else:
            shutil.copy(src, dst)

    orders = spark.read.parquet(os.path.join(SF_DIR, "orders.parquet"))
    n_rows = orders.count()
    main_df = orders.filter(F.col("o_orderkey") % 32 != 0)
    delta_df = orders.filter(F.col("o_orderkey") % 32 == 0)
    main_df.repartition(32).write.parquet(
        os.path.join(SCRATCH, "orders.parquet")
    )
    tmp = SCRATCH + "_delta"
    delta_df.repartition(4).write.parquet(tmp)
    delta_rows = delta_df.count()

    t0 = time.perf_counter()
    o_tbl, c_tbl = star_layout.ensure_star_layout(spark, SCRATCH)
    build_main_s = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    z_tbl = star_layout.ensure(spark, star_layout.ZORDER, SCRATCH)
    zbuild_main_s = round(time.perf_counter() - t0, 2)

    # append the delta part files without touching existing ones
    tgt = os.path.join(SCRATCH, "orders.parquet")
    for f in os.listdir(tmp):
        if not f.startswith((".", "_")):
            shutil.move(os.path.join(tmp, f), os.path.join(tgt, f"app_{f}"))
    shutil.rmtree(tmp)

    t0 = time.perf_counter()
    statuses = star_layout.refresh_kind(spark, "star", SCRATCH)
    refresh_s = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    zstatus = star_layout.refresh(spark, star_layout.ZORDER, SCRATCH)
    zrefresh_s = round(time.perf_counter() - t0, 2)

    # the avoided cost: full rebuild over the grown source
    for t in (o_tbl, c_tbl, z_tbl):
        spark.sql(f"DROP TABLE {t}")
    from dbt_analytics_spark.sources import readers

    readers._CACHE.clear()
    t0 = time.perf_counter()
    star_layout.ensure_star_layout(spark, SCRATCH)
    rebuild_grown_s = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    star_layout.ensure(spark, star_layout.ZORDER, SCRATCH)
    zrebuild_grown_s = round(time.perf_counter() - t0, 2)

    emit_gated(
        {
            "metric": "layout_incremental_refresh",
            "sf_dir": SF_DIR,
            "orders_rows": n_rows,
            "delta_rows": delta_rows,
            "delta_frac": round(delta_rows / n_rows, 4),
            "star": {
                "build_main_s": build_main_s,
                "refresh_delta_s": refresh_s,
                "rebuild_grown_s": rebuild_grown_s,
                "speedup_vs_rebuild": round(rebuild_grown_s / refresh_s, 1)
                if refresh_s
                else None,
                "statuses": statuses,
            },
            "zorder": {
                "build_main_s": zbuild_main_s,
                "refresh_delta_s": zrefresh_s,
                "rebuild_grown_s": zrebuild_grown_s,
                "speedup_vs_rebuild": round(
                    zrebuild_grown_s / zrefresh_s, 1
                )
                if zrefresh_s
                else None,
                "status": zstatus,
            },
        },
        load_gate,
    )
    shutil.rmtree(SCRATCH, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
