#!/usr/bin/env python
"""q1 stage decomposition at sf10 (VERDICT r12 item 6: q1 read 2.02x).

q1 is a pure map-side-combinable rollup over 60M lineitem rows into 6
groups — if it sits above 2x of DuckDB, the only candidate terms are
(a) the parquet scan of 7 columns, (b) the per-row decimal casts and
multiplies, (c) the 128-bit decimal SUM accumulation. Variants:

  qty_count   groupBy + sum(l_quantity) + count only (scan floor)
  base_dec    + the decimal(18,2) extendedprice sum
  full_dec    the shipped q1 (4 decimal sums incl. two decimal products)
  cents_long  all money math in exact integer cents/long space (the star
              layout's measured lever): one decimal cast per row to get
              exact cents, then long multiplies by integer hundredths
              and long SUMs; rounding reproduced in integer space

DuckDB runs the full q1 as the canary. min-of-N interleaved; shared
load/drift gate (the artifact refuses to emit on failure).

Usage: python scripts/probe_q1_decomp.py [repeats]  (env SPARK_GRAFT_SF_DIR)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

from dbt_analytics_spark.bench_gate import emit_gated, wait_for_quiet  # noqa: E402
from dbt_analytics_spark.queries.core import Q1_SQL, q1_pricing_summary  # noqa: E402
from dbt_analytics_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/repo/.scratch/sf10")
REPEATS = int(sys.argv[1]) if len(sys.argv) > 1 else 5


def main() -> None:
    from pyspark.sql import functions as F

    from dbt_analytics_spark.plans import star_layout
    from dbt_analytics_spark.queries.core import (
        q1b_pricing_summary_layout,
    )

    load_gate = wait_for_quiet()
    spark = get_spark("q1_decomp_probe")
    li = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))
    n_rows = li.count()
    print(f"# lineitem rows: {n_rows}", file=sys.stderr)

    # One-time lineitem layout + grain-rollup builds (r14): priced
    # separately, amortized across every routed q1 after them — the
    # j1b/star trade.
    t0 = time.perf_counter()
    star_layout.ensure_lineitem_layout(spark, SF_DIR)
    layout_build_s = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    star_layout.ensure_q1_rollup(spark, SF_DIR)
    rollup_build_s = round(time.perf_counter() - t0, 2)
    print(
        f"# lineitem layout ensure: {layout_build_s}s, "
        f"q1 rollup ensure: {rollup_build_s}s",
        file=sys.stderr,
    )

    def _rollup_off(fn):
        def run():
            old = star_layout.route
            star_layout.route = lambda spark, d, *a, **k: (
                None if d is star_layout.Q1_ROLLUP else old(spark, d, *a, **k)
            )
            try:
                return fn()
            finally:
                star_layout.route = old
        return run

    def _routing_off(fn):
        def run():
            old = star_layout.ROUTE_MIN_FACT_BYTES
            star_layout.ROUTE_MIN_FACT_BYTES = 1 << 60
            try:
                return fn()
            finally:
                star_layout.ROUTE_MIN_FACT_BYTES = old
        return run

    money = F.col("l_extendedprice").cast("decimal(18,2)")
    disc_rate = (F.lit(1) - F.col("l_discount")).cast("decimal(8,2)")
    tax_rate = (F.lit(1) + F.col("l_tax")).cast("decimal(8,2)")
    disc_price = money * disc_rate
    charge = disc_price * tax_rate

    cents = (money * 100).cast("long")
    disc_h = (disc_rate * 100).cast("long")
    tax_h = (tax_rate * 100).cast("long")
    disc_i4 = cents * disc_h
    charge_i6 = disc_i4 * tax_h

    # exact cents WITHOUT the decimal cast: for a double that is the
    # nearest representation of a 2-decimal value v, |x*100 - 100v| <=
    # 100*ulp(v)/2 + ulp(100v)/2 << 0.5 for |v| < 2^45, so the round is
    # provably the true integer (verified 0 mismatches at sf0.001/0.01)
    cents_d = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_hd = F.round((F.lit(1) - F.col("l_discount")) * 100).cast("long")
    tax_hd = F.round((F.lit(1) + F.col("l_tax")) * 100).cast("long")
    disc_i4d = cents_d * disc_hd
    charge_i6d = disc_i4d * tax_hd

    # floor(x + 0.5) == round-half-up for NON-NEGATIVE x, and the long
    # cast is a plain conversion where Spark's Round(double) goes through
    # BigDecimal.setScale per row
    cents_f = (F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    disc_hf = ((F.lit(1) - F.col("l_discount")) * 100 + F.lit(0.5)).cast(
        "long"
    )
    tax_hf = ((F.lit(1) + F.col("l_tax")) * 100 + F.lit(0.5)).cast("long")
    disc_i4f = cents_f * disc_hf
    charge_i6f = disc_i4f * tax_hf

    def dollars(col):  # exact long->double via decimal, like the layout
        return (col.cast("decimal(38,0)") / F.lit(100)).cast("double")

    def variants():
        keys = ["l_returnflag", "l_linestatus"]
        return {
            "qty_count": lambda: li.groupBy(*keys).agg(
                F.sum("l_quantity").alias("sum_qty"),
                F.count(F.lit(1)).alias("count_order"),
            ),
            "base_dec": lambda: li.groupBy(*keys).agg(
                F.sum("l_quantity").alias("sum_qty"),
                F.sum(money).cast("double").alias("sum_base_price"),
                F.count(F.lit(1)).alias("count_order"),
            ),
            # the ad-hoc shipped arithmetic with ALL routing pinned off
            # (r14: q1 routes when the layout family is fresh — this
            # row prices the raw-parquet fallback path)
            "shipped_adhoc": _routing_off(
                lambda: q1_pricing_summary(spark, SF_DIR)
            ),
            # the shipped q1 as it actually runs with the layout family
            # fresh: routed to the 6-row grain rollup (r14)
            "shipped_routed": lambda: q1_pricing_summary(spark, SF_DIR),
            # q1 routed to the per-row cents layout only (rollup route
            # suppressed): prices the scan+agg over stored cents
            "layout_routed": _rollup_off(
                lambda: q1_pricing_summary(spark, SF_DIR)
            ),
            # q1b directly on the layout (identical plan to the
            # layout_routed row; both benched to expose any routing
            # overhead)
            "layout_stored": lambda: q1b_pricing_summary_layout(
                spark, SF_DIR
            ),
            # long partial sums in the agg, integer rounding (HALF_UP at
            # cents via `(x + half) div scale` on the tiny 6-row frame),
            # exact long->double through decimal — plus the count*max
            # overflow-proof columns the layout's guard pattern needs
            "cents_long": lambda: li.groupBy(*keys)
            .agg(
                F.sum("l_quantity").alias("sum_qty"),
                F.sum(cents).alias("__s2"),
                F.sum(disc_i4).alias("__s4"),
                F.sum(charge_i6).alias("__s6"),
                F.count(F.lit(1)).alias("count_order"),
                F.max(charge_i6).alias("__mx"),
                F.min(charge_i6).alias("__mn"),
            )
            .select(
                "l_returnflag",
                "l_linestatus",
                "sum_qty",
                dollars(F.col("__s2")).alias("sum_base_price"),
                dollars(F.expr("(__s4 + 50) div 100")).alias(
                    "sum_disc_price"
                ),
                dollars(F.expr("(__s6 + 5000) div 10000")).alias(
                    "sum_charge"
                ),
                (F.col("sum_qty") / F.col("count_order")).alias("avg_qty"),
                (
                    dollars(F.col("__s2")) / F.col("count_order")
                ).alias("avg_price"),
                "count_order",
            ),
            # + the full overflow-proof column set (3 mins + 3 maxes):
            # prices the guard the SHIPPED query needs at 100 TB scale
            "cents_dbl_guarded": lambda: li.groupBy(*keys)
            .agg(
                F.sum("l_quantity").alias("sum_qty"),
                F.sum(cents_d).alias("__s2"),
                F.sum(disc_i4d).alias("__s4"),
                F.sum(charge_i6d).alias("__s6"),
                F.count(F.lit(1)).alias("count_order"),
                F.max(cents_d).alias("__mx2"),
                F.min(cents_d).alias("__mn2"),
                F.max(disc_i4d).alias("__mx4"),
                F.min(disc_i4d).alias("__mn4"),
                F.max(charge_i6d).alias("__mx6"),
                F.min(charge_i6d).alias("__mn6"),
            )
            .select(
                "l_returnflag",
                "l_linestatus",
                "sum_qty",
                dollars(F.col("__s2")).alias("sum_base_price"),
                dollars(F.expr("(__s4 + 50) div 100")).alias(
                    "sum_disc_price"
                ),
                dollars(F.expr("(__s6 + 5000) div 10000")).alias(
                    "sum_charge"
                ),
                (F.col("sum_qty") / F.col("count_order")).alias("avg_qty"),
                (
                    dollars(F.col("__s2")) / F.col("count_order")
                ).alias("avg_price"),
                "count_order",
            ),
            # floor(x+0.5) casts instead of Round(double)'s per-row
            # BigDecimal.setScale — the cheapest exact-cents recovery
            "cents_floor": lambda: li.groupBy(*keys)
            .agg(
                F.sum("l_quantity").alias("sum_qty"),
                F.sum(cents_f).alias("__s2"),
                F.sum(disc_i4f).alias("__s4"),
                F.sum(charge_i6f).alias("__s6"),
                F.count(F.lit(1)).alias("count_order"),
                F.max(cents_f).alias("__mx2"),
                F.min(cents_f).alias("__mn2"),
                F.max(disc_i4f).alias("__mx4"),
                F.min(disc_i4f).alias("__mn4"),
                F.max(charge_i6f).alias("__mx6"),
                F.min(charge_i6f).alias("__mn6"),
            )
            .select(
                "l_returnflag",
                "l_linestatus",
                "sum_qty",
                dollars(F.col("__s2")).alias("sum_base_price"),
                dollars(F.expr("(__s4 + 50) div 100")).alias(
                    "sum_disc_price"
                ),
                dollars(F.expr("(__s6 + 5000) div 10000")).alias(
                    "sum_charge"
                ),
                (F.col("sum_qty") / F.col("count_order")).alias("avg_qty"),
                (
                    dollars(F.col("__s2")) / F.col("count_order")
                ).alias("avg_price"),
                "count_order",
            ),
            # cents from double round (no per-row decimal cast at all)
            "cents_dbl": lambda: li.groupBy(*keys)
            .agg(
                F.sum("l_quantity").alias("sum_qty"),
                F.sum(cents_d).alias("__s2"),
                F.sum(disc_i4d).alias("__s4"),
                F.sum(charge_i6d).alias("__s6"),
                F.count(F.lit(1)).alias("count_order"),
                F.max(charge_i6d).alias("__mx"),
                F.min(charge_i6d).alias("__mn"),
            )
            .select(
                "l_returnflag",
                "l_linestatus",
                "sum_qty",
                dollars(F.col("__s2")).alias("sum_base_price"),
                dollars(F.expr("(__s4 + 50) div 100")).alias(
                    "sum_disc_price"
                ),
                dollars(F.expr("(__s6 + 5000) div 10000")).alias(
                    "sum_charge"
                ),
                (F.col("sum_qty") / F.col("count_order")).alias("avg_qty"),
                (
                    dollars(F.col("__s2")) / F.col("count_order")
                ).alias("avg_price"),
                "count_order",
            ),
        }

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/lineitem.parquet')"
    )

    vs = variants()
    for fn in vs.values():  # warm
        fn().collect()
    con.execute(Q1_SQL).fetchall()

    sp = {k: [] for k in vs}
    dk: list[float] = []
    for _ in range(REPEATS):
        for k, fn in vs.items():
            t0 = time.perf_counter()
            fn().collect()
            sp[k].append(round(time.perf_counter() - t0, 4))
        t0 = time.perf_counter()
        con.execute(Q1_SQL).fetchall()
        dk.append(round(time.perf_counter() - t0, 4))
    con.close()

    duck_min = min(dk)
    band = lambda v: round((max(v) - min(v)) / min(v), 3)  # noqa: E731
    emit_gated(
        {
            "metric": "q1_stage_decomposition",
            "protocol": f"min-of-{REPEATS}, variants interleaved with a "
            "DuckDB q1 canary per round, one warm session",
            "rows": n_rows,
            "layout_build_s": layout_build_s,
            "rollup_build_s": rollup_build_s,
            "sf_dir": SF_DIR,
            "duckdb_q1_min": duck_min,
            "spark_min": {k: min(v) for k, v in sp.items()},
            "ratio_vs_duck_q1": {
                k: round(min(v) / duck_min, 2) for k, v in sp.items()
            },
            "spark_drift_band": {k: band(v) for k, v in sp.items()},
            "duckdb_drift_band": band(dk),
            "spark_raw": sp,
            "duckdb_raw": dk,
        },
        load_gate,
        samples={**{f"spark/{k}": v for k, v in sp.items()},
                 "duckdb": dk},
    )
    spark.stop()


if __name__ == "__main__":
    main()
