"""Semantic layer (plans/semantics.py): semantic_models + metrics YAML
compiled to ONE Spark aggregation — simple (with pre-agg filters), ratio
and derived metrics, categorical + time dimensions with grains.
Reference: dbt semantic layer YAML (SP/dbt/parser/schemas.py
semantic_models/metrics sections; execution half is MetricFlow, rebuilt
natively here)."""

from __future__ import annotations

import os

import pytest
import yaml

from dbt_analytics_spark.plans import Project, fingerprint, star_layout
from dbt_analytics_spark.plans.fingerprint import read_sidecar, write_sidecar
from dbt_analytics_spark.plans.semantics import SemanticLayer

DOC = yaml.safe_load(
    """
semantic_models:
  - name: txns
    model: ref('txns_model')
    dimensions:
      - {name: seg, type: categorical}
      - {name: day, type: time, grain: day}
    measures:
      - {name: total_amount, agg: sum, expr: amount}
      - {name: n_txns, agg: count}
      - {name: n_segs, agg: count_distinct, expr: seg}
      - {name: avg_amount, agg: avg, expr: amount}
      - {name: min_amount, agg: min, expr: amount}
      - {name: max_amount, agg: max, expr: amount}
metrics:
  - {name: revenue, type: simple, measure: total_amount}
  - {name: txn_count, type: simple, measure: n_txns}
  - name: big_revenue
    type: simple
    measure: total_amount
    filter: amount >= 10
  - name: avg_txn_value
    type: ratio
    type_params: {numerator: revenue, denominator: txn_count}
  - name: revenue_per_seg
    type: derived
    type_params: {expr: "revenue / n_distinct_segs"}
metrics_aux: []
"""
)


@pytest.fixture(scope="module")
def sl(spark):
    p = Project(spark, name="sem")
    p.source_table(
        "txns_model",
        spark.createDataFrame(
            [
                (1, "a", 10.0, "2025-01-01"),
                (2, "a", 20.0, "2025-01-15"),
                (3, "b", 5.0, "2025-02-01"),
                (4, "b", 7.0, "2025-02-02"),
            ],
            ["txn_id", "seg", "amount", "day"],
        ).selectExpr("txn_id", "seg", "amount", "CAST(day AS DATE) AS day"),
    )
    layer = SemanticLayer(p)
    assert layer.load(DOC) == 6  # 1 semantic model + 5 metrics
    return layer


def test_simple_and_filtered_metrics_by_dimension(sl):
    rows = {
        r["seg"]: (r["revenue"], r["txn_count"], r["big_revenue"])
        for r in sl.query(
            ["revenue", "txn_count", "big_revenue"], group_by=["seg"]
        ).collect()
    }
    assert rows == {"a": (30.0, 2, 30.0), "b": (12.0, 2, None)}


def test_ratio_metric_and_grand_total(sl):
    row = sl.query(["avg_txn_value"]).collect()[0]
    assert row["avg_txn_value"] == pytest.approx(42.0 / 4)


def test_time_dimension_grain(sl):
    rows = {
        str(r["day__month"])[:10]: r["revenue"]
        for r in sl.query(["revenue"], group_by=["day__month"]).collect()
    }
    assert rows == {"2025-01-01": 30.0, "2025-02-01": 12.0}


def test_where_filter_and_single_model_guard(sl):
    rows = sl.query(["revenue"], group_by=["seg"], where="seg = 'a'").collect()
    assert len(rows) == 1 and rows[0]["revenue"] == 30.0
    with pytest.raises(KeyError):
        sl.query(["revenue"], group_by=["nope"])


def test_derived_metric_errors_cleanly_on_missing_measure(sl):
    # revenue_per_seg references n_distinct_segs, which no metric defines
    # as a simple metric — surface a clear failure, not a wrong answer.
    with pytest.raises(Exception):
        sl.query(["revenue_per_seg"]).collect()


def test_metric_query_is_one_aggregation_one_scan(sl):
    # Filtered + unfiltered metrics over the same measure must compile to
    # ONE scan + ONE aggregation (filters as conditional aggs), never a
    # per-metric re-scan.
    df = sl.query(["revenue", "big_revenue", "avg_txn_value"], group_by=["seg"])
    plan = df._jdf.queryExecution().executedPlan().toString()
    scans = sum(1 for line in plan.splitlines() if "Scan" in line)
    assert scans == 1, plan
    assert "Join" not in plan
    # The metric filter compiles INTO the aggregate, not a second branch.
    assert "CASE WHEN" in plan and plan.count("HashAggregate") == 2


CUM_DOC = yaml.safe_load(
    """
metrics:
  - {name: cum_revenue, type: cumulative, type_params: {measure: total_amount}}
  - name: rev_31d
    type: cumulative
    type_params: {measure: total_amount, window: 31 days}
  - name: rev_mtd
    type: cumulative
    type_params: {measure: total_amount, grain_to_date: month}
"""
)


def test_cumulative_all_time(sl):
    sl.load(CUM_DOC)
    rows = {
        str(r["day__month"])[:10]: r["cum_revenue"]
        for r in sl.query(["cum_revenue"], group_by=["day__month"]).collect()
    }
    assert rows == {"2025-01-01": 30.0, "2025-02-01": 42.0}


def test_cumulative_trailing_window_is_range_not_rows(sl):
    sl.load(CUM_DOC)
    # Buckets: 01-01=10, 01-15=20, 02-01=5, 02-02=7. A 31-day trailing
    # window at 02-01 must EXCLUDE 01-01 (31 days back) despite it being
    # only two buckets earlier — gaps must not stretch the window.
    rows = {
        str(r["day"])[:10]: r["rev_31d"]
        for r in sl.query(["rev_31d"], group_by=["day"]).collect()
    }
    assert rows == {
        "2025-01-01": 10.0,
        "2025-01-15": 30.0,
        "2025-02-01": 25.0,
        "2025-02-02": 32.0,
    }


def test_cumulative_grain_to_date_restarts_each_period(sl):
    sl.load(CUM_DOC)
    rows = {
        str(r["day"])[:10]: r["rev_mtd"]
        for r in sl.query(["rev_mtd"], group_by=["day"]).collect()
    }
    assert rows == {
        "2025-01-01": 10.0,
        "2025-01-15": 30.0,
        "2025-02-01": 5.0,
        "2025-02-02": 12.0,
    }


def test_cumulative_requires_time_dimension(sl):
    sl.load(CUM_DOC)
    with pytest.raises(ValueError, match="time dimension"):
        sl.query(["cum_revenue"], group_by=["seg"]).collect()


# ---------------------------------------------------------------------------
# Cumulative avg/min/max (round 11 — the last semantic-layer measure-agg
# rejection): min/max re-aggregate exactly from bucket partials; avg
# decomposes into the bucket's (sum, count) pair, accumulated separately
# and divided — identical to MetricFlow's fact-grain avg, never
# avg-of-bucket-avgs. count_distinct stays rejected (genuinely
# non-decomposable over overlapping frames).
# ---------------------------------------------------------------------------

CUM_AGG_DOC = yaml.safe_load(
    """
metrics:
  - {name: cum_avg_amt, type: cumulative, type_params: {measure: avg_amount}}
  - {name: cum_min_amt, type: cumulative, type_params: {measure: min_amount}}
  - name: max_31d
    type: cumulative
    type_params: {measure: max_amount, window: 31 days}
  - name: avg_1mo
    type: cumulative
    type_params: {measure: avg_amount, window: 1 month}
  - name: cum_avg_big
    type: cumulative
    measure: avg_amount
    filter: amount >= 7
  - name: cum_distinct
    type: cumulative
    type_params: {measure: n_segs}
"""
)


def test_cumulative_avg_is_fact_grain_not_avg_of_avgs(sl):
    # Buckets (day): 01-01=10, 01-15=20, 02-01=5, 02-02=7. At 02-01 the
    # fact-grain avg is 35/3 = 11.67; avg-of-bucket-avgs would say
    # (10+20+5)/3 = 11.67 here too, so pin 02-02: fact 42/4 = 10.5 vs
    # bucket-avg (10+20+5+7)/4 = 10.5 — equal per-day (1 row/bucket);
    # the month grain below is the real discriminator.
    sl.load(CUM_AGG_DOC)
    rows = {
        str(r["day__month"])[:10]: r["cum_avg_amt"]
        for r in sl.query(["cum_avg_amt"], group_by=["day__month"]).collect()
    }
    # Jan bucket avg = 15, Feb bucket avg = 6; avg-of-avgs would give
    # (15+6)/2 = 10.5 BY LUCK here, so assert the exact fact-grain
    # values: Jan: 30/2 = 15, Feb: 42/4 = 10.5.
    assert rows == {"2025-01-01": 15.0, "2025-02-01": pytest.approx(10.5)}


def test_cumulative_min_max_reaggregate_from_buckets(sl):
    sl.load(CUM_AGG_DOC)
    rows = {
        str(r["day"])[:10]: (r["cum_min_amt"], r["max_31d"])
        for r in sl.query(
            ["cum_min_amt", "max_31d"], group_by=["day"]
        ).collect()
    }
    # cum_min: running min. max_31d: RANGE 31-day frame — at 02-01 the
    # frame [01-02 .. 02-01] EXCLUDES 01-01's 10 but keeps 01-15's 20.
    assert rows == {
        "2025-01-01": (10.0, 10.0),
        "2025-01-15": (10.0, 20.0),
        "2025-02-01": (5.0, 20.0),
        "2025-02-02": (5.0, 20.0),
    }


def test_cumulative_avg_calendar_window(sl):
    sl.load(CUM_AGG_DOC)
    rows = {
        str(r["day"])[:10]: r["avg_1mo"]
        for r in sl.query(["avg_1mo"], group_by=["day"]).collect()
    }
    # (b - 1 MONTH, b]: at 02-01 the frame is (01-01 .. 02-01] — drops
    # 01-01's 10, keeps 20 and 5 -> 25/2; all-time would say 35/3.
    assert rows == {
        "2025-01-01": 10.0,
        "2025-01-15": 15.0,
        "2025-02-01": 12.5,
        "2025-02-02": pytest.approx(32 / 3),
    }


def test_cumulative_avg_with_filter_counts_only_matching_rows(sl):
    sl.load(CUM_AGG_DOC)
    rows = {
        str(r["day"])[:10]: r["cum_avg_big"]
        for r in sl.query(["cum_avg_big"], group_by=["day"]).collect()
    }
    # Filter amount >= 7 drops 02-01's 5 from both sum AND count: the
    # bucket contributes (NULL, 0) partials, so the running avg is
    # unchanged there — not diluted by a zero.
    assert rows == {
        "2025-01-01": 10.0,
        "2025-01-15": 15.0,
        "2025-02-01": 15.0,
        "2025-02-02": pytest.approx(37 / 3),
    }


def test_cumulative_count_distinct_still_rejected(sl):
    sl.load(CUM_AGG_DOC)
    with pytest.raises(ValueError, match="decompose"):
        sl.query(["cum_distinct"], group_by=["day"]).collect()


EVENTS_DOC = yaml.safe_load(
    """
semantic_models:
  - name: events_sm
    model: ref('events_model')
    dimensions:
      - {name: seg, type: categorical}
      - {name: ts, type: time, grain: day}
    measures:
      - {name: visits, agg: count, expr: "CASE WHEN etype = 'visit' THEN 1 END"}
      - {name: buys, agg: count, expr: "CASE WHEN etype = 'buy' THEN 1 END"}
metrics:
  - {name: visit_count, type: simple, measure: visits}
  - name: visit_to_buy_7d
    type: conversion
    type_params:
      conversion_type_params:
        base_measure: visits
        conversion_measure: buys
        entity: user_id
        window: 7 days
  - name: buys_after_visit
    type: conversion
    type_params:
      conversion_type_params:
        base_measure: visits
        conversion_measure: buys
        entity: user_id
        calculation: conversions
  - name: same_session_buys
    type: conversion
    type_params:
      conversion_type_params:
        base_measure: visits
        conversion_measure: buys
        entity: user_id
        calculation: conversions
        constant_properties:
          - {base_property: sess, conversion_property: sess}
"""
)


@pytest.fixture(scope="module")
def sl_events(spark):
    p = Project(spark, name="sem_ev")
    p.source_table(
        "events_model",
        spark.createDataFrame(
            [
                ("u1", "a", "visit", "2025-01-01", "s1"),
                ("u1", "a", "buy", "2025-01-03", "s2"),
                ("u2", "b", "visit", "2025-01-01", "s3"),
                ("u2", "b", "visit", "2025-01-18", "s4"),
                ("u2", "b", "buy", "2025-01-20", "s4"),
                ("u3", "b", "visit", "2025-01-01", "s5"),
            ],
            ["user_id", "seg", "etype", "ts", "sess"],
        ).selectExpr(
            "user_id", "seg", "etype", "CAST(ts AS DATE) AS ts", "sess"
        ),
    )
    layer = SemanticLayer(p)
    layer.load(EVENTS_DOC)
    return layer


def test_conversion_rate_windowed(sl_events):
    # 4 visits; within 7 days: u1@01-01 (buy 01-03) and u2@01-18 (buy
    # 01-20) convert; u2@01-01 (buy 19 days later) and u3 do not.
    row = sl_events.query(["visit_to_buy_7d"]).collect()[0]
    assert row["visit_to_buy_7d"] == pytest.approx(2 / 4)


def test_conversion_unbounded_counts(sl_events):
    # Without a window u2@01-01 also converts -> 3 converted base events.
    row = sl_events.query(["buys_after_visit"]).collect()[0]
    assert row["buys_after_visit"] == 3


def test_conversion_constant_properties_restrict_matches(sl_events):
    # constant_properties (MetricFlow conversion_type_params): the
    # conversion must carry the SAME property value as its base event —
    # extra equi-join keys beside the entity. u1's buy is in a DIFFERENT
    # session than the visit (counted by the unconstrained metric,
    # rejected here); only u2's 01-18 visit converts within s4.
    row = sl_events.query(["same_session_buys"]).collect()[0]
    assert row["same_session_buys"] == 1


def test_conversion_grouped_and_joined_with_simple_metric(sl_events):
    rows = {
        r["seg"]: (r["visit_count"], r["visit_to_buy_7d"])
        for r in sl_events.query(
            ["visit_count", "visit_to_buy_7d"], group_by=["seg"]
        ).collect()
    }
    assert rows == {"a": (1, 1.0), "b": (3, pytest.approx(1 / 3))}


STAR_DOC = yaml.safe_load(
    """
semantic_models:
  - name: orders_sm
    model: ref('orders_model')
    entities:
      - {name: order, type: primary, expr: order_id}
      - {name: customer, type: foreign, expr: cust_id}
    dimensions:
      - {name: status, type: categorical}
    measures:
      - {name: order_total, agg: sum, expr: amount}
  - name: customers_sm
    model: ref('customers_model')
    entities:
      - {name: customer, type: primary, expr: cust_id}
    dimensions:
      - {name: region, type: categorical}
      - {name: signup, type: time, grain: day}
metrics:
  - {name: order_revenue, type: simple, measure: order_total}
"""
)


@pytest.fixture(scope="module")
def sl_star(spark):
    p = Project(spark, name="sem_star")
    p.source_table(
        "orders_model",
        spark.createDataFrame(
            [
                (1, 10, "open", 5.0),
                (2, 10, "done", 7.0),
                (3, 20, "done", 11.0),
                (4, 99, "open", 13.0),  # no matching customer (left join)
            ],
            ["order_id", "cust_id", "status", "amount"],
        ),
    )
    p.source_table(
        "customers_model",
        spark.createDataFrame(
            [
                (10, "emea", "2024-01-05", "pad1"),
                (20, "apac", "2024-02-10", "pad2"),
            ],
            ["cust_id", "region", "signup", "pad"],
        ).selectExpr("cust_id", "region", "CAST(signup AS DATE) AS signup", "pad"),
    )
    layer = SemanticLayer(p)
    layer.load(STAR_DOC)
    return layer


def test_entity_join_group_by(sl_star):
    rows = {
        r["customer__region"]: r["order_revenue"]
        for r in sl_star.query(
            ["order_revenue"], group_by=["customer__region"]
        ).collect()
    }
    # Left join: the unmatched order lands in the NULL region group.
    assert rows == {"emea": 12.0, "apac": 11.0, None: 13.0}


def test_entity_join_mixed_dims_and_where(sl_star):
    rows = {
        (r["status"], r["customer__region"]): r["order_revenue"]
        for r in sl_star.query(
            ["order_revenue"],
            group_by=["status", "customer__region"],
            where="customer__region IS NOT NULL",
        ).collect()
    }
    assert rows == {
        ("open", "emea"): 5.0,
        ("done", "emea"): 7.0,
        ("done", "apac"): 11.0,
    }


def test_entity_join_time_dim_with_grain(sl_star):
    rows = {
        str(r["customer__signup__month"])[:7]: r["order_revenue"]
        for r in sl_star.query(
            ["order_revenue"],
            group_by=["customer__signup__month"],
            where="customer__signup__month IS NOT NULL",
        ).collect()
    }
    assert rows == {"2024-01": 12.0, "2024-02": 11.0}


def test_entity_join_is_one_pruned_join_one_aggregation(sl_star):
    df = sl_star.query(["order_revenue"], group_by=["customer__region"])
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Join") == 1, plan
    # Dim side pruned to pk + requested dim: the Project feeding the join
    # carries only the pk alias and the dim — the wide 'pad' column never
    # enters the join (it remains only in the base relation's schema line).
    proj = next(l for l in plan.splitlines() if "AS __pk_customer" in l)
    assert "pad" not in proj and "signup" not in proj, proj


def test_saved_queries(sl):
    n = sl.load(
        yaml.safe_load(
            """
saved_queries:
  - name: seg_revenue
    query_params:
      metrics: [revenue, txn_count]
      group_by: [seg]
      where: ["seg != 'zzz'"]
"""
        )
    )
    assert n == 1
    rows = {
        r["seg"]: (r["revenue"], r["txn_count"])
        for r in sl.run_saved("seg_revenue").collect()
    }
    assert rows == {"a": (30.0, 2), "b": (12.0, 2)}


def test_saved_query_exports(sl, spark):
    sl.load(
        yaml.safe_load(
            """
saved_queries:
  - name: seg_rev_export
    query_params:
      metrics: [revenue]
      group_by: [seg]
    exports:
      - name: sem_seg_rev_tbl
        config: {export_as: table}
      - name: sem_seg_rev_view
        config: {export_as: view}
"""
        )
    )
    written = sl.run_exports("seg_rev_export")
    assert written == ["sem_seg_rev_tbl", "sem_seg_rev_view"]
    got = {
        r["seg"]: r["revenue"] for r in spark.table("sem_seg_rev_tbl").collect()
    }
    assert got == {"a": 30.0, "b": 12.0}
    assert spark.table("sem_seg_rev_view").count() == 2


# ---------------------------------------------------------------------------
# join_to_timespine / fill_nulls_with / derived offset_window inputs
# (MetricFlow measure-input params + metric inputs — period-over-period).
# The fixture has a deliberate MONTH GAP (Jan, Mar; seg b stops in Jan) so
# the spine must synthesize buckets and the offset join must NOT read
# across the gap the way a ROWS lag would.
# ---------------------------------------------------------------------------

GAP_DOC = yaml.safe_load(
    """
semantic_models:
  - name: gap_txns
    model: ref('gap_txns')
    dimensions:
      - {name: seg, type: categorical}
      - {name: day, type: time, grain: month}
    measures:
      - {name: amt, agg: sum, expr: amount}
metrics:
  - name: rev_plain
    type: simple
    measure: amt
  - name: rev_filled
    type: simple
    type_params:
      measure: {name: amt, fill_nulls_with: 0, join_to_timespine: true}
  - name: mom_delta
    type: derived
    type_params:
      expr: rev_filled - prev_rev
      metrics:
        - name: rev_filled
        - {name: rev_filled, alias: prev_rev, offset_window: 1 month}
"""
)


@pytest.fixture(scope="module")
def sl_gap(spark):
    p = Project(spark, name="sem_gap")
    p.source_table(
        "gap_txns",
        spark.createDataFrame(
            [
                ("a", 10.0, "2025-01-05"),
                ("a", 5.0, "2025-03-20"),
                ("b", 3.0, "2025-01-09"),
            ],
            ["seg", "amount", "day"],
        ).selectExpr("seg", "amount", "CAST(day AS DATE) AS day"),
    )
    layer = SemanticLayer(p)
    layer.load(GAP_DOC)
    return layer


def _by_seg_month(rows, col):
    return {
        (r["seg"], str(r["day"])[:7]): r[col] for r in rows
    }


def test_timespine_fills_gap_buckets_per_dim_combo(sl_gap):
    rows = sl_gap.query(["rev_filled"], group_by=["seg", "day"]).collect()
    got = _by_seg_month(rows, "rev_filled")
    # Feb is synthesized for BOTH segs; seg b's Feb AND Mar are spine-only.
    assert got == {
        ("a", "2025-01"): 10.0,
        ("a", "2025-02"): 0.0,
        ("a", "2025-03"): 5.0,
        ("b", "2025-01"): 3.0,
        ("b", "2025-02"): 0.0,
        ("b", "2025-03"): 0.0,
    }


def test_timespine_absent_without_request(sl_gap):
    # rev_plain has no join_to_timespine: only observed buckets surface.
    rows = sl_gap.query(["rev_plain"], group_by=["seg", "day"]).collect()
    assert len(rows) == 3


def test_offset_window_is_time_shift_not_row_lag(sl_gap):
    rows = sl_gap.query(
        ["rev_filled", "mom_delta"], group_by=["day"], where="seg = 'a'"
    ).collect()
    got = {str(r["day"])[:7]: (r["rev_filled"], r["mom_delta"]) for r in rows}
    # Jan: no Dec bucket -> prev reads the input's fill (0) -> delta 10.
    # Feb: spine-only bucket (0), prev Jan=10 -> delta -10.
    # Mar: prev is the SPINE Feb bucket (0), NOT Jan -- a ROWS lag over
    # the unspined frame would have read Jan's 10 here.
    assert got == {
        "2025-01": (10.0, 10.0),
        "2025-02": (0.0, -10.0),
        "2025-03": (5.0, 5.0),
    }


def test_offset_to_grain_reads_period_start(sl_gap):
    # offset_to_grain: year — every month bucket reads the input's value
    # at the FIRST bucket of its year (Jan), so the delta is vs-start-of-
    # year, not vs-previous-bucket.
    sl_gap.load(
        yaml.safe_load(
            """
metrics:
  - name: vs_jan
    type: derived
    type_params:
      expr: rev_filled - soy
      metrics:
        - name: rev_filled
        - {name: rev_filled, alias: soy, offset_to_grain: year}
"""
        )
    )
    rows = sl_gap.query(
        ["vs_jan"], group_by=["day"], where="seg = 'a'"
    ).collect()
    got = {str(r["day"])[:7]: r["vs_jan"] for r in rows}
    # Jan reads itself (10-10=0); Feb 0-10; Mar 5-10.
    assert got == {"2025-01": 0.0, "2025-02": -10.0, "2025-03": -5.0}


def test_offset_window_and_to_grain_mutually_exclusive(sl_gap):
    sl_gap.load(
        yaml.safe_load(
            """
metrics:
  - name: bad_both
    type: derived
    type_params:
      expr: rev_filled - x
      metrics:
        - name: rev_filled
        - {name: rev_filled, alias: x, offset_window: 1 month,
           offset_to_grain: month}
"""
        )
    )
    with pytest.raises(ValueError, match="mutually exclusive"):
        sl_gap.query(["bad_both"], group_by=["day"]).collect()


def test_offset_requires_alias_and_time_dim(sl_gap):
    sl_gap.load(
        yaml.safe_load(
            """
metrics:
  - name: bad_offset
    type: derived
    type_params:
      expr: rev_filled - x
      metrics:
        - {name: rev_filled, offset_window: 1 month}
"""
        )
    )
    with pytest.raises(ValueError, match="alias"):
        sl_gap.query(["bad_offset"], group_by=["day"]).collect()
    with pytest.raises(ValueError, match="time dimension"):
        sl_gap.query(["mom_delta"], group_by=["seg"]).collect()


def test_nested_offset_inputs_materialize(sl_gap):
    # A derived metric referencing ANOTHER derived metric that carries
    # offset_window inputs: the inner inputs must be collected through
    # the metric closure (previously only top-level inputs were, so the
    # substituted __m_prev_rev column was never materialized and the
    # query died with an unresolved-column AnalysisException).
    sl_gap.load(
        yaml.safe_load(
            """
metrics:
  - name: nested_mom
    type: derived
    type_params:
      expr: mom_delta * 2
"""
        )
    )
    rows = sl_gap.query(
        ["nested_mom"], group_by=["day"], where="seg = 'a'"
    ).collect()
    got = {str(r["day"])[:7]: r["nested_mom"] for r in rows}
    assert got == {"2025-01": 20.0, "2025-02": -20.0, "2025-03": 10.0}


def test_offset_of_derived_with_own_offsets_composes(sl_gap):
    # accel(t) = mom_delta(t) - mom_delta(t - 1 month): the offset input
    # TARGETS a derived metric whose own value reads __m_prev_rev — the
    # descendant alias must join BEFORE the outer shift (deepest-first
    # order), and the whole-row self-join composes the two time shifts.
    sl_gap.load(
        yaml.safe_load(
            """
metrics:
  - name: accel
    type: derived
    type_params:
      expr: mom_delta - prev_delta
      metrics:
        - name: mom_delta
        - {name: mom_delta, alias: prev_delta, offset_window: 1 month}
"""
        )
    )
    rows = sl_gap.query(
        ["accel"], group_by=["day"], where="seg = 'a'"
    ).collect()
    got = {str(r["day"])[:7]: r["accel"] for r in rows}
    # Jan: mom_delta(Dec) is a join miss (no bucket, no fill on the
    # derived input) -> NULL propagates. Feb: -10 - 10. Mar: 5 - (-10).
    assert got == {"2025-01": None, "2025-02": -20.0, "2025-03": 15.0}


# ---------------------------------------------------------------------------
# non_additive_dimension (round 11 — MetricFlow semi-additive measures):
# balances must not sum across their time dimension; each query bucket
# takes the min/max-dated rows per window_groupings entity, then
# aggregates. Ties at the chosen date all count (MetricFlow's compiled
# equality join keeps them too).
# ---------------------------------------------------------------------------

BAL_DOC = yaml.safe_load(
    """
semantic_models:
  - name: balances_sm
    model: ref('balances')
    entities:
      - {name: account, type: primary, expr: acct}
    dimensions:
      - {name: day, type: time, grain: month}
    measures:
      - name: eom_balance
        agg: sum
        expr: balance
        non_additive_dimension:
          name: day
          window_choice: max
          window_groupings: [account]
      - name: som_balance
        agg: sum
        expr: balance
        non_additive_dimension:
          name: day
          window_choice: min
          window_groupings: [account]
metrics:
  - {name: total_eom, type: simple, measure: eom_balance}
  - {name: total_som, type: simple, measure: som_balance}
  - name: big_eom
    type: simple
    measure: eom_balance
    filter: balance >= 100
  - {name: cum_eom, type: cumulative, type_params: {measure: eom_balance}}
"""
)


@pytest.fixture(scope="module")
def sl_bal(spark):
    p = Project(spark, name="sem_bal")
    p.source_table(
        "balances",
        spark.createDataFrame(
            [
                ("a", 100.0, "2025-01-05"),
                ("a", 150.0, "2025-01-20"),
                ("a", 120.0, "2025-02-10"),
                ("b", 50.0, "2025-01-10"),
                ("b", 70.0, "2025-02-01"),
                ("b", 60.0, "2025-02-25"),
                # acct c: TWO rows at the same (max) date — both count.
                ("c", 10.0, "2025-01-15"),
                ("c", 20.0, "2025-01-15"),
            ],
            ["acct", "balance", "day"],
        ).selectExpr("acct", "balance", "CAST(day AS DATE) AS day"),
    )
    layer = SemanticLayer(p)
    layer.load(BAL_DOC)
    return layer


def test_semi_additive_eom_and_som_by_month(sl_bal):
    rows = {
        str(r["day"])[:7]: (r["total_eom"], r["total_som"])
        for r in sl_bal.query(
            ["total_eom", "total_som"], group_by=["day"]
        ).collect()
    }
    # Jan EOM: a@01-20 (150) + b@01-10 (50) + c@01-15 ties (10+20) = 230;
    # Jan SOM: a@01-05 (100) + 50 + 30 = 180.
    # Feb EOM: a@02-10 (120) + b@02-25 (60) = 180; SOM: 120 + b@02-01 (70).
    assert rows == {"2025-01": (230.0, 180.0), "2025-02": (180.0, 190.0)}


def test_semi_additive_grand_total_takes_latest_overall(sl_bal):
    row = sl_bal.query(["total_eom"]).collect()[0]
    # No time bucket: each account's single latest row over ALL time —
    # a@02-10 (120) + b@02-25 (60) + c@01-15 (30).
    assert row["total_eom"] == 210.0


def test_semi_additive_filter_applies_before_choice(sl_bal):
    rows = {
        str(r["day"])[:7]: r["big_eom"]
        for r in sl_bal.query(["big_eom"], group_by=["day"]).collect()
    }
    # balance >= 100 leaves only acct a's rows: the choice runs AFTER the
    # filter (Jan picks a@01-20's 150, not a filtered-away later row),
    # and b/c contribute nothing (not zero).
    assert rows == {"2025-01": 150.0, "2025-02": 120.0}


def test_semi_additive_beside_additive_metric(sl_bal):
    # Both metrics live on one model: the additive count rides the single
    # groupBy, the semi-additive frame full-outer-joins in beside it.
    sl_bal.load(
        yaml.safe_load(
            """
semantic_models:
  - name: balances_sm3
    model: ref('balances')
    entities:
      - {name: account3, type: primary, expr: acct}
    dimensions:
      - {name: day3, type: time, expr: day, grain: month}
    measures:
      - {name: n_obs, agg: count}
      - name: eom3
        agg: sum
        expr: balance
        non_additive_dimension:
          name: day3
          window_choice: max
          window_groupings: [account3]
metrics:
  - {name: obs_count, type: simple, measure: n_obs}
  - {name: eom3_total, type: simple, measure: eom3}
"""
        )
    )
    rows = {
        str(r["day3"])[:7]: (r["obs_count"], r["eom3_total"])
        for r in sl_bal.query(
            ["obs_count", "eom3_total"], group_by=["day3"]
        ).collect()
    }
    assert rows == {"2025-01": (5, 230.0), "2025-02": (3, 180.0)}


def test_semi_additive_cumulative_rejected(sl_bal):
    with pytest.raises(ValueError, match="semi-additive"):
        sl_bal.query(["cum_eom"], group_by=["day"]).collect()


def test_grain_interval_parsing():
    from dbt_analytics_spark.plans.semantics import _grain_interval

    assert _grain_interval("month") == "INTERVAL 1 MONTH"
    assert _grain_interval("2 weeks") == "INTERVAL 2 WEEK"
    assert _grain_interval("1 quarter") == "INTERVAL 3 MONTH"
    with pytest.raises(ValueError):
        _grain_interval("1 fortnight")


def test_metric_time_canonical_alias(sl):
    # MetricFlow's canonical time dimension: metric_time[__grain] resolves
    # to the model's first time-type dimension without knowing its name;
    # the output column keeps the requested alias.
    rows = {
        str(r["metric_time__month"])[:10]: r["revenue"]
        for r in sl.query(["revenue"], group_by=["metric_time__month"]).collect()
    }
    assert rows == {"2025-01-01": 30.0, "2025-02-01": 12.0}


def test_metric_time_requires_a_time_dimension(spark):
    # A model with no time-type dimension cannot serve metric_time.
    p = Project(spark, name="sem_notime")
    p.source_table(
        "flat", spark.createDataFrame([("a", 1.0)], ["seg", "amount"])
    )
    layer = SemanticLayer(p)
    layer.load(
        yaml.safe_load(
            """
semantic_models:
  - name: flat_sem
    model: ref('flat')
    dimensions: [{name: seg, type: categorical}]
    measures: [{name: amt, agg: sum, expr: amount}]
metrics:
  - {name: m, type: simple, measure: amt}
"""
        )
    )
    with pytest.raises(KeyError, match="metric_time"):
        layer.query(["m"], group_by=["metric_time"])


def test_custom_metricflow_time_spine_model(spark):
    # dbt convention: a project model named metricflow_time_spine (with a
    # date_day column) becomes the spine source — here the calendar has a
    # HOLE at Feb (so the default sequence() spine would differ) and
    # spans years beyond the data (the observed-window restriction must
    # clip it).
    p = Project(spark, name="sem_cal")
    p.source_table(
        "gap_txns2",
        spark.createDataFrame(
            [("a", 10.0, "2025-01-05"), ("a", 5.0, "2025-04-20")],
            ["seg", "amount", "day"],
        ).selectExpr("seg", "amount", "CAST(day AS DATE) AS day"),
    )
    cal_days = ["2020-06-01", "2025-01-01", "2025-03-15", "2025-04-02", "2029-12-31"]
    p.source_table(
        "metricflow_time_spine",
        spark.createDataFrame([(d,) for d in cal_days], ["date_day"])
        .selectExpr("CAST(date_day AS DATE) AS date_day"),
    )
    layer = SemanticLayer(p)
    layer.load(
        yaml.safe_load(
            """
semantic_models:
  - name: txn_sem2
    model: ref('gap_txns2')
    dimensions: [{name: day, type: time, grain: month}]
    measures: [{name: amt, agg: sum, expr: amount}]
metrics:
  - name: rev_cal
    type: simple
    type_params:
      measure: {name: amt, fill_nulls_with: 0, join_to_timespine: true}
"""
        )
    )
    rows = {
        str(r["day"])[:7]: r["rev_cal"]
        for r in layer.query(["rev_cal"], group_by=["day"]).collect()
    }
    # Calendar months within [Jan, Apr]: Jan, Mar, Apr (Feb missing from
    # the calendar -> NOT synthesized); 2020/2029 clipped by the window.
    assert rows == {"2025-01": 10.0, "2025-03": 0.0, "2025-04": 5.0}


def test_offset_alias_collision_fails_loud(sl_gap):
    sl_gap.load(
        yaml.safe_load(
            """
metrics:
  - name: d1_off
    type: derived
    type_params:
      expr: rev_filled - prev
      metrics:
        - {name: rev_filled, alias: prev, offset_window: 1 month}
  - name: d2_off
    type: derived
    type_params:
      expr: rev_filled + prev
      metrics:
        - {name: rev_filled, alias: prev, offset_window: 2 month}
"""
        )
    )
    with pytest.raises(ValueError, match="unique"):
        sl_gap.query(["d1_off", "d2_off"], group_by=["day"]).collect()


# ---------------------------------------------------------------------------
# Property: the spine + fill + offset compiler agrees with a direct pandas
# reference on arbitrary gapped bucket sets (hypothesis drives the shape).
# ---------------------------------------------------------------------------

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_buckets = st.dictionaries(
    keys=st.integers(min_value=0, max_value=25),  # day offset from Jan 1
    values=st.integers(min_value=-50, max_value=50),  # integer amount
    min_size=1,
    max_size=8,
)


@settings(max_examples=8, deadline=None)
@given(buckets=_buckets)
def test_spine_fill_offset_matches_reference(spark, buckets):
    import datetime as dt

    rows = [
        (f"r{i}", float(v), str(dt.date(2025, 1, 1) + dt.timedelta(days=k)))
        for i, (k, v) in enumerate(sorted(buckets.items()))
    ]
    p = Project(spark, name="sem_prop")
    p.source_table(
        "prop_txns",
        spark.createDataFrame(rows, ["rid", "amount", "day"]).selectExpr(
            "rid", "amount", "CAST(day AS DATE) AS day"
        ),
    )
    layer = SemanticLayer(p)
    layer.load(
        yaml.safe_load(
            """
semantic_models:
  - name: prop_sem
    model: ref('prop_txns')
    dimensions: [{name: day, type: time, grain: day}]
    measures: [{name: amt, agg: sum, expr: amount}]
metrics:
  - name: rev
    type: simple
    type_params:
      measure: {name: amt, fill_nulls_with: 0, join_to_timespine: true}
  - name: dod
    type: derived
    type_params:
      expr: rev - prev
      metrics:
        - name: rev
        - {name: rev, alias: prev, offset_window: 1 day}
"""
        )
    )
    got = {
        str(r["day"])[:10]: (r["rev"], r["dod"])
        for r in layer.query(["rev", "dod"], group_by=["day"]).collect()
    }

    # Pandas-free direct reference.
    lo, hi = min(buckets), max(buckets)
    ref_rev = {
        k: float(buckets.get(k, 0)) for k in range(lo, hi + 1)
    }
    expect = {}
    for k in range(lo, hi + 1):
        day = str(dt.date(2025, 1, 1) + dt.timedelta(days=k))
        prev = ref_rev.get(k - 1, 0.0)  # out-of-spine -> offset fill 0
        expect[day] = (ref_rev[k], ref_rev[k] - prev)
    assert got == expect


def test_saved_query_order_by_and_limit(sl):
    sl.load(
        yaml.safe_load(
            """
saved_queries:
  - name: top_seg
    query_params:
      metrics: [revenue]
      group_by: [seg]
      order_by: ["-revenue"]
      limit: 1
"""
        )
    )
    rows = sl.run_saved("top_seg").collect()
    assert len(rows) == 1
    assert rows[0]["seg"] == "a" and rows[0]["revenue"] == 30.0


# ---------------------------------------------------------------------------
# Round 10: calendar windows, nested derived/ratio inputs, NULL buckets
# ---------------------------------------------------------------------------

CAL_DOC = yaml.safe_load(
    """
metrics:
  - name: rev_1mo
    type: cumulative
    type_params: {measure: total_amount, window: 1 month}
  - name: rev_4w
    type: cumulative
    type_params: {measure: total_amount, window: 4 weeks}
  - name: double_avg
    type: derived
    type_params: {expr: "avg_txn_value * 2"}
  - name: idx_combo
    type: derived
    type_params: {expr: "double_avg + txn_count"}
"""
)


def test_cumulative_calendar_month_window(sl):
    # Buckets: 01-01=10, 01-15=20, 02-01=5, 02-02=7. '1 month' at 02-01
    # spans (01-01, 02-01]: includes 01-15 (20) + itself, EXCLUDES 01-01
    # (exactly one month back, exclusive lower bound) — the calendar
    # analog of the day path's [t-(N-1), t].
    sl.load(CAL_DOC)
    rows = {
        str(r["day"])[:10]: r["rev_1mo"]
        for r in sl.query(["rev_1mo"], group_by=["day"]).collect()
    }
    assert rows == {
        "2025-01-01": 10.0,
        "2025-01-15": 30.0,
        "2025-02-01": 25.0,
        "2025-02-02": 32.0,
    }


def test_cumulative_week_window_is_fixed_length(sl):
    # '4 weeks' = 28 days fixed: at 02-01, [01-05 .. 02-01] excludes
    # 01-01 (31 days back) but includes 01-15.
    sl.load(CAL_DOC)
    rows = {
        str(r["day"])[:10]: r["rev_4w"]
        for r in sl.query(["rev_4w"], group_by=["day"]).collect()
    }
    assert rows == {
        "2025-01-01": 10.0,
        "2025-01-15": 30.0,
        "2025-02-01": 25.0,
        "2025-02-02": 32.0,
    }


def test_derived_over_ratio_and_derived_over_derived(sl):
    sl.load(CAL_DOC)
    rows = sl.query(
        ["double_avg", "idx_combo"], group_by=["seg"]
    ).collect()
    got = {r["seg"]: (r["double_avg"], r["idx_combo"]) for r in rows}
    # seg a: avg = 30/2 = 15 -> double 30, combo 32; seg b: 6/2*2+2 ... avg=6 double=12 combo=14
    assert got == {"a": (30.0, 32.0), "b": (12.0, 14.0)}


def test_metric_cycle_fails_loud(sl):
    sl.load(
        yaml.safe_load(
            """
metrics:
  - {name: loop_a, type: derived, type_params: {expr: "loop_b + 1"}}
  - {name: loop_b, type: derived, type_params: {expr: "loop_a + 1"}}
"""
        )
    )
    with pytest.raises(ValueError, match="cycle"):
        sl.query(["loop_a"], group_by=["seg"]).collect()


def test_hour_grain_cumulative_orders_by_bucket_not_day(spark):
    # Two buckets in the SAME day at hour grain: epoch-day ordering would
    # tie them and make running totals nondeterministic.
    p = Project(spark, name="sem_hour")
    p.source_table(
        "hr_txns",
        spark.createDataFrame(
            [(1.0, "2025-01-01 03:00:00"), (2.0, "2025-01-01 07:00:00"),
             (4.0, "2025-01-02 01:00:00")],
            ["amount", "ts"],
        ).selectExpr("amount", "CAST(ts AS TIMESTAMP) AS ts"),
    )
    layer = SemanticLayer(p)
    layer.load(
        yaml.safe_load(
            """
semantic_models:
  - name: hr
    model: ref('hr_txns')
    dimensions:
      - {name: ts, type: time, grain: hour}
    measures:
      - {name: amt, agg: sum, expr: amount}
metrics:
  - {name: cum_amt, type: cumulative, type_params: {measure: amt}}
"""
        )
    )
    rows = {
        str(r["ts"]): r["cum_amt"]
        for r in layer.query(["cum_amt"], group_by=["ts"]).collect()
    }
    assert rows == {
        "2025-01-01 03:00:00": 1.0,
        "2025-01-01 07:00:00": 3.0,
        "2025-01-02 01:00:00": 7.0,
    }


def test_timespine_keeps_null_time_buckets(spark):
    # A NULL time bucket is a real group (eqNullSafe dim semantics); the
    # spine join must union it back, not silently drop it.
    p = Project(spark, name="sem_nullb")
    p.source_table(
        "nb_txns",
        spark.createDataFrame(
            [(10.0, "2025-01-01"), (5.0, "2025-03-01"), (2.0, None)],
            ["amount", "day"],
        ).selectExpr("amount", "CAST(day AS DATE) AS day"),
    )
    layer = SemanticLayer(p)
    layer.load(
        yaml.safe_load(
            """
semantic_models:
  - name: nb
    model: ref('nb_txns')
    dimensions:
      - {name: day, type: time, grain: month}
    measures:
      - {name: amt, agg: sum, expr: amount}
metrics:
  - name: rev_spined
    type: simple
    type_params:
      measure: {name: amt, fill_nulls_with: 0, join_to_timespine: true}
"""
        )
    )
    rows = {
        (str(r["day"])[:7] if r["day"] is not None else None): r["rev_spined"]
        for r in layer.query(["rev_spined"], group_by=["day"]).collect()
    }
    assert rows == {
        "2025-01": 10.0,
        "2025-02": 0.0,
        "2025-03": 5.0,
        None: 2.0,
    }


def test_conversion_reachable_through_derived(sl_events):
    sl_events.load(
        yaml.safe_load(
            """
metrics:
  - name: conv_pct
    type: derived
    type_params: {expr: "visit_to_buy_7d * 100"}
"""
        )
    )
    base = sl_events.query(["visit_to_buy_7d"]).collect()[0]["visit_to_buy_7d"]
    got = sl_events.query(["conv_pct"]).collect()[0]["conv_pct"]
    assert got == pytest.approx(base * 100)


def test_derived_input_filter_is_local_to_the_input(sl):
    # MetricFlow input filters: the filter restricts THAT input's rows
    # only — other uses of the same metric in the query are untouched.
    sl.load(
        yaml.safe_load(
            """
metrics:
  - name: seg_a_share
    type: derived
    type_params:
      expr: "a_rev / revenue"
      metrics:
        - {name: revenue}
        - {name: revenue, alias: a_rev, filter: "seg = 'a'"}
"""
        )
    )
    row = sl.query(["seg_a_share", "revenue"]).collect()[0]
    assert row["revenue"] == 42.0  # unfiltered use unaffected
    assert row["seg_a_share"] == pytest.approx(30.0 / 42.0)


def test_derived_input_filter_on_ratio_filters_both_legs(sl):
    sl.load(
        yaml.safe_load(
            """
metrics:
  - name: big_aov_x2
    type: derived
    type_params:
      expr: "aov_f * 2"
      metrics:
        - {name: avg_txn_value, alias: aov_f, filter: "amount >= 7"}
"""
        )
    )
    got = sl.query(["big_aov_x2"]).collect()[0]["big_aov_x2"]
    # amounts >= 7: 10, 20, 7 -> sum 37 over count 3, then * 2.
    assert got == pytest.approx((37.0 / 3.0) * 2)


def test_derived_input_filter_combines_with_metric_filter(sl):
    # The input filter ANDs into the referenced metric's own filter.
    sl.load(
        yaml.safe_load(
            """
metrics:
  - name: big_a_rev
    type: derived
    type_params:
      expr: "x"
      metrics:
        - {name: big_revenue, alias: x, filter: "seg = 'a'"}
"""
        )
    )
    got = sl.query(["big_a_rev"]).collect()[0]["big_a_rev"]
    assert got == 30.0  # big_revenue (amount>=10) AND seg='a': 10+20


def test_derived_input_filter_on_derived_fails_loud(sl):
    sl.load(
        yaml.safe_load(
            """
metrics:
  - name: bad_fd
    type: derived
    type_params:
      expr: "y"
      metrics:
        - {name: revenue_per_seg, alias: y, filter: "seg = 'a'"}
"""
        )
    )
    with pytest.raises(ValueError, match="not.*supported|filter"):
        sl.query(["bad_fd"]).collect()


MULTIHOP_DOC = yaml.safe_load(
    """
semantic_models:
  - name: mh_txns
    model: ref('mh_txns')
    entities:
      - {name: txn, type: primary, expr: txn_id}
      - {name: account, type: foreign, expr: account_id}
    measures:
      - {name: amt, agg: sum, expr: amount}
  - name: mh_accounts
    model: ref('mh_accounts')
    entities:
      - {name: account, type: primary, expr: account_id}
      - {name: org, type: foreign, expr: org_id}
    dimensions:
      - {name: tier, type: categorical}
  - name: mh_orgs
    model: ref('mh_orgs')
    entities:
      - {name: org, type: primary, expr: org_id}
    dimensions:
      - {name: org_region, type: categorical}
metrics:
  - {name: spend, type: simple, measure: amt}
"""
)


@pytest.fixture(scope="module")
def sl_multihop(spark):
    p = Project(spark, name="sem_mh")
    p.source_table(
        "mh_txns",
        spark.createDataFrame(
            [(1, 10, 5.0), (2, 10, 7.0), (3, 20, 1.0), (4, 30, 2.0)],
            ["txn_id", "account_id", "amount"],
        ),
    )
    p.source_table(
        "mh_accounts",
        spark.createDataFrame(
            [(10, 100, "gold"), (20, 100, "basic"), (30, 200, "gold")],
            ["account_id", "org_id", "tier"],
        ),
    )
    p.source_table(
        "mh_orgs",
        spark.createDataFrame(
            [(100, "emea"), (200, "apac")], ["org_id", "org_region"]
        ),
    )
    layer = SemanticLayer(p)
    layer.load(MULTIHOP_DOC)
    return layer


def test_multihop_entity_chain_dim(sl_multihop):
    # txns -> accounts -> orgs: two foreign-entity hops to org_region.
    rows = {
        r["account__org__org_region"]: r["spend"]
        for r in sl_multihop.query(
            ["spend"], group_by=["account__org__org_region"]
        ).collect()
    }
    assert rows == {"emea": 13.0, "apac": 2.0}


def test_multihop_mixes_with_single_hop_and_where(sl_multihop):
    rows = {
        (r["account__tier"], r["account__org__org_region"]): r["spend"]
        for r in sl_multihop.query(
            ["spend"],
            group_by=["account__tier", "account__org__org_region"],
            where="account__tier = 'gold'",
        ).collect()
    }
    assert rows == {("gold", "emea"): 12.0, ("gold", "apac"): 2.0}


def test_multihop_unknown_tail_fails_with_chain(sl_multihop):
    with pytest.raises(KeyError, match="account__org"):
        sl_multihop.query(
            ["spend"], group_by=["account__org__nope"]
        ).collect()


def test_filter_templates_render_and_autojoin(sl_star):
    # MetricFlow Jinja-style filter templates: Dimension('entity__dim')
    # AUTO-JOINS the chain even though group_by does not request it.
    rows = {
        r["status"]: r["order_revenue"]
        for r in sl_star.query(
            ["order_revenue"],
            group_by=["status"],
            where="{{ Dimension('customer__region') }} = 'emea'",
        ).collect()
    }
    # emea customer 10 owns orders 1 (open, 5.0) and 2 (done, 7.0);
    # apac and customerless orders are filtered.
    assert rows == {"open": 5.0, "done": 7.0}


def test_filter_template_in_metric_filter(sl_star):
    sl_star.load(
        yaml.safe_load(
            """
metrics:
  - name: emea_revenue
    type: simple
    measure: order_total
    filter: "{{ Dimension('customer__region') }} = 'emea'"
"""
        )
    )
    both = sl_star.query(["order_revenue", "emea_revenue"]).collect()[0]
    assert both["order_revenue"] == 36.0
    assert both["emea_revenue"] == 12.0


def test_time_dimension_and_local_dimension_templates(sl):
    rows = sl.query(
        ["revenue"],
        group_by=["seg"],
        where="{{ TimeDimension('day', 'month') }} = DATE '2025-01-01'",
    ).collect()
    assert {r["seg"]: r["revenue"] for r in rows} == {"a": 30.0}
    n = sl.query(
        ["txn_count"], where="{{ Dimension('seg') }} = 'b'"
    ).collect()[0]["txn_count"]
    assert n == 2


def test_multihop_chain_is_two_pruned_joins(sl_multihop):
    # orders->accounts->orgs: the optimized plan carries exactly the two
    # chain joins (no extra join per requested column), and every hop's
    # project is pruned to (pk + what the next hop needs + the dim).
    df = sl_multihop.query(["spend"], group_by=["account__org__org_region"])
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Join") == 2, plan
    hop = next(l for l in plan.splitlines() if "AS __pk_account" in l)
    assert "tier" not in hop, hop  # unrequested dim never ships


# ---------------------------------------------------------------------------
# Distributional measure aggs (round 11): sum_boolean / median / percentile
# ---------------------------------------------------------------------------

DIST_DOC = yaml.safe_load(
    """
semantic_models:
  - name: txns
    model: ref('txns_model')
    dimensions:
      - {name: seg, type: categorical}
      - {name: day, type: time, grain: day}
    measures:
      - {name: n_big, agg: sum_boolean, expr: amount >= 10}
      - {name: med_amount, agg: median, expr: amount}
      - name: p50_amount
        agg: percentile
        expr: amount
        agg_params: {percentile: 0.5}
      - name: p50_amount_disc
        agg: percentile
        expr: amount
        agg_params: {percentile: 0.5, use_discrete_percentile: true}
      - name: p50_amount_approx
        agg: percentile
        expr: amount
        agg_params: {percentile: 0.5, use_approximate_percentile: true}
      - name: p_bad
        agg: percentile
        expr: amount
metrics:
  - {name: big_txns, type: simple, measure: n_big}
  - {name: med_txn, type: simple, measure: med_amount}
  - {name: p50_txn, type: simple, measure: p50_amount}
  - {name: p50_txn_disc, type: simple, measure: p50_amount_disc}
  - {name: p50_txn_approx, type: simple, measure: p50_amount_approx}
  - {name: bad_pct, type: simple, measure: p_bad}
  - {name: cum_big_txns, type: cumulative, measure: n_big}
  - {name: cum_med_txn, type: cumulative, measure: med_amount}
metrics_aux: []
"""
)


@pytest.fixture(scope="module")
def dist_sl(spark):
    p = Project(spark, name="sem_dist")
    p.source_table(
        "txns_model",
        spark.createDataFrame(
            [
                (1, "a", 10.0, "2025-01-01"),
                (2, "a", 20.0, "2025-01-15"),
                (3, "a", 30.0, "2025-01-20"),
                (4, "b", 5.0, "2025-02-01"),
                (5, "b", 7.0, "2025-02-02"),
                (6, "b", 40.0, "2025-02-03"),
                (7, "b", 2.0, "2025-02-04"),
            ],
            ["txn_id", "seg", "amount", "day"],
        ).selectExpr("txn_id", "seg", "amount", "CAST(day AS DATE) AS day"),
    )
    layer = SemanticLayer(p)
    layer.load(DIST_DOC)
    return layer


def test_distributional_aggs_by_dimension(dist_sl):
    rows = {
        r["seg"]: r
        for r in dist_sl.query(
            ["big_txns", "med_txn", "p50_txn", "p50_txn_disc"],
            group_by=["seg"],
        ).collect()
    }
    # a: [10, 20, 30] — all >= 10; odd count, median = p50 = 20
    assert rows["a"]["big_txns"] == 3
    assert rows["a"]["med_txn"] == 20.0
    assert rows["a"]["p50_txn"] == 20.0
    assert rows["a"]["p50_txn_disc"] == 20.0
    # b: [2, 5, 7, 40] — one >= 10; even count: median/cont interpolate to
    # 6.0, DISCRETE picks the element at ceil(0.5*4) = index 2 -> 5.0
    assert rows["b"]["big_txns"] == 1
    assert rows["b"]["med_txn"] == 6.0
    assert rows["b"]["p50_txn"] == 6.0
    assert rows["b"]["p50_txn_disc"] == 5.0


def test_approximate_percentile_runs(dist_sl):
    # Approximate path: bounded-memory sketch, value within the group's
    # range (exactness is NOT contracted — that's the point of the flag).
    row = dist_sl.query(["p50_txn_approx"]).collect()[0]
    assert 2.0 <= row["p50_txn_approx"] <= 40.0


def test_percentile_requires_agg_params(dist_sl):
    with pytest.raises(ValueError, match="agg_params.percentile"):
        dist_sl.query(["bad_pct"]).collect()


def test_cumulative_sum_boolean_decomposes(dist_sl):
    rows = {
        str(r["day__month"])[:7]: r["cum_big_txns"]
        for r in dist_sl.query(
            ["cum_big_txns"], group_by=["day__month"]
        ).collect()
    }
    assert rows == {"2025-01": 3, "2025-02": 4}


def test_cumulative_median_rejected(dist_sl):
    with pytest.raises(ValueError, match="does not decompose"):
        dist_sl.query(["cum_med_txn"], group_by=["day__month"]).collect()


# ---------------------------------------------------------------------------
# Property: percentile measure rules vs independent references (round 11).
# Discrete = sorted values at 1-based ceil(p*n) (percentile_disc / DuckDB
# quantile_disc); continuous = linear interpolation at rank p*(n-1)
# (percentile_cont / numpy 'linear'). Three-way: Spark agg vs pure-Python
# vs DuckDB, on arbitrary value multisets.
# ---------------------------------------------------------------------------

_pct_vals = st.lists(
    st.integers(min_value=-1000, max_value=1000).map(lambda v: v / 4.0),
    min_size=1,
    max_size=12,
)


@settings(max_examples=8, deadline=None)
@given(vals=_pct_vals, pnum=st.integers(min_value=1, max_value=19))
def test_percentile_rules_match_references(spark, vals, pnum):
    import math

    import duckdb

    from dbt_analytics_spark.plans.semantics import Measure, _measure_agg

    p = pnum / 20.0
    df = spark.createDataFrame([(v,) for v in vals], ["x"])
    disc = Measure("d", "percentile", "x",
                   agg_params={"percentile": p, "use_discrete_percentile": True})
    cont = Measure("c", "percentile", "x", agg_params={"percentile": p})
    med = Measure("m", "median", "x")
    from pyspark.sql import functions as F

    row = df.agg(
        _measure_agg(disc, F.col("x")).alias("d"),
        _measure_agg(cont, F.col("x")).alias("c"),
        _measure_agg(med, F.col("x")).alias("m"),
    ).collect()[0]

    s = sorted(vals)
    n = len(s)
    ref_disc = s[max(1, math.ceil(p * n)) - 1]
    rank = p * (n - 1)
    lo, frac = int(rank // 1), rank % 1
    ref_cont = s[lo] if frac == 0 else s[lo] + (s[lo + 1] - s[lo]) * frac
    assert row["d"] == ref_disc
    assert row["c"] == pytest.approx(ref_cont, abs=1e-9)

    con = duckdb.connect()
    con.execute("CREATE TABLE t(x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in vals])
    dd, dc, dm = con.execute(
        f"SELECT quantile_disc(x, {p}), quantile_cont(x, {p}), median(x) FROM t"
    ).fetchone()
    assert row["d"] == dd
    assert row["c"] == pytest.approx(dc, abs=1e-9)
    assert row["m"] == pytest.approx(dm, abs=1e-9)


# ---------------------------------------------------------------------------
# Expr tokenizer: metric names inside string literals or used as function
# names are NOT metric references (r11 ADVICE — the regex walk used to pull
# string-literal collisions into the offset-join set, and substitution
# corrupted literals).
# ---------------------------------------------------------------------------

TOKEN_DOC = yaml.safe_load(
    """
semantic_models:
  - name: tok_txns
    model: ref('tok_txns')
    dimensions:
      - {name: seg, type: categorical}
      - {name: day, type: time, grain: month}
    measures:
      - {name: amt, agg: sum, expr: amount}
metrics:
  - name: rev_tok
    type: simple
    measure: amt
  - name: floor
    type: simple
    type_params:
      measure: {name: amt, fill_nulls_with: 0}
  - name: mom_tok
    type: derived
    type_params:
      expr: rev_tok - prev_tok
      metrics:
        - name: rev_tok
        - {name: rev_tok, alias: prev_tok, offset_window: 1 month}
  - name: lit_trap
    type: derived
    type_params:
      expr: rev_tok + length('mom_tok') * 0
  - name: call_trap
    type: derived
    type_params:
      expr: floor(rev_tok * 1.0) + floor
"""
)


@pytest.fixture(scope="module")
def sl_tok(spark):
    p = Project(spark, name="sem_tok")
    p.source_table(
        "tok_txns",
        spark.createDataFrame(
            [("a", 10.5, "2025-01-05"), ("a", 4.25, "2025-02-20")],
            ["seg", "amount", "day"],
        ).selectExpr("seg", "amount", "CAST(day AS DATE) AS day"),
    )
    layer = SemanticLayer(p)
    layer.load(TOKEN_DOC)
    return layer


def test_metric_name_in_string_literal_is_not_a_reference(sl_tok):
    # 'mom_tok' appears only inside a string literal: the derived-with-
    # offset metric must NOT be pulled into the offset join set (the old
    # walk raised AnalysisException on its never-computed __m_ columns),
    # and substitution must leave the literal intact.
    rows = sl_tok.query(["lit_trap"], group_by=["day"]).collect()
    got = {str(r["day"])[:7]: r["lit_trap"] for r in rows}
    assert got == {"2025-01": 10.5, "2025-02": 4.25}


def test_metric_named_like_sql_function(sl_tok):
    # floor( ... ) is the SQL function; the bare trailing floor is the
    # metric. floor(10.5)=10 + metric 10.5 = 20.5.
    rows = sl_tok.query(["call_trap"], group_by=["day"]).collect()
    got = {str(r["day"])[:7]: r["call_trap"] for r in rows}
    assert got == {"2025-01": 20.5, "2025-02": 8.25}


def test_offset_metric_still_walked_when_actually_referenced(sl_tok):
    # Control: a REAL bare reference to the offset-bearing metric still
    # compiles (the tokenizer must not over-prune).
    rows = sl_tok.query(["mom_tok"], group_by=["day"]).collect()
    got = {str(r["day"])[:7]: r["mom_tok"] for r in rows}
    assert got["2025-02"] == pytest.approx(4.25 - 10.5)


# ---------------------------------------------------------------------------
# Metric() filter templates (r12): post-aggregation predicates on the
# compiled metric frame.
# ---------------------------------------------------------------------------

METRIC_FILTER_DOC = yaml.safe_load(
    """
semantic_models:
  - name: mf_txns
    model: ref('mf_txns')
    dimensions:
      - {name: seg, type: categorical}
      - {name: day, type: time, grain: month}
    measures:
      - {name: amt, agg: sum, expr: amount}
      - {name: n, agg: count}
metrics:
  - name: mf_rev
    type: simple
    measure: amt
  - name: mf_cnt
    type: simple
    measure: n
  - name: mf_aov
    type: ratio
    type_params: {numerator: mf_rev, denominator: mf_cnt}
  - name: mf_mom
    type: derived
    type_params:
      expr: mf_rev - prev
      metrics:
        - {name: mf_rev, alias: prev, offset_window: 1 month}
"""
)


@pytest.fixture(scope="module")
def sl_mf(spark):
    p = Project(spark, name="sem_mf")
    p.source_table(
        "mf_txns",
        spark.createDataFrame(
            [
                ("a", 10.0, "2025-01-05"),
                ("a", 30.0, "2025-01-07"),
                ("b", 4.0, "2025-01-09"),
                ("b", 2.0, "2025-01-11"),
            ],
            ["seg", "amount", "day"],
        ).selectExpr("seg", "amount", "CAST(day AS DATE) AS day"),
    )
    layer = SemanticLayer(p)
    layer.load(METRIC_FILTER_DOC)
    return layer


def test_metric_filter_is_post_aggregation(sl_mf):
    # avg per seg: a = 20, b = 3. Filter on the RATIO metric's value
    # keeps seg a only; the filter metric is computed but never output.
    rows = sl_mf.query(
        ["mf_rev"],
        group_by=["seg"],
        where="{{ Metric('mf_aov') }} > 10",
    ).collect()
    assert len(rows) == 1
    assert rows[0]["seg"] == "a" and rows[0]["mf_rev"] == 40.0
    assert "mf_aov" not in rows[0].asDict()


def test_metric_filter_mixes_with_groupby_dimension(sl_mf):
    rows = sl_mf.query(
        ["mf_cnt"],
        group_by=["seg"],
        where="{{ Metric('mf_rev') }} < 100 AND {{ Dimension('seg') }} <> 'b'",
    ).collect()
    assert [(r["seg"], r["mf_cnt"]) for r in rows] == [("a", 2)]


def test_metric_filter_rejects_offset_metrics(sl_mf):
    with pytest.raises(ValueError, match="offset"):
        sl_mf.query(
            ["mf_rev"],
            group_by=["day"],
            where="{{ Metric('mf_mom') }} > 0",
        )


def test_metric_filter_rejects_non_groupby_dimension(sl_mf):
    with pytest.raises(ValueError, match="group_by"):
        sl_mf.query(
            ["mf_rev"],
            group_by=["seg"],
            where="{{ Metric('mf_aov') }} > 0 AND {{ Dimension('day') }} IS NOT NULL",
        )


def test_metric_template_in_pre_agg_metric_filter_still_rejected(sl_mf):
    doc = yaml.safe_load(
        """
metrics:
  - name: mf_bad
    type: simple
    measure: amt
    filter: "{{ Metric('mf_rev') }} > 0"
"""
    )
    sl_mf.load({"metrics": doc["metrics"]})
    with pytest.raises(ValueError, match="pre-aggregation"):
        sl_mf.query(["mf_bad"], group_by=["seg"])


def test_unknown_metric_in_filter_errors(sl_mf):
    with pytest.raises(KeyError, match="nope"):
        sl_mf.query(
            ["mf_rev"], group_by=["seg"], where="{{ Metric('nope') }} > 0"
        )


# ---------------------------------------------------------------------------
# Aggregate awareness: engine-maintained rollups (Rollup +
# materialize_rollup + query() routing). Partial sums/counts/min/max
# re-aggregate exactly, so routed answers must be BIT-identical to the
# fact-grain answers; anything non-decomposable must fall back silently.
# ---------------------------------------------------------------------------


@pytest.fixture()
def sl_ru(spark):
    p = Project(spark, name="sem_ru")
    p.source_table(
        "txns_model",
        spark.createDataFrame(
            [
                (1, "a", 10.0, "2025-01-01"),
                (2, "a", 20.0, "2025-01-15"),
                (3, "b", 5.0, "2025-02-01"),
                (4, "b", 7.0, "2025-02-02"),
                (5, "a", 3.0, "2025-02-20"),
            ],
            ["txn_id", "seg", "amount", "day"],
        ).selectExpr("txn_id", "seg", "amount", "CAST(day AS DATE) AS day"),
    )
    layer = SemanticLayer(p)
    layer.load(DOC)
    yield layer
    spark.sql(f"DROP TABLE IF EXISTS {p.qualified('ru1__rollup')}")


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_rollup_routes_and_matches_fact(sl_ru):
    q = dict(
        metrics=["revenue", "txn_count", "avg_txn_value"],
        group_by=["seg", "day__month"],
    )
    fact = _rows(sl_ru.query(**q))
    assert sl_ru.last_rollup_used is None
    sl_ru.materialize_rollup("ru1", "txns", ["seg", "day__month"])
    routed = _rows(sl_ru.query(**q))
    assert sl_ru.last_rollup_used == "ru1"
    assert routed == fact
    # coarser grain derives from the stored month buckets
    fact_y = _rows(sl_ru.query(["revenue"], group_by=["day__year"]))
    assert sl_ru.last_rollup_used == "ru1"  # still routed
    assert fact_y == _rows(sl_ru.query(["revenue"], group_by=["day__year"]))


def test_rollup_plan_scans_rollup_not_fact(sl_ru):
    sl_ru.materialize_rollup("ru1", "txns", ["seg", "day__month"])
    df = sl_ru.query(["revenue"], group_by=["seg"])
    assert sl_ru.last_rollup_used == "ru1"
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "ru1__rollup" in plan
    assert "txns_model" not in plan


def test_rollup_fallbacks(sl_ru):
    sl_ru.materialize_rollup("ru1", "txns", ["seg", "day__month"])
    # finer grain than stored: fact
    sl_ru.query(["revenue"], group_by=["day__day"])
    assert sl_ru.last_rollup_used is None
    # row-level where: fact
    sl_ru.query(["revenue"], group_by=["seg"], where="amount > 1")
    assert sl_ru.last_rollup_used is None
    # pre-agg filtered metric: fact
    sl_ru.query(["big_revenue"], group_by=["seg"])
    assert sl_ru.last_rollup_used is None
    # non-decomposable measure (count_distinct): fact
    sl_ru.load(
        {"metrics": [{"name": "seg_count", "type": "simple",
                      "measure": "n_segs"}]}
    )
    assert sl_ru.query(["seg_count"], group_by=["day__month"]).count() > 0
    assert sl_ru.last_rollup_used is None
    # eligible again afterwards (routing is per query)
    sl_ru.query(["revenue"], group_by=["seg"])
    assert sl_ru.last_rollup_used == "ru1"


def test_rollup_week_not_derivable_from_month(sl_ru):
    sl_ru.materialize_rollup("ru1", "txns", ["seg", "day__month"])
    sl_ru.query(["revenue"], group_by=["day__week"])
    assert sl_ru.last_rollup_used is None


def test_rollup_rejects_uncovered_dimension(sl_ru):
    sl_ru.materialize_rollup("ru1", "txns", ["day__month"])
    sl_ru.query(["revenue"], group_by=["seg"])
    assert sl_ru.last_rollup_used is None

# ---------------------------------------------------------------------------
# Rollup staleness guard (plans/fingerprint.py): a rollup built before an
# append/rebuild of the fact, or before a YAML definition change, must
# never be routed to — the routed answer would be silently WRONG. Data
# freshness is verified per query (file-listing digest), definitions at
# discover AND route time.
# ---------------------------------------------------------------------------


_TXN_COLS = ["txn_id", "seg", "amount", "day"]


def _txn_df(spark, rows):
    return spark.createDataFrame(rows, _TXN_COLS).selectExpr(
        "txn_id", "seg", "amount", "CAST(day AS DATE) AS day"
    )


def _file_layer(spark, path, name="sem_fp"):
    p = Project(spark, name=name)
    p.source_table("txns_model", spark.read.parquet(path))
    layer = SemanticLayer(p)
    layer.load(DOC)
    return p, layer


@pytest.fixture()
def fact_path(spark, tmp_path):
    path = str(tmp_path / "txns")
    _txn_df(
        spark,
        [
            (1, "a", 10.0, "2025-01-01"),
            (2, "a", 20.0, "2025-01-15"),
            (3, "b", 5.0, "2025-02-01"),
        ],
    ).write.parquet(path)
    yield path
    spark.sql("DROP TABLE IF EXISTS rus__rollup")
    # an EXTERNAL registration's drop keeps the files; clear them so the
    # next test's CTAS never trips the orphan heal gate
    import shutil

    wh = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")
    shutil.rmtree(os.path.join(wh, "rus__rollup"), ignore_errors=True)


def test_rollup_stale_after_fact_append_falls_back(spark, fact_path):
    _, lay1 = _file_layer(spark, fact_path)
    lay1.materialize_rollup("rus", "txns", ["seg"])
    assert _rows(lay1.query(["revenue"], group_by=["seg"])) == [
        ("a", 30.0),
        ("b", 5.0),
    ]
    assert lay1.last_rollup_used == "rus"
    # the fact grows AFTER the rollup was built (incremental append)
    _txn_df(spark, [(4, "b", 7.0, "2025-02-02")]).write.mode(
        "append"
    ).parquet(fact_path)
    # a new session discovers the rollup but must NOT route to it
    _, lay2 = _file_layer(spark, fact_path)
    assert lay2.discover_rollups() == 1
    with pytest.warns(UserWarning, match="stale"):
        rows = _rows(lay2.query(["revenue"], group_by=["seg"]))
    assert lay2.last_rollup_used is None
    assert rows == [("a", 30.0), ("b", 12.0)]  # includes the appended row


def test_rollup_same_session_append_detected(spark, fact_path, tmp_path):
    """Even the BUILDING session's own registry entry is re-verified per
    query: the fingerprint check runs at route time, not registration."""
    _, lay = _file_layer(spark, fact_path)
    lay.materialize_rollup("rus", "txns", ["seg"])
    _txn_df(spark, [(4, "b", 7.0, "2025-02-02")]).write.mode(
        "append"
    ).parquet(fact_path)
    # re-resolve the source so the fact df sees the new file (a cached
    # file index would hide the append from BOTH paths equally)
    p2, lay2 = _file_layer(spark, fact_path)
    lay2.rollups = lay.rollups  # same in-memory registration
    with pytest.warns(UserWarning, match="stale"):
        rows = _rows(lay2.query(["revenue"], group_by=["seg"]))
    assert lay2.last_rollup_used is None
    assert rows == [("a", 30.0), ("b", 12.0)]


def test_rollup_rebuild_after_append_routes_again(spark, fact_path):
    _, lay1 = _file_layer(spark, fact_path)
    lay1.materialize_rollup("rus", "txns", ["seg"])
    _txn_df(spark, [(4, "b", 7.0, "2025-02-02")]).write.mode(
        "append"
    ).parquet(fact_path)
    _, lay2 = _file_layer(spark, fact_path)
    # reuse_existing must detect the stale stamp and REBUILD, not reuse
    lay2.materialize_rollup("rus", "txns", ["seg"], reuse_existing=True)
    rows = _rows(lay2.query(["revenue"], group_by=["seg"]))
    assert lay2.last_rollup_used == "rus"
    assert rows == [("a", 30.0), ("b", 12.0)]


def test_rollup_reuse_existing_still_reuses_when_fresh(spark, fact_path):
    _, lay1 = _file_layer(spark, fact_path)
    r1 = lay1.materialize_rollup("rus", "txns", ["seg"])
    _, lay2 = _file_layer(spark, fact_path)
    r2 = lay2.materialize_rollup("rus", "txns", ["seg"], reuse_existing=True)
    assert r2.fp_data == r1.fp_data
    rows = _rows(lay2.query(["revenue"], group_by=["seg"]))
    assert lay2.last_rollup_used == "rus"
    assert rows == [("a", 30.0), ("b", 5.0)]


def test_rollup_defs_drift_skipped_at_discover(spark, fact_path):
    _, lay1 = _file_layer(spark, fact_path)
    lay1.materialize_rollup("rus", "txns", ["seg"])
    # a new session whose YAML changed the measure's expr: the stored
    # partials no longer mean what the query would assume
    p2 = Project(spark, name="sem_fp2")
    p2.source_table("txns_model", spark.read.parquet(fact_path))
    lay2 = SemanticLayer(p2)
    import copy

    doc = copy.deepcopy(DOC)
    for ms in doc["semantic_models"][0]["measures"]:
        if ms["name"] == "total_amount":
            ms["expr"] = "amount * 2"
    lay2.load(doc)
    with pytest.warns(UserWarning, match="definitions changed"):
        assert lay2.discover_rollups() == 0
    rows = _rows(lay2.query(["revenue"], group_by=["seg"]))
    assert lay2.last_rollup_used is None
    assert rows == [("a", 60.0), ("b", 10.0)]  # fact grain, new defs


def test_rollup_defs_drift_same_session_route_refused(spark, fact_path):
    _, lay = _file_layer(spark, fact_path)
    lay.materialize_rollup("rus", "txns", ["seg"])
    assert _rows(lay.query(["revenue"], group_by=["seg"]))
    assert lay.last_rollup_used == "rus"
    # redefine the measure IN-SESSION (sl.load is additive): route must
    # refuse even though the registry entry predates the change
    import copy

    doc = copy.deepcopy(DOC)
    for ms in doc["semantic_models"][0]["measures"]:
        if ms["name"] == "total_amount":
            ms["expr"] = "amount * 2"
    lay.load(doc)
    rows = _rows(lay.query(["revenue"], group_by=["seg"]))
    assert lay.last_rollup_used is None
    assert rows == [("a", 60.0), ("b", 10.0)]


def _orphan_rollup_files(spark, fact_path, drop_success: bool):
    """Build a rollup, then simulate a dead session: catalog entry gone,
    files still in the warehouse (optionally without the _SUCCESS marker,
    i.e. a crashed partial write)."""
    import os
    import shutil

    _, lay1 = _file_layer(spark, fact_path)
    r = lay1.materialize_rollup("rus", "txns", ["seg"])
    wh = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")
    tdir = os.path.join(wh, r.table.lower())
    keep = tdir + ".keep"
    shutil.copytree(tdir, keep)
    spark.sql(f"DROP TABLE {r.table}")  # managed drop removes the files
    shutil.move(keep, tdir)
    if drop_success:
        os.remove(os.path.join(tdir, "_SUCCESS"))
    return tdir


def test_rollup_files_reuse_requires_success_marker(spark, fact_path):
    """A crashed write (no _SUCCESS) must never re-register as a table —
    it gets REBUILT (through the orphan heal) instead."""
    _orphan_rollup_files(spark, fact_path, drop_success=True)
    spark.conf.set("spark.dbt_analytics.orphanHealMinAgeSeconds", "0")
    try:
        _, lay2 = _file_layer(spark, fact_path)
        lay2.materialize_rollup("rus", "txns", ["seg"], reuse_existing=True)
        rows = _rows(lay2.query(["revenue"], group_by=["seg"]))
        assert lay2.last_rollup_used == "rus"
        assert rows == [("a", 30.0), ("b", 5.0)]
    finally:
        spark.conf.unset("spark.dbt_analytics.orphanHealMinAgeSeconds")


def test_rollup_files_reuse_registers_without_rebuild(spark, fact_path):
    """Complete files + matching sidecar spec: a new session re-registers
    them as an external table — zero rebuild (same part files after)."""
    import os

    tdir = _orphan_rollup_files(spark, fact_path, drop_success=False)
    before = sorted(os.listdir(tdir))
    _, lay2 = _file_layer(spark, fact_path)
    lay2.materialize_rollup("rus", "txns", ["seg"], reuse_existing=True)
    assert sorted(os.listdir(tdir)) == before  # reused, not rewritten
    rows = _rows(lay2.query(["revenue"], group_by=["seg"]))
    assert lay2.last_rollup_used == "rus"
    assert rows == [("a", 30.0), ("b", 5.0)]


def test_rollup_files_reuse_rejects_spec_mismatch(spark, fact_path):
    """Old files under the same rollup name with a DIFFERENT stored spec
    (e.g. a dims change) must be rebuilt, never read through the new
    schema as NULLs."""
    _orphan_rollup_files(spark, fact_path, drop_success=False)
    spark.conf.set("spark.dbt_analytics.orphanHealMinAgeSeconds", "0")
    try:
        _, lay2 = _file_layer(spark, fact_path)
        # same name, different dims than the sidecar records
        lay2.materialize_rollup(
            "rus", "txns", ["seg", "day__month"], reuse_existing=True
        )
        rows = _rows(
            lay2.query(["revenue"], group_by=["seg", "day__month"])
        )
        assert lay2.last_rollup_used == "rus"
        # fixture data: (a, 2025-01)=30.0 and (b, 2025-02)=5.0
        assert [(r[0], r[2]) for r in rows] == [("a", 30.0), ("b", 5.0)]
    finally:
        spark.conf.unset("spark.dbt_analytics.orphanHealMinAgeSeconds")


def test_rollup_discovered_after_dead_session_routes(spark, fact_path):
    """The catalog is in memory, so a rollup built by one process is
    known to the next only through its warehouse files: a NEW layer's
    discovery reads the sidecar, re-registers the files and routes."""
    _orphan_rollup_files(spark, fact_path, drop_success=False)
    _, lay2 = _file_layer(spark, fact_path)
    assert lay2.discover_rollups() == 1
    rows = _rows(lay2.query(["revenue"], group_by=["seg"]))
    assert lay2.last_rollup_used == "rus"
    assert rows == [("a", 30.0), ("b", 5.0)]


def test_rollup_sidecar_write_failure_raises(spark, fact_path, monkeypatch):
    """A rollup whose sidecar cannot be written is unknown to every later
    session, so the build must fail loudly, not return normally."""

    def unwritable(*args, **kwargs):
        raise OSError("read-only warehouse")

    monkeypatch.setattr(fingerprint, "write_sidecar", unwritable)
    _, lay = _file_layer(spark, fact_path)
    with pytest.raises(OSError, match="read-only"):
        lay.materialize_rollup("rus", "txns", ["seg"])


def test_rollup_avg_measure_routes_and_matches_fact(spark, fact_path):
    """avg decomposes into (sum, non-null count) partials re-divided at
    query time — the routed answer must be IDENTICAL to the fact-grain
    F.avg, including its decimal result scale."""
    import copy

    doc = copy.deepcopy(DOC)
    doc["metrics"].append(
        {"name": "avg_val", "type": "simple", "measure": "avg_amount"}
    )
    # decimal variant too: avg's result-type cast must pin the scale
    doc["semantic_models"][0]["measures"].append(
        {
            "name": "avg_dec",
            "agg": "avg",
            "expr": "CAST(amount AS DECIMAL(18,2))",
        }
    )
    doc["metrics"].append(
        {"name": "avg_val_dec", "type": "simple", "measure": "avg_dec"}
    )
    p = Project(spark, name="sem_avg")
    p.source_table("txns_model", spark.read.parquet(fact_path))
    lay = SemanticLayer(p)
    lay.load(doc)
    q = dict(
        metrics=["avg_val", "avg_val_dec", "revenue"], group_by=["seg"]
    )
    fact_df = lay.query(**q)
    fact_schema = fact_df.schema
    fact = _rows(fact_df)
    assert lay.last_rollup_used is None
    lay.materialize_rollup("rus", "txns", ["seg"])
    routed_df = lay.query(**q)
    routed = _rows(routed_df)
    assert lay.last_rollup_used == "rus"
    assert routed == fact
    assert routed_df.schema == fact_schema  # incl. the decimal avg scale
    # nulls: avg ignores them — partial count must be non-null count
    spark.createDataFrame(
        [(9, "c", None, "2025-03-01")],
        "txn_id: bigint, seg: string, amount: double, day: string",
    ).selectExpr(
        "txn_id", "seg", "amount", "CAST(day AS DATE) AS day"
    ).write.mode("append").parquet(fact_path)
    p2 = Project(spark, name="sem_avg2")
    p2.source_table("txns_model", spark.read.parquet(fact_path))
    lay2 = SemanticLayer(p2)
    lay2.load(doc)
    lay2.materialize_rollup("rus", "txns", ["seg"], reuse_existing=True)
    fact2 = _rows(lay2.query(**q))
    assert lay2.last_rollup_used == "rus"
    lay2.rollups = {}
    assert _rows(lay2.query(**q)) == fact2


# ---------------------------------------------------------------------------
# Incremental rollup refresh (refresh_rollup): append-only sources fold
# ONLY the delta files' partials into the stored rollup — refresh cost
# scales with the delta, never the fact — and anything non-append-only
# (rewrite, definition drift, non-table relation) rebuilds. The refreshed
# table must equal a from-scratch build bit-for-bit.
# ---------------------------------------------------------------------------


@pytest.fixture()
def table_layer(spark):
    """A semantic layer whose model is backed by a catalog TABLE (the
    relation kind the append-only fast path requires)."""
    spark.sql("DROP TABLE IF EXISTS txns_model")
    _txn_df(
        spark,
        [
            (1, "a", 10.0, "2025-01-01"),
            (2, "a", 20.0, "2025-01-15"),
            (3, "b", 5.0, "2025-02-01"),
        ],
    ).write.saveAsTable("txns_model")
    p = Project(spark, name="sem_rf")
    lay = SemanticLayer(p)
    lay.load(DOC)
    lay.load(
        {"metrics": [{"name": "avg_val", "type": "simple",
                      "measure": "avg_amount"}]}
    )
    yield spark, lay
    spark.sql("DROP TABLE IF EXISTS txns_model")
    spark.sql("DROP TABLE IF EXISTS rfr__rollup")
    spark.sql("DROP TABLE IF EXISTS rfr2__rollup")


def test_refresh_noop_when_fresh(table_layer):
    spark, lay = table_layer
    lay.materialize_rollup("rfr", "txns", ["seg"])
    r = lay.refresh_rollup("rfr", "txns")
    assert lay.last_refresh_mode == "noop"
    assert r.table.endswith("rfr__rollup")


def test_refresh_incremental_append_matches_full_rebuild(table_layer):
    spark, lay = table_layer
    lay.materialize_rollup("rfr", "txns", ["seg", "day__month"])
    _txn_df(
        spark,
        [(4, "b", 7.0, "2025-02-02"), (5, "c", 2.5, "2025-03-01")],
    ).write.mode("append").saveAsTable("txns_model")
    # stale now: routing refuses until refreshed
    with pytest.warns(UserWarning, match="stale"):
        lay.query(["revenue"], group_by=["seg"]).collect()
    assert lay.last_rollup_used is None
    lay.refresh_rollup("rfr", "txns")
    assert lay.last_refresh_mode == "incremental"
    q = dict(
        metrics=["revenue", "txn_count", "avg_val"],
        group_by=["seg", "day__month"],
    )
    routed = _rows(lay.query(**q))
    assert lay.last_rollup_used == "rfr"
    # routed == fact grain (incl. the avg partial pair)
    lay2_rollups, lay.rollups = lay.rollups, {}
    fact = _rows(lay.query(**q))
    lay.rollups = lay2_rollups
    assert routed == fact
    # the refreshed table is bit-identical to a from-scratch build
    fresh = lay.materialize_rollup("rfr2", "txns", ["seg", "day__month"])
    a = _rows(spark.table("rfr__rollup"))
    b = _rows(spark.table(fresh.table))
    assert a == b


def test_refresh_incremental_twice(table_layer):
    spark, lay = table_layer
    lay.materialize_rollup("rfr", "txns", ["seg"])
    for i, amt in ((10, 1.0), (11, 2.0)):
        _txn_df(spark, [(i, "a", amt, "2025-04-01")]).write.mode(
            "append"
        ).saveAsTable("txns_model")
        lay.refresh_rollup("rfr", "txns")
        assert lay.last_refresh_mode == "incremental"
    rows = _rows(lay.query(["revenue"], group_by=["seg"]))
    assert lay.last_rollup_used == "rfr"
    assert rows == [("a", 33.0), ("b", 5.0)]


def test_refresh_rebuilds_on_source_rewrite(table_layer):
    spark, lay = table_layer
    lay.materialize_rollup("rfr", "txns", ["seg"])
    _txn_df(
        spark, [(1, "a", 1.0, "2025-01-01"), (2, "b", 2.0, "2025-01-02")]
    ).write.mode("overwrite").saveAsTable("txns_model")
    lay.refresh_rollup("rfr", "txns")
    assert lay.last_refresh_mode == "rebuild"
    rows = _rows(lay.query(["revenue"], group_by=["seg"]))
    assert lay.last_rollup_used == "rfr"
    assert rows == [("a", 1.0), ("b", 2.0)]


def test_refresh_rebuilds_for_non_table_relation(spark, fact_path):
    _, lay1 = _file_layer(spark, fact_path, name="sem_rf_v")
    lay1.materialize_rollup("rus", "txns", ["seg"])
    _txn_df(spark, [(9, "b", 1.0, "2025-03-01")]).write.mode(
        "append"
    ).parquet(fact_path)
    # new session's view of the grown path-backed (non-table) relation
    p2, lay2 = _file_layer(spark, fact_path, name="sem_rf_v2")
    assert lay2.discover_rollups() == 1
    lay2.refresh_rollup("rus", "txns")
    assert lay2.last_refresh_mode == "rebuild"  # no append-only proof
    rows = _rows(lay2.query(["revenue"], group_by=["seg"]))
    assert lay2.last_rollup_used == "rus"
    assert rows == [("a", 30.0), ("b", 6.0)]


def test_refresh_unknown_rollup_raises(table_layer):
    _, lay = table_layer
    with pytest.raises(KeyError, match="not registered"):
        lay.refresh_rollup("nope", "txns")


# Crash safety of the rollup refresh (the tests/test_layout_lifecycle.py
# cases, through the semantic layer): the route refuses and the next
# refresh rebuilds rows equal to a fresh build.


def _assert_rebuilds_like_fresh(spark, lay, dims):
    lay.refresh_rollup("rfr", "txns")
    assert lay.last_refresh_mode == "rebuild"
    lay.query(["revenue"], group_by=["seg"]).collect()
    assert lay.last_rollup_used == "rfr"
    fresh = lay.materialize_rollup("rfr2", "txns", dims)
    assert _rows(spark.table("rfr__rollup")) == _rows(spark.table(fresh.table))


def test_rollup_pending_sidecar_refuses_route_and_rebuilds(table_layer):
    spark, lay = table_layer
    r = lay.materialize_rollup("rfr", "txns", ["seg"])
    path = star_layout._warehouse_path(spark, r.table)
    spec = read_sidecar(path, star_layout.LAYOUT_SIDECAR)
    write_sidecar(
        path, {**spec, "pending": True}, star_layout.LAYOUT_SIDECAR
    )
    lay.rollups.clear()  # a later session knows only the warehouse
    assert lay.discover_rollups() == 1
    with pytest.warns(UserWarning, match="stale"):
        lay.query(["revenue"], group_by=["seg"]).collect()
    assert lay.last_rollup_used is None
    _assert_rebuilds_like_fresh(spark, lay, ["seg"])


def test_rollup_failed_fold_write_refuses_route_and_rebuilds(
    table_layer, monkeypatch
):
    spark, lay = table_layer
    dims = ["seg", "day__month"]
    r = lay.materialize_rollup("rfr", "txns", dims)
    path = star_layout._warehouse_path(spark, r.table)
    _txn_df(spark, [(4, "b", 7.0, "2025-02-02")]).write.mode(
        "append"
    ).saveAsTable("txns_model")
    # the refresh below takes the fold path, not a rebuild
    old = read_sidecar(path, star_layout.LAYOUT_SIDECAR)
    spec = lay._rollup_decl("rfr", "txns", dims)[1]
    assert star_layout._append_only_delta(old, spec) is not None

    def crash(*args):
        raise RuntimeError("injected write failure")

    with monkeypatch.context() as m:
        m.setattr(star_layout, "_write", crash)
        with pytest.raises(RuntimeError, match="injected"):
            lay.refresh_rollup("rfr", "txns")
    assert read_sidecar(path, star_layout.LAYOUT_SIDECAR) is None
    with pytest.warns(UserWarning, match="stale"):
        lay.query(["revenue"], group_by=["seg"]).collect()
    assert lay.last_rollup_used is None
    _assert_rebuilds_like_fresh(spark, lay, dims)
