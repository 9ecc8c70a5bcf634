"""Physical-plan shape assertions (the 100 TB contract): dimension joins
broadcast, filters reach the parquet scan, no accidental nested-loop joins
in equi-join queries, and the range join stays a hash join."""

from __future__ import annotations

import re

import pytest

from dbt_analytics_spark.queries import REGISTRY

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    mode = df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    return mode


def _pin_raw_path(monkeypatch):
    """Force the RAW-parquet plan for the ad-hoc star queries: j1/w3/q13
    route to the bucketed layout whenever one exists in the shared test
    warehouse (layout awareness, plans/star_layout.route), and these
    tests assert the raw plan's shape."""
    from dbt_analytics_spark.plans import star_layout

    monkeypatch.setattr(star_layout, "route", lambda *a, **k: None)


@pytest.mark.parametrize(
    "name",
    ["q3_shipping_priority", "q5_local_supplier_volume", "j1_join_agg", "j2_left_join"],
)
def test_dim_joins_broadcast(spark, name, monkeypatch):
    _pin_raw_path(monkeypatch)
    plan = _plan(REGISTRY[name][0](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan  # all dims must stay broadcast-able


@pytest.mark.parametrize(
    "name", ["q3_shipping_priority", "p2_filter_ilike", "q6_revenue_forecast"]
)
def test_filters_pushed_to_scan(spark, name):
    plan = _plan(REGISTRY[name][0](spark, SF))
    pushed = [
        line for line in plan.splitlines() if "PushedFilters" in line
    ]
    assert pushed, "no parquet scan with pushdown info in plan"
    assert any("PushedFilters: []" not in line for line in pushed), (
        "every scan has an empty pushdown list:\n" + "\n".join(pushed)
    )


def test_scan_prunes_columns(spark):
    # p2 projects 5 of part's 9 columns — the parquet ReadSchema must not
    # contain the unprojected ones.
    plan = _plan(REGISTRY["p2_filter_ilike"][0](spark, SF))
    read = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read and "p_retailprice" not in read[0] and "p_comment" not in read[0]


def test_range_join_is_hash_join(spark):
    plan = _plan(REGISTRY["ev4_range_join"][0](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_asof_join_single_shuffle(spark):
    # The as-of composition must shuffle once (on the by-keys) for the
    # window; the aggregate in ev3 is separate. Count exchanges feeding the
    # window: the unioned scan side must show exactly one hashpartitioning
    # exchange on user_id before the Window operator.
    plan = _plan(REGISTRY["ev3_asof_join"][0](spark, SF))
    assert "Window" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_regex_lateral_broadcasts_patterns(spark):
    # The regex theta join has no equi component, so the correct plan is a
    # BroadcastNestedLoopJoin with the (tiny) pattern side broadcast — the
    # fact side must never shuffle for the join.
    plan = _plan(REGISTRY["j3b_regex_lateral_top1"][0](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_decontaminate_broadcasts_eval_grams(spark):
    # The eval corpus is tiny next to training data: its gram set must be
    # broadcast so the train side never shuffles for the join.
    plan = _plan(REGISTRY["dd6_decontaminate"][0](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_stratified_sample_prunes_text(spark):
    # smp1 touches only doc_id + lang; the (large) text column must not be
    # read from parquet.
    plan = _plan(REGISTRY["smp1_stratified_sample"][0](spark, SF))
    read = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read and all("text" not in l for l in read), read


def test_keywords_no_cartesian(spark):
    plan = _plan(REGISTRY["txt6_keywords"][0](spark, SF))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


@pytest.mark.parametrize("name", ["q4_order_priority", "q22_dormant_customers"])
def test_semi_anti_joins_broadcast(spark, name):
    # EXISTS/NOT EXISTS shapes: the filtered probe side must broadcast (at
    # test scale) and the join must stay hash-based — a cartesian or
    # nested-loop anti join would be quadratic at 100 TB.
    plan = _plan(REGISTRY[name][0](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


@pytest.mark.parametrize("name", ["txt8_pii_redact", "txt9_chunk"])
def test_text_pipeline_ops_shuffle_free(spark, name):
    """Redaction and chunking are map-side passes: at 100 TB they must scan
    and emit with ZERO exchanges (chunking's one-to-many is a generate, not
    a shuffle)."""
    plan = _plan(REGISTRY[name][0](spark, SF))
    assert "Exchange" not in plan, plan
    assert "CartesianProduct" not in plan


def test_weighted_sample_exchange_free(spark):
    # smp2 is scan → project → filter: the md5 draw and the threshold are
    # row-local, so the plan must carry no Exchange at all and must not
    # read the text column.
    plan = _plan(REGISTRY["smp2_weighted_sample"][0](spark, SF))
    assert "Exchange" not in plan
    read = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read and "text" not in read[0]


def test_repetition_uses_window_group_limit(spark):
    # txt10's per-doc top-bigram must compile to WindowGroupLimit (rank
    # pushdown), not a full per-partition sort of all gram counts, and the
    # per-doc metrics join must stay a hash join.
    plan = _plan(REGISTRY["txt10_repetition"][0](spark, SF))
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_funnel_no_cartesian_and_partial_aggs(spark):
    # ev5 chains per-user min-aggs: every HashAggregate pair must be
    # partial+final (map-side combine), with equi hash joins only.
    plan = _plan(REGISTRY["ev5_funnel"][0](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan  # user_id joins broadcast at this SF
    assert plan.count("HashAggregate") >= 6  # 3 stages x partial+final


def test_bm25_broadcasts_stats_and_takes_ordered(spark):
    plan = _plan(REGISTRY["txt12_bm25_topk"][0](spark, SF))
    # df/stats sides ride as broadcasts; top-k is TakeOrdered, not a sort.
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_two_phase_sessionize_windows_key_on_bucket(spark):
    # Bucketed plan: the per-event window partitions on BOTH user_id and
    # the bucket key — a user_id-only per-event window sort would be the
    # hot-key serialization the rewrite exists to remove. (The phase-2
    # user-only window runs on the |buckets|-sized aggregate, not events.)
    plan = _plan(REGISTRY["ev1b_sessionize_bucketed"][0](spark, SF))
    sort_args = [
        l for l in plan.splitlines() if "ASC NULLS FIRST" in l and "user_id" in l
    ]
    assert sort_args, "no window sorts found in plan"
    assert any("__sess_bucket" in l for l in sort_args), (
        "no (user, bucket)-keyed window sort:\n" + "\n".join(sort_args)
    )


def _count_nodes(plan: str, node: str) -> int:
    # Formatted explain lists each node twice (tree + "(N) <node>" detail
    # header); count detail headers only.
    import re

    return len(re.findall(rf"^\(\d+\) {node}", plan, flags=re.M))


def test_profile_single_scan(spark):
    plan = _plan(REGISTRY["f4_profile"][0](spark, SF))
    assert _count_nodes(plan, "Scan parquet") == 1


def test_packing_single_shuffle(spark):
    # pack_sequences: the only Exchange is the group-by hash partitioning.
    from dbt_analytics_spark.operators.packing import pack_sequences
    from dbt_analytics_spark.sources import load_testdata

    docs = load_testdata(spark, SF)["documents"]
    plan = _plan(pack_sequences(docs, 512, n_groups=8))
    assert _count_nodes(plan, "Exchange") == 1


def test_nb_classify_broadcasts_model_meta(spark):
    # txt14: the per-label metadata and the scalar aggregates must ride
    # broadcast exchanges; the only join allowed to shuffle is the
    # (label, word) likelihood lookup. No cartesian anywhere (the
    # |labels|-way fan-out is a broadcast nested-loop by construction —
    # label_meta is tiny — never a CartesianProduct).
    plan = _plan(REGISTRY["txt14_nb_langid"][0](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan
    assert "partial_count" in plan or "HashAggregate" in plan


def test_bigram_lm_broadcasts_vocab_scalar(spark):
    # txt13: the V scalar is broadcast; model joins may shuffle (they are
    # vocabulary-bounded), but nothing may go cartesian, and the final
    # per-doc rollup must have a partial-agg side.
    plan = _plan(REGISTRY["txt13_lm_score"][0](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan
    assert "partial_avg" in plan or "partial_count" in plan


def test_retention_cohorts_broadcasts_cohort_size(spark):
    # ev6: cohort_size is |weeks| rows — must broadcast; the user-grain
    # join must not degrade to nested-loop; aggregates stay partial.
    plan = _plan(REGISTRY["ev6_retention_cohorts"][0](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_kmeans_assign_no_key_shuffle(spark):
    # sim5's assignment pass: model in the closure, data never shuffles on
    # a key — the only Exchange allowed is fan_out's round-robin scan
    # spread (single-file parquet reads as one partition otherwise).
    import numpy as np

    from dbt_analytics_spark.operators.similarity import kmeans_assign
    from dbt_analytics_spark.sources import load_testdata

    emb = load_testdata(spark, SF)["embeddings"]
    C = np.zeros((4, 64))
    plan = _plan(kmeans_assign(emb, C))
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan
    # formatted plans print each node twice (tree + details): one Exchange
    # node — fan_out's round-robin — appears as exactly two mentions.
    assert plan.count("Exchange") <= 2
    assert plan.count("RoundRobinPartitioning") >= 1


def test_temperature_mixture_corpus_side_broadcast(spark):
    # smp4: the per-source rate dim must broadcast onto the corpus scan —
    # the corpus side itself never sort-merge-joins or goes cartesian.
    plan = _plan(REGISTRY["smp4_temperature_mixture"][0](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize("name", ["j1_join_agg", "w3_pct_of_total"])
def test_star_join_size_gate(spark, name, monkeypatch):
    # The size-gated star join (queries/core.py j1/w3): within budget the
    # customer map rides broadcast and the fact partial-aggregates straight
    # to output grain; past the budget the plan must fall back to
    # reduce-before-join — the fact collapses to custkey grain BEFORE any
    # non-broadcast join, and the dim join may shuffle. Both paths must be
    # row-identical.
    from dbt_analytics_spark.queries import core

    _pin_raw_path(monkeypatch)
    fast = REGISTRY[name][0](spark, SF)
    fast_plan = _plan(fast)
    assert "BroadcastHashJoin" in fast_plan

    monkeypatch.setattr(core, "DIM_BROADCAST_BUDGET", 0)
    slow = REGISTRY[name][0](spark, SF)
    slow_plan = _plan(slow)
    # Fallback path: a pre-join partial aggregate on o_custkey must exist.
    assert "partial_sum" in slow_plan
    assert "o_custkey" in slow_plan
    rows_fast = sorted(map(tuple, fast.collect()))
    rows_slow = sorted(map(tuple, slow.collect()))
    assert rows_fast == rows_slow


def test_topk_per_group_salting_invariant(spark):
    # The two-phase salted top-k (operators/top1.py:topk_per_group) must be
    # row-identical to the single-window answer for any salt count — the
    # salt only splits the phase-1 window.
    from dbt_analytics_spark.operators.top1 import topk_per_group
    from dbt_analytics_spark.sources import load_testdata
    from pyspark.sql import functions as F

    docs = load_testdata(spark, SF)["documents"].select(
        "doc_id", "lang",
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8).alias("key"),
    )
    order = [F.asc("key"), F.asc("doc_id")]
    plain = sorted(map(tuple, topk_per_group(docs, ["lang"], order, k=25).collect()))
    for n_salts in (2, 16):
        salted = sorted(map(tuple, topk_per_group(
            docs, ["lang"], order, k=25, n_salts=n_salts, salt_on="doc_id"
        ).collect()))
        assert salted == plain


def test_topk_per_group_partial_window_group_limit(spark):
    # The property smp5's skew story rests on: Catalyst runs the
    # row_number()<=k filter as WindowGroupLimit with a PARTIAL pass
    # before the exchange (map-side per-partition top-k), so no task ever
    # sorts a whole hot stratum and the shuffle carries <= k rows per
    # group per input partition.
    from dbt_analytics_spark.operators.top1 import topk_per_group
    from pyspark.sql import functions as F

    df = spark.range(0, 1000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 5).cast("string").alias("lang"),
        F.md5(F.col("id").cast("string")).alias("key"),
    )
    plan = _plan(topk_per_group(df, ["lang"], [F.asc("key"), F.asc("doc_id")], k=25))
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan


@pytest.mark.parametrize(
    "name", ["q7_volume_shipping", "q8_market_share", "q10_returned_items",
             "q14_promo_revenue", "q15_top_supplier", "q18_large_orders"]
)
def test_tpch_batch_no_cartesian_dims_broadcast(spark, name):
    # The q6-q18 batch: every dim rides a broadcast, nothing degrades to a
    # cartesian/nested-loop, and the only shuffle joins are fact⋈fact.
    plan = _plan(REGISTRY[name][0](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_q7_filters_facts_before_fact_join(spark):
    # The join-order fix (BENCH_NOTES): both facts must meet their
    # FILTERED broadcast dims BEFORE the fact⋈fact orderkey join — the
    # nation filter must appear under a broadcast join input, not after
    # the orderkey join.
    plan = _plan(REGISTRY["q7_volume_shipping"][0](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2
    # the selective dim filter is pushed into the dim scans
    assert "NATION_" in plan


def test_bucketed_star_layout_join_exchange_free(spark, monkeypatch):
    """j1b/w3b run on the engine-owned bucketed layout
    (plans/star_layout.py): the fact⋈dim join must be a bucket-local
    ShuffledHashJoin with NO exchange feeding it — each task builds a
    hash table from its own co-bucketed dim bucket (measured faster than
    the exchange-free SMJ: 0.62 s vs 0.73 s at sf10), and the fact side
    never broadcasts. Layout v4 (BENCH_J1B_STAGES_r12): the fact join
    probes the PRUNED int key only — the custmap scan must read just
    (c_custkey, n_nationkey), name strings never ride the probe — and
    the names attach post-agg as a BroadcastHashJoin on the 25-row
    frame. The only SHUFFLE exchanges in the whole plan are the tiny
    post-join aggregations (25-nation grain): 1 for j1b's groupBy, 2 for
    w3b's groupBy + empty-frame window. Results stay row-identical to
    the raw-parquet j1/w3 (same DuckDB oracle wired in the registry)."""
    _pin_raw_path(monkeypatch)  # keep the comparison leg genuinely raw

    def shuffles(plan: str) -> int:
        return plan.count("Exchange") - plan.count("BroadcastExchange")

    j1b = REGISTRY["j1b_join_agg_bucketed"][0](spark, SF)
    plan = j1b._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan
    # broadcasts only on tiny frames, post-agg: the 25-row name attach +
    # the nation⋈region hop inside it; the bucketed custmap scan is
    # pruned to the two key columns
    assert plan.count("BroadcastHashJoin") == 2, plan
    custmap_scans = [
        ln for ln in plan.splitlines()
        if "star_custmap" in ln and "ReadSchema" in ln
    ]
    assert custmap_scans, plan
    assert all(
        "n_name" not in ln and "r_name" not in ln for ln in custmap_scans
    ), "name strings must not ride the fact-join probe"
    assert shuffles(plan) == 1, plan
    w3b = REGISTRY["w3b_pct_of_total_bucketed"][0](spark, SF)
    plan = w3b._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan
    assert shuffles(plan) == 2, plan

    # Same answer as the ad-hoc plan (value-level, not just count).
    raw = {
        (r["region_name"], r["nation_name"]): (r["n_orders"], r["total_spend"])
        for r in REGISTRY["j1_join_agg"][0](spark, SF).collect()
    }
    buck = {
        (r["region_name"], r["nation_name"]): (r["n_orders"], r["total_spend"])
        for r in j1b.collect()
    }
    assert raw == buck


def test_bucketed_custdist_exchange_free_agg_and_join(spark, monkeypatch):
    """q13b (queries/core.py): the per-customer COUNT must aggregate
    DIRECTLY over the bucketed orders scan (no exchange feeding the
    customer-grain HashAggregate) and the zero-preserving left join must
    be a bucket-local SHJ — the exchanges left are the tiny c_count
    histogram and the final sort's range partitioning. Row-identical to
    the raw-parquet q13 (same DuckDB oracle in the registry)."""
    _pin_raw_path(monkeypatch)  # keep the comparison leg genuinely raw
    q13b = REGISTRY["q13b_custdist_bucketed"][0](spark, SF)
    plan = q13b._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" not in plan
    # histogram groupBy + orderBy range exchange, nothing else
    assert plan.count("Exchange") == 2, plan

    raw = [tuple(r) for r in REGISTRY["q13_custdist"][0](spark, SF).collect()]
    buck = [tuple(r) for r in q13b.collect()]
    assert raw == buck


def test_semantic_star_metrics_one_agg_broadcast_pruned_dim(spark):
    # sem1: the entity__dim star join must broadcast a PRUNED (pk + dim)
    # build side and feed ONE aggregation — the layer's core contract
    # (filtered metrics compile INTO the aggregate, never a second scan).
    plan = _plan(REGISTRY["sem1_entity_star_metrics"][0](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # Exactly two scans (orders + customer, once each; formatted explain
    # prints ReadSchema once per scan node).
    schemas = [l.strip() for l in plan.splitlines() if "ReadSchema" in l]
    assert len(schemas) == 2, schemas
    # Pruned dim side: only the pk + requested dim leave the customer scan.
    cust = [l for l in schemas if "c_custkey" in l]
    assert cust and all(
        "c_mktsegment" in l and "c_name" not in l and "c_acctbal" not in l
        for l in cust
    ), schemas


def test_semantic_spine_offset_single_fact_pass(spark):
    # sem6: the timespine bounds agg, the spine left join and the offset
    # self-join all re-consume the bucket frame. The lineage pin
    # (lazy localCheckpoint of the KB-sized frame) must keep the FACT
    # scan out of every consumer — without it this shape re-scanned the
    # fact table 4x (measured at sf0.01 before the fix).
    plan = _plan(REGISTRY["sem6_period_over_period"][0](spark, SF))
    assert "Scan parquet" not in plan, plan


def test_semantic_distributional_aggs_single_pass(spark):
    # sem15: sum_boolean + median + continuous/discrete percentile must
    # compile into ONE scan and ONE shuffle (the groupBy exchange) — the
    # value-buffering aggs run as ObjectHashAggregate with a partial
    # stage, never a second scan, join, or sort-based fallback plan.
    import re

    plan = _plan(REGISTRY["sem15_distributional_aggs"][0](spark, SF))
    # Formatted explain prints each node twice (tree + "(N) Op" detail
    # header) — count the detail headers.
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1, plan
    assert "Join" not in plan and "CartesianProduct" not in plan
    schemas = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert len(schemas) == 1, schemas
    # Column pruning: only the three referenced order columns are read.
    assert all(
        "o_totalprice" in l and "o_orderpriority" in l and "o_custkey" not in l
        for l in schemas
    ), schemas


def test_zorder_box_filter_pushes_both_predicates(spark):
    """zo1 (queries/core.py): both box predicates must reach the parquet
    scan as PushedFilters — row-group stats pruning on the Z-ordered
    layout (operators/zorder.py) only fires for pushed predicates — and
    the scan must prune to the four referenced columns."""
    df = REGISTRY["zo1_zorder_box_filter"][0](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed, plan
    line = pushed[0]
    assert "GreaterThanOrEqual(o_custkey" in line, line
    assert "o_orderdate" in line.split("ReadSchema")[0], line
    assert "o_orderkey" not in line.split("ReadSchema")[-1], (
        "scan should prune unreferenced columns"
    )


def test_adhoc_star_queries_route_to_layout_exchange_free(spark, monkeypatch):
    """Layout awareness (round 13): once the engine-owned bucketed
    layout exists, the AD-HOC j1/w3/q13 inherit its exchange-free plan
    — bucket-local SHJ over the star tables, no per-query broadcast
    build of the dim, no fact shuffle — under the same silent-fallback
    contract as rollup routing. (Fact-size gate pinned open: routing is
    gated to facts past ROUTE_MIN_FACT_BYTES where the layout plan
    wins; this test exercises the machinery at toy scale.)"""
    from dbt_analytics_spark.plans import star_layout

    monkeypatch.setattr(star_layout, "ROUTE_MIN_FACT_BYTES", 0)
    star_layout.ensure_star_layout(spark, SF)

    def shuffles(plan: str) -> int:
        return plan.count("Exchange") - plan.count("BroadcastExchange")

    def routed_to(df, d) -> str:
        """The executed plan, after pinning that ``df`` reads exactly
        the table of declaration ``d`` and nothing else."""
        plan = df._jdf.queryExecution().executedPlan().toString()
        tables = set(re.findall(r"spark_catalog\.default\.(\w+)", plan))
        assert tables == {d.table(SF)}, plan
        return plan

    # Round 15: j1/w3 route FIRST to the 25-row nation-grain rollup
    # (aggregate awareness) — the fact never scans and the only
    # exchanges are the 25-row name broadcast (j1) plus w3's single-
    # partition window exchange over 25 rows.
    j1 = REGISTRY["j1_join_agg"][0](spark, SF)
    plan = routed_to(j1, star_layout.NATION_ROLLUP)
    assert shuffles(plan) == 0, plan

    w3 = REGISTRY["w3_pct_of_total"][0](spark, SF)
    plan = routed_to(w3, star_layout.NATION_ROLLUP)
    assert shuffles(plan) == 1, plan  # the 25-row global-window exchange

    # q13 routes to the ~40-row custdist histogram: a read + sort, no
    # fact scan, no joins
    q13 = REGISTRY["q13_custdist"][0](spark, SF)
    plan = routed_to(q13, star_layout.CUSTDIST_ROLLUP)
    assert "Join" not in plan, plan

    # Round 16: g1 routes to the ~80-row monthly rollup — no orders
    # scan, no join. Round 17: the gap-fill's lead() window rides a
    # coalesce(1) (SinglePartition satisfies AllTuples), so the routed
    # plan has NO exchange at all.
    g1 = REGISTRY["g1_date_spine"][0](spark, SF)
    plan = routed_to(g1, star_layout.MONTHLY_ROLLUP)
    assert "orders.parquet" not in plan
    assert "Join" not in plan, plan
    assert shuffles(plan) == 0, plan


def test_user_sql_model_star_join_routes_exchange_free(
    spark, tmp_path, monkeypatch
):
    """Engine-level layout awareness (plans/layout_catalog.py, VERDICT
    r13 item 1 'Done' criterion): a USER-AUTHORED SQL-string star join —
    written against raw source tables, never naming the layout —
    inherits the bucketed layout's plan when it exists and is fresh.
    Pinned here: both routed scans are bucketed (co-located on the join
    key — the property that removes the fact-side exchange at any dim
    size) and the only shuffle exchange in the plan is the tiny output-
    grain groupBy. Row identity vs the raw plan is pinned in
    tests/test_layout_catalog.py under the same fixture."""
    import os
    import shutil
    import uuid

    from dbt_analytics_spark.plans import star_layout
    from tests.test_layout_catalog import TABLES, _user_project

    monkeypatch.setattr(star_layout, "ROUTE_MIN_FACT_BYTES", 0)
    d = str(tmp_path / f"sfpq_{uuid.uuid4().hex[:8]}")
    os.makedirs(d)
    for t in TABLES:
        shutil.copy(os.path.join(SF, f"{t}.parquet"), d)
    star_layout.ensure_star_layout(spark, d)
    df = _user_project(spark, d).compile_node("user_star")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "star_orders" in plan and "star_custmap" in plan
    assert plan.count("Bucketed: true") == 2, plan
    assert plan.count("Exchange") - plan.count("BroadcastExchange") == 1, (
        plan
    )
