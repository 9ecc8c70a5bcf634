"""Semantic layer: metrics defined once in YAML, queried as DataFrames.

Reference surface: dbt's semantic layer (semantic_models + metrics blocks
in schema YAML, compiled to SQL by MetricFlow — dbt-core only PARSES
these; SP/dbt/parser/schemas.py semantic_models/metrics sections, with
query compilation delegated to the closed MetricFlow service). This
module is the Spark-native equivalent of that missing execution half, so
a project's metric definitions actually RUN here:

- a **semantic model** binds a model/relation to typed *dimensions*
  (categorical, or time with a default grain) and *measures* (agg +
  expr);
- a **metric** is ``simple`` (one measure, optional pre-aggregation
  filter), ``ratio`` (numerator / denominator metrics), ``derived``
  (an expression over other metrics — of ANY type, recursively:
  derived-of-derived and derived-over-ratio substitute the referenced
  metric's full post-aggregation SQL; cycles fail loudly), ``cumulative``
  (a simple metric accumulated over the query's time dimension —
  all-time, a trailing fixed-length ``window: N days/weeks`` via a RANGE
  frame, a calendar ``window: N months/quarters/years`` via a bucket-
  frame self-join on ``(b - INTERVAL, b]``, or ``grain_to_date``), or
  ``conversion`` (share of base events with a conversion event for the
  same entity within a time window of any grain);
- derived-metric inputs accept a per-input ``filter:`` (compiled as a
  filtered clone — its own conditional aggregate in the same groupBy;
  ratio inputs filter both legs) alongside ``alias``/``offset_window``;
- simple metrics support MetricFlow measure-input params:
  ``join_to_timespine`` extends the result to every time bucket between
  the frame's min and max (per dim combination, via one ``sequence()``
  spine over the already-aggregated frame) and ``fill_nulls_with``
  replaces the metric's NULLs;
- measures support ``non_additive_dimension`` (semi-additive measures,
  e.g. account balances): within each query bucket only the rows at the
  min/max of the named time dimension count, chosen per
  ``window_groupings`` entity, then aggregated — compiled as one
  window + equality filter + aggregation (``_non_additive_frame``);
- derived metrics support aliased ``type_params.metrics`` inputs with
  ``offset_window: N <grain>`` (period-over-period) — compiled as a
  self-join of the tiny bucket frame shifted by TIME, never a ROWS lag
  that would mis-read across bucket gaps;
- ``SemanticLayer.query(metrics, group_by, where, time_grain)`` compiles
  one Spark aggregation: dimension exprs (time dims date_trunc'd to the
  requested grain), every underlying measure as a conditional aggregate,
  then ratio/derived exprs over the aggregated columns. Catalyst sees a
  single groupBy — partial aggregation, pushdown and AQE all apply, and
  metric filters become ``F.when`` conditions inside the aggregate, so a
  filtered metric never forces a second scan. A ``where`` referencing
  ``{{ Metric('name') }}`` compiles as a POST-AGGREGATION predicate on
  the compiled metric frame (MetricFlow's metric-valued filters — HAVING
  semantics): the referenced metrics join the aggregation closure as
  hidden ``__m_`` columns, Dimension templates then resolve to group_by
  outputs, and offset-bearing metrics are rejected (their value depends
  on other buckets of the frame being filtered).

Cross-model **entity joins** (MetricFlow's join resolution, incl.
multi-hop): a ``group_by`` of ``entity__dim`` — or a chain
``entity__entity__...__dim`` (optionally ``__grain``) — resolves each
foreign entity hop to the semantic model whose *primary* entity has
that name (dimensions win a name tie, MetricFlow's ambiguity rule),
compiling to one LEFT star join per CHAIN: the dim side is assembled
innermost-out with every hop pruned to (primary key + what the next hop
needs), so a wide dim table never ships whole and Catalyst/AQE
broadcast the pruned build sides when small — followed by the same
single aggregation. Measures must still resolve to ONE semantic model
per query (measure-side fan-out is out of scope; define a mart model
for that).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import star_layout
from .fingerprint import data_listing, digest, read_sidecar

if TYPE_CHECKING:  # pragma: no cover
    from .registry import Project

import re as _re

# One tokenizer for metric-expr walking AND substitution, so the set of
# names _collect_offset_inputs walks is exactly the set _metric_sql
# substitutes. Matches (in order): single-quoted string literals
# (with '' escapes), double-quoted / backtick-quoted identifiers, then
# bare identifiers. Strings and quoted identifiers are passed through
# untouched — a metric name inside 'a string literal' is not a metric
# reference, and neither is a SQL function name followed by "(".
_EXPR_TOKEN = _re.compile(
    r"(?P<str>'(?:[^']|'')*')"
    r"|(?P<qid>\"[^\"]*\"|`[^`]*`)"
    r"|(?P<id>[a-zA-Z_][a-zA-Z0-9_]*)"
)


def _is_call(m: "_re.Match") -> bool:
    """True when the matched bare identifier is a function-call name
    (next non-space char is an opening paren)."""
    rest = m.string[m.end():]
    return rest.lstrip()[:1] == "("


def _expr_bare_names(expr: str) -> list[str]:
    """Bare identifiers in a SQL expr that could be metric references:
    not inside string literals, not quoted, not function-call names."""
    out = []
    for m in _EXPR_TOKEN.finditer(expr or ""):
        if m.lastgroup == "id" and not _is_call(m):
            out.append(m.group("id"))
    return out


_AGGS = {
    "sum": F.sum,
    "count": F.count,
    "count_distinct": F.countDistinct,
    "avg": F.avg,
    "min": F.min,
    "max": F.max,
}


def _measure_agg(ms: "Measure", expr: Column) -> Column:
    """Compile a measure's aggregation over ``expr`` — the single place
    every MetricFlow ``agg:`` type maps to a Spark aggregate.

    Beyond the plain ``_AGGS`` entries:

    - ``sum_boolean`` renders MetricFlow's ``SUM(CASE WHEN expr THEN 1
      ELSE 0 END)`` exactly (NULL counts as false, matching the SQL CASE).
    - ``median`` / ``percentile`` are EXACT by default (``F.median`` /
      ``F.percentile`` — Spark buffers the group's values, like
      Postgres/DuckDB ``percentile_cont``; fine at metric-query group
      cardinalities, and ``use_approximate_percentile: true`` switches to
      the bounded-memory t-digest ``percentile_approx`` for planet-scale
      groups at the cost of oracle exactness).
    - ``use_discrete_percentile: true`` matches ``percentile_disc``
      semantics (smallest value whose cumulative frequency >= p, i.e. the
      element at 1-based index ceil(p*n)) via sort + element_at.
    """
    if ms.agg == "sum_boolean":
        return F.sum(F.when(expr, F.lit(1)).otherwise(F.lit(0))).cast("bigint")
    if ms.agg == "_reagg_avg":
        # Internal (aggregate-awareness routing only): re-aggregate an avg
        # measure from its rollup partials — sum of partial sums over sum
        # of partial non-null counts, cast to the type the fact-grain
        # F.avg would have produced (Spark's own Average is sum/count, so
        # the value is identical; the cast pins the decimal scale).
        base = ms.expr  # "p_<name>"
        col = F.sum(F.col(f"{base}__sum")) / F.sum(F.col(f"{base}__cnt"))
        cast = (ms.agg_params or {}).get("cast")
        return col.cast(cast) if cast else col
    if ms.agg == "median":
        return F.median(expr)
    if ms.agg == "percentile":
        params = ms.agg_params or {}
        p = params.get("percentile")
        if p is None or not (0.0 <= float(p) <= 1.0):
            raise ValueError(
                f"measure {ms.name!r}: agg 'percentile' needs "
                "agg_params.percentile in [0, 1]"
            )
        p = float(p)
        if params.get("use_approximate_percentile"):
            return F.percentile_approx(expr, F.lit(p))
        if params.get("use_discrete_percentile"):
            vals = F.array_sort(F.collect_list(expr))
            idx = F.greatest(
                F.lit(1), F.ceil(F.size(vals) * F.lit(p)).cast("int")
            )
            return F.element_at(vals, idx)
        return F.percentile(expr, F.lit(p))
    return _AGGS[ms.agg](expr)


def _dim_join(left: DataFrame, right: DataFrame, keys: list[str]) -> DataFrame:
    """Full-outer join two metric frames on shared dimension columns with
    null-safe equality (a NULL dim value is a real group and must line up),
    coalescing the key columns. With no keys both frames are single-row
    aggregates — cross join."""
    if not keys:
        return left.crossJoin(right)
    r = right
    for k in keys:
        r = r.withColumnRenamed(k, f"__r_{k}")
    cond = None
    for k in keys:
        c = F.col(k).eqNullSafe(F.col(f"__r_{k}"))
        cond = c if cond is None else (cond & c)
    joined = left.join(r, cond, "full_outer")
    for k in keys:
        joined = joined.withColumn(
            k, F.coalesce(F.col(k), F.col(f"__r_{k}"))
        ).drop(f"__r_{k}")
    return joined


@dataclass
class Dimension:
    name: str
    type: str = "categorical"  # categorical | time
    expr: str | None = None  # defaults to the dimension name
    grain: str = "day"  # time dims: default date_trunc grain


@dataclass
class Measure:
    name: str
    agg: str = "sum"
    expr: str | None = None  # defaults to the measure name; count: 1
    #: MetricFlow ``non_additive_dimension``: a SEMI-ADDITIVE measure
    #: (e.g. an account balance) must not sum across the named time
    #: dimension — within each query bucket only the rows at the
    #: min/max (``window_choice``) of that dimension count, chosen per
    #: ``window_groupings`` entity (e.g. latest balance PER ACCOUNT,
    #: then summed across accounts). ``{name, window_choice,
    #: window_groupings}`` or None for ordinary additive measures.
    non_additive: dict | None = None
    #: MetricFlow ``agg_params`` (percentile measures): ``{percentile,
    #: use_discrete_percentile, use_approximate_percentile}`` or None.
    agg_params: dict | None = None


@dataclass
class Entity:
    name: str
    type: str = "primary"  # primary | foreign | unique
    expr: str | None = None  # defaults to the entity name


@dataclass
class SemanticModel:
    name: str
    model: str  # node / relation the measures aggregate over
    dimensions: dict[str, Dimension] = field(default_factory=dict)
    measures: dict[str, Measure] = field(default_factory=dict)
    entities: dict[str, Entity] = field(default_factory=dict)


@dataclass
class MetricInput:
    """One entry of a derived metric's ``type_params.metrics`` list
    (MetricFlow metric inputs): a referenced metric, optionally re-aliased,
    time-offset (``offset_window: N <grain>`` reads the metric's value
    from the bucket N grains earlier — period-over-period;
    ``offset_to_grain: <grain>`` reads it from the FIRST bucket of the
    enclosing grain period — vs-start-of-month/year comparisons; the two
    are mutually exclusive), and/or filtered (``filter:`` restricts the
    INPUT's pre-aggregation rows without touching other uses of the same
    metric — compiled as a filtered clone of the referenced metric, i.e.
    its own conditional aggregate in the same groupBy)."""

    name: str
    alias: str | None = None
    offset_window: str | None = None
    offset_to_grain: str | None = None
    filter: str | None = None


@dataclass
class Metric:
    name: str
    type: str  # simple | ratio | derived | cumulative | conversion
    measure: str | None = None  # simple / cumulative
    filter: str | None = None  # simple/cumulative: pre-agg row filter
    numerator: str | None = None  # ratio (metric name)
    denominator: str | None = None  # ratio (metric name)
    expr: str | None = None  # derived: over other metric names
    #: simple metrics: MetricFlow measure-input params. join_to_timespine
    #: extends the result to EVERY time bucket between the frame's min and
    #: max at the query grain (per categorical-dim combination);
    #: fill_nulls_with replaces the metric's NULLs (spine-only buckets,
    #: all-rows-filtered groups) with a literal.
    fill_nulls_with: object | None = None
    join_to_timespine: bool = False
    #: derived metrics: aliased/offset inputs (``type_params.metrics``).
    inputs: list[MetricInput] = field(default_factory=list)
    # cumulative: trailing window ("7 days") or grain_to_date ("month").
    # conversion: window bounds how late a conversion may land.
    window: str | None = None
    grain_to_date: str | None = None
    # conversion params (dbt conversion_type_params)
    base_measure: str | None = None
    conversion_measure: str | None = None
    entity: str | None = None
    calculation: str = "conversion_rate"  # or "conversions"
    #: conversion constant_properties (MetricFlow): each entry
    #: {base_property, conversion_property} requires the conversion
    #: event to carry the SAME value of the property as the base event
    #: (e.g. converted within the same session) — compiled as extra
    #: equi-join keys beside the entity.
    constant_properties: list[dict] = field(default_factory=list)


def _grain_interval(spec: str) -> str:
    """A time-spine step / offset window as a Spark INTERVAL literal.
    Accepts a bare grain (``'month'``) or ``'N <grain>[s]'``; quarters
    compile to months (no INTERVAL QUARTER literal)."""
    parts = spec.strip().lower().split()
    if len(parts) == 1:
        n, unit = 1, parts[0]
    elif len(parts) == 2 and parts[0].isdigit():
        n, unit = int(parts[0]), parts[1]
    else:
        raise ValueError(f"unsupported grain/window {spec!r}")
    unit = unit.rstrip("s")
    if unit == "quarter":
        n, unit = 3 * n, "month"
    if unit not in ("hour", "day", "week", "month", "year"):
        raise ValueError(f"unsupported grain/window {spec!r}")
    return f"INTERVAL {n} {unit.upper()}"


def _parse_window(window: str) -> tuple[int, str]:
    """Parse a dbt metric window (``'7 days'``, ``'4 weeks'``,
    ``'3 months'``, ``'1 quarter'``, ``'2 years'``) to ``(n, unit)`` with
    unit ``'day'`` or ``'month'``. Fixed-length units normalize to days
    (week = 7) so the cumulative path can keep its RANGE frame; calendar
    units normalize to months (quarter = 3, year = 12) and compile to
    interval arithmetic (MetricFlow accepts all of these — metricflow
    PersonField grain docs; rejecting them was a pre-r10 divergence)."""
    parts = window.strip().split()
    if len(parts) == 1:
        n, unit = 1, parts[0]
    elif len(parts) == 2 and parts[0].isdigit():
        n, unit = int(parts[0]), parts[1]
    else:
        raise ValueError(f"unsupported metric window {window!r}")
    unit = unit.rstrip("s").lower()
    if unit == "week":
        n, unit = 7 * n, "day"
    elif unit == "quarter":
        n, unit = 3 * n, "month"
    elif unit == "year":
        n, unit = 12 * n, "month"
    if unit not in ("day", "month"):
        raise ValueError(f"unsupported metric window {window!r}")
    return n, unit


@dataclass
class SavedQuery:
    name: str
    metrics: list[str]
    group_by: list[str] = field(default_factory=list)
    where: str | None = None
    #: MetricFlow order_by entries: metric/dimension names, optionally
    #: prefixed with ``-`` for descending (dbt saved-query query_params).
    order_by: list[str] = field(default_factory=list)
    limit: int | None = None
    exports: list[dict] = field(default_factory=list)


@dataclass
class Rollup:
    """An engine-maintained pre-aggregation of one semantic model at a
    (dimension × time-grain) grain, holding PARTIAL aggregates that
    re-aggregate exactly: sums/counts/sum_booleans re-sum, mins/maxes
    re-min/max. ``query()`` routes to the rollup automatically when the
    request is answerable from it (aggregate awareness) and falls back
    to the fact silently otherwise.

    The stored table is a derived table of plans/star_layout.py's one
    lifecycle (``SemanticLayer._rollup_decl``): its contract lives in the
    ``LAYOUT_SIDECAR`` beside its files, which is how a later session
    rediscovers, verifies and incrementally refreshes it. This record is
    the layer's in-memory registration of that contract."""

    name: str
    model: str  # semantic model name
    dims: tuple[str, ...]  # dimension names stored (at their grains)
    table: str  # physical relation holding the partials
    measures: dict[str, str]  # measure name -> original agg kind
    grains: dict[str, str] = field(default_factory=dict)  # time dim -> grain
    #: staleness guard (plans/fingerprint.py): digest of the SOURCE
    #: relation's file listing at build time. _route_rollup recomputes it
    #: per routed query and falls back to the fact on mismatch, so a
    #: rollup built before an incremental append / rebuild of the fact
    #: can never silently serve stale aggregates. None = unverifiable
    #: (legacy spec): never routed.
    fp_data: str | None = None
    #: digest of the dim/measure DEFINITIONS the partials were compiled
    #: from; a YAML edit that changes what a stored partial means makes
    #: the rollup unroutable until rebuilt.
    fp_defs: str | None = None
    #: avg measures only: measure name -> the fact-grain avg's result
    #: type (recorded at build), so the routed sum/count division casts
    #: to the exact same decimal scale.
    casts: dict[str, str] = field(default_factory=dict)


#: Measure agg kinds whose partials re-aggregate EXACTLY from a coarser
#: grain. avg decomposes into a (sum, count-of-non-nulls) partial PAIR
#: re-divided post-agg — identical to the fact-grain avg, which Spark
#: itself computes as sum/count; count_distinct / median / percentile /
#: non-additive measures are not decomposable and always fall back to
#: the fact.
_ROLLUP_COVERABLE = {"sum", "count", "min", "max", "sum_boolean", "avg"}

#: Re-aggregation of a partial column, per original agg kind. avg maps
#: to the internal ``_reagg_avg`` kind: sum(p__sum)/sum(p__cnt), cast to
#: the fact-grain avg's exact result type (recorded at build time).
_ROLLUP_REAGG = {
    "sum": "sum",
    "count": "sum",
    "sum_boolean": "sum",
    "min": "min",
    "max": "max",
    "avg": "_reagg_avg",
}

#: grain -> the coarser grains derivable from buckets stored at it.
#: ISO weeks do not nest in months/quarters/years-by-truncation, so week
#: derives only from day (and itself).
_GRAIN_DERIVES = {
    "day": {"day", "week", "month", "quarter", "year"},
    "week": {"week"},
    "month": {"month", "quarter", "year"},
    "quarter": {"quarter", "year"},
    "year": {"year"},
}


class SemanticLayer:
    def __init__(self, project: "Project"):
        self.project = project
        self.models: dict[str, SemanticModel] = {}
        self.metrics: dict[str, Metric] = {}
        self.saved_queries: dict[str, SavedQuery] = {}
        #: semantic model name -> rollups over it (aggregate awareness)
        self.rollups: dict[str, list[Rollup]] = {}
        #: name of the rollup the LAST query() was answered from, or None
        #: (observability + tests; MetricFlow has no equivalent surface)
        self.last_rollup_used: str | None = None
        #: how the LAST refresh_rollup() satisfied its contract:
        #: 'noop' | 'incremental' | 'rebuild' (observability + tests)
        self.last_refresh_mode: str | None = None

    # ------------------------------------------------------------------
    # YAML loading (dbt schema-file sections)
    # ------------------------------------------------------------------

    def load(self, doc: dict) -> int:
        """Parse ``semantic_models:`` and ``metrics:`` blocks from one
        schema-file document (dbt YAML shapes; ``model: ref('x')``)."""
        import re

        n = 0
        for sm in doc.get("semantic_models", []) or []:
            m = re.search(r"ref\(\s*['\"]([^'\"]+)['\"]\s*\)", str(sm.get("model", "")))
            model = m.group(1) if m else str(sm["model"])
            sem = SemanticModel(name=sm["name"], model=model)
            for d in sm.get("dimensions", []) or []:
                grain = (
                    (d.get("type_params") or {}).get("time_granularity")
                    or d.get("grain")
                    or "day"
                )
                sem.dimensions[d["name"]] = Dimension(
                    d["name"], d.get("type", "categorical"), d.get("expr"), grain
                )
            for ms in sm.get("measures", []) or []:
                nad = ms.get("non_additive_dimension")
                agg_params = ms.get("agg_params")
                sem.measures[ms["name"]] = Measure(
                    ms["name"],
                    ms.get("agg", "sum"),
                    ms.get("expr"),
                    non_additive=dict(nad) if nad else None,
                    agg_params=dict(agg_params) if agg_params else None,
                )
            for en in sm.get("entities", []) or []:
                sem.entities[en["name"]] = Entity(
                    en["name"], en.get("type", "primary"), en.get("expr")
                )
            self.models[sem.name] = sem
            n += 1
        for mt in doc.get("metrics", []) or []:
            tp = mt.get("type_params") or {}
            cv = tp.get("conversion_type_params") or {}
            # type_params.measure is a plain name or a MetricFlow
            # measure-input dict ({name, fill_nulls_with,
            # join_to_timespine}).
            meas = tp.get("measure") or mt.get("measure")
            fill = mt.get("fill_nulls_with")
            spine = bool(mt.get("join_to_timespine", False))
            if isinstance(meas, dict):
                fill = meas.get("fill_nulls_with", fill)
                spine = bool(meas.get("join_to_timespine", spine))
                meas = meas["name"]
            inputs = []
            for mi in tp.get("metrics") or []:
                if isinstance(mi, str):
                    mi = {"name": mi}
                inputs.append(
                    MetricInput(
                        name=mi["name"],
                        alias=mi.get("alias"),
                        offset_window=mi.get("offset_window"),
                        offset_to_grain=mi.get("offset_to_grain"),
                        filter=mi.get("filter"),
                    )
                )
            self.metrics[mt["name"]] = Metric(
                name=mt["name"],
                type=mt.get("type", "simple"),
                measure=meas,
                filter=mt.get("filter"),
                numerator=tp.get("numerator") or mt.get("numerator"),
                denominator=tp.get("denominator") or mt.get("denominator"),
                expr=tp.get("expr") or mt.get("expr"),
                window=tp.get("window") or cv.get("window") or mt.get("window"),
                grain_to_date=tp.get("grain_to_date") or mt.get("grain_to_date"),
                base_measure=cv.get("base_measure"),
                conversion_measure=cv.get("conversion_measure"),
                entity=cv.get("entity"),
                calculation=cv.get("calculation", "conversion_rate"),
                constant_properties=list(
                    cv.get("constant_properties") or []
                ),
                fill_nulls_with=fill,
                join_to_timespine=spine,
                inputs=inputs,
            )
            n += 1
        for sq in doc.get("saved_queries", []) or []:
            qp = sq.get("query_params") or {}
            wh = qp.get("where")
            if isinstance(wh, list):
                wh = " AND ".join(f"({w})" for w in wh)
            self.saved_queries[sq["name"]] = SavedQuery(
                name=sq["name"],
                metrics=list(qp.get("metrics") or []),
                group_by=list(qp.get("group_by") or []),
                where=wh,
                order_by=list(qp.get("order_by") or []),
                limit=qp.get("limit"),
                exports=list(sq.get("exports") or []),
            )
            n += 1
        return n

    def run_saved(self, name: str) -> DataFrame:
        """Execute a ``saved_queries:`` block (dbt saved queries — a named,
        reusable metric request; SP/dbt/parser/schemas.py saved_queries
        section)."""
        sq = self.saved_queries[name]
        df = self.query(sq.metrics, group_by=sq.group_by, where=sq.where)
        if sq.order_by:
            df = df.orderBy(
                *[
                    F.desc(c[1:]) if c.startswith("-") else F.asc(c)
                    for c in sq.order_by
                ]
            )
        if sq.limit is not None:
            df = df.limit(int(sq.limit))
        return df

    def run_exports(self, name: str) -> list[str]:
        """Materialize a saved query's ``exports:`` (dbt saved-query
        exports; ``export_as: table`` writes a warehouse table,
        ``export_as: view`` a session-scoped temp view — documented
        divergence: no persistent SQL-text views here). Returns the
        relation names written."""
        sq = self.saved_queries[name]
        df = self.run_saved(name)
        written = []
        for ex in sq.exports:
            cfg = ex.get("config") or {}
            alias = cfg.get("alias") or ex["name"]
            kind = cfg.get("export_as", "table")
            if kind == "view":
                df.createOrReplaceTempView(alias)
            else:
                if self.project.database:
                    self.project.spark.sql(
                        f"CREATE DATABASE IF NOT EXISTS {self.project.database}"
                    )
                df.write.mode("overwrite").saveAsTable(
                    self.project.qualified(alias)
                )
            written.append(alias)
        return written

    # ------------------------------------------------------------------
    # Query compilation
    # ------------------------------------------------------------------

    def _simple_metrics_needed(
        self,
        metric: Metric,
        acc: set[str],
        conv_acc: set[str] | None = None,
        _seen: set[str] | None = None,
    ) -> None:
        """Simple-metric closure of a metric. Aggregates are keyed per
        SIMPLE METRIC, not per measure: two metrics over the same measure
        with different filters (revenue vs big_revenue) must aggregate
        independently — sharing the measure column would let one metric's
        filter corrupt the other. ``conv_acc`` collects conversion metrics
        reached transitively (a derived/ratio metric may reference one;
        its event-join frame must be computed too). ``_seen`` bounds the
        walk on diamonds AND cycles — a true cycle is reported with its
        chain by _metric_sql at compile time, not a RecursionError here."""
        if _seen is None:
            _seen = set()
        if metric.name in _seen:
            return
        _seen.add(metric.name)
        if metric.type in ("simple", "cumulative"):
            # Cumulative metrics aggregate per time bucket exactly like a
            # simple metric (same filter semantics); the accumulation is a
            # post-aggregation window applied in query().
            acc.add(metric.name)
        elif metric.type == "conversion":
            # Computed on its own event-join pipeline, not the groupBy.
            if conv_acc is not None:
                conv_acc.add(metric.name)
        elif metric.type == "ratio":
            for ref in (metric.numerator, metric.denominator):
                self._simple_metrics_needed(
                    self.metrics[ref], acc, conv_acc, _seen
                )
        elif metric.type == "derived":
            if metric.inputs:
                for mi in metric.inputs:
                    self._simple_metrics_needed(
                        self.metrics[self._input_target(mi)],
                        acc,
                        conv_acc,
                        _seen,
                    )
                return
            # Same tokenizer as _metric_sql's substitution: names inside
            # string literals / quoted identifiers / function calls are
            # not metric references and must not pull in aggregates.
            for name in _expr_bare_names(metric.expr or ""):
                if name in self.metrics:
                    self._simple_metrics_needed(
                        self.metrics[name], acc, conv_acc, _seen
                    )
        else:
            raise ValueError(f"unknown metric type {metric.type!r}")

    def _walk_entity_chain(
        self, sem: SemanticModel, parts: list[str]
    ) -> tuple[list[str], SemanticModel, int]:
        """Resolve the leading foreign-entity hops of a ``__``-split
        reference (MetricFlow multi-hop): returns (chain, final model,
        index of the first non-entity part). Dimensions win a name tie
        at every hop."""
        chain = [parts[0]]
        target = self._primary_model(parts[0])
        idx = 1
        while (
            idx < len(parts)
            and parts[idx] not in target.dimensions
            and parts[idx] in target.entities
            and target.entities[parts[idx]].type == "foreign"
        ):
            chain.append(parts[idx])
            target = self._primary_model(parts[idx])
            idx += 1
        return chain, target, idx

    #: MetricFlow filter templates: {{ Dimension('ref') }},
    #: {{ TimeDimension('ref', 'grain') }}, {{ Entity('name') }},
    #: {{ Metric('name') }} (post-aggregation — see _render_post_agg_filter).
    _TMPL_RE = None  # compiled lazily (class body has no re import)

    @classmethod
    def _tmpl_re(cls):
        import re

        if cls._TMPL_RE is None:
            cls._TMPL_RE = re.compile(
                r"\{\{\s*(Dimension|TimeDimension|Entity|Metric)\(\s*"
                r"'([^']+)'(?:\s*,\s*'([^']+)')?\s*\)\s*\}\}"
            )
        return cls._TMPL_RE

    def _metric_filter_refs(self, s: str | None) -> list[str]:
        """Metric names referenced via ``{{ Metric('name') }}`` templates
        in a filter string (deduped, first-seen order). A filter that
        references any metric compiles as a POST-AGGREGATION predicate —
        MetricFlow's metric-valued filters — instead of a row filter."""
        if not s or "{{" not in s:
            return []
        out: list[str] = []
        for m in self._tmpl_re().finditer(s):
            if m.group(1) == "Metric" and m.group(2) not in out:
                out.append(m.group(2))
        return out

    def _render_post_agg_filter(
        self,
        s: str,
        out_names: list[str],
        time_grain: str | None,
        time_grains: dict[str, str],
    ) -> str:
        """Render a metric-valued filter as a predicate over the COMPILED
        metric frame (HAVING semantics — MetricFlow compiles Metric()
        filters as an outer-query predicate): ``Metric('m')`` substitutes
        the metric's post-aggregation SQL over the ``__m_`` columns
        (_metric_sql — so ratio/derived metrics work without being in the
        queried list), and Dimension/TimeDimension templates may reference
        only group_by output columns (pre-aggregation row context no
        longer exists). Entity() is rejected for the same reason."""

        def repl(m: "_re.Match") -> str:
            kind, ref, grain = m.group(1), m.group(2), m.group(3)
            if kind == "Metric":
                mt = self.metrics.get(ref)
                if mt is None:
                    raise KeyError(f"unknown metric {ref!r} in filter")
                return f"({self._metric_sql(mt)})"
            if kind == "Entity":
                raise ValueError(
                    "Entity() is not available in a metric-valued filter "
                    "— the predicate runs post-aggregation, where only "
                    "group_by columns and metrics exist"
                )
            candidates = [ref]
            if kind == "TimeDimension":
                eff = grain or time_grain
                if eff:
                    candidates.insert(0, f"{ref}__{eff}")
            for cand in candidates:
                if cand in out_names:
                    return cand
            raise ValueError(
                f"{kind}({ref!r}) in a metric-valued filter must be one "
                f"of the query's group_by columns {out_names!r} — the "
                "predicate runs post-aggregation"
            )

        return self._tmpl_re().sub(repl, s)

    def _render_filter(
        self,
        sem: SemanticModel,
        s: str,
        joins: dict,
        time_grain: str | None,
    ) -> str:
        """Render MetricFlow's Jinja-style filter templates to SQL over
        the query frame (dbt metric/saved-query ``filter:`` strings use
        ``{{ Dimension('entity__dim') }}`` etc.). A template referencing
        another model's dimension AUTO-JOINS that entity chain (pruned,
        hidden ``__fdim_*`` column — never in the output), matching
        MetricFlow's behavior where a filter may reference dims the
        group_by does not request. Plain-SQL filters pass through
        untouched."""
        import re

        if "{{" not in s:
            return s

        def repl(m: "re.Match") -> str:
            kind, ref, grain = m.group(1), m.group(2), m.group(3)
            if kind == "Metric":
                # query() routes any filter containing Metric() through
                # _render_post_agg_filter; reaching here means a
                # PER-METRIC (pre-aggregation) filter referenced a metric
                # value, which has no row-level meaning.
                raise ValueError(
                    "Metric() templates are only supported in the query's "
                    "where filter (compiled post-aggregation), not in a "
                    "metric's own pre-aggregation filter"
                )
            if kind == "Entity":
                en = sem.entities.get(ref)
                if en is None:
                    raise KeyError(f"unknown entity {ref!r} on {sem.name}")
                return f"({en.expr or en.name})"
            parts = ref.split("__")
            dname = parts[0]
            if dname == "metric_time" and "metric_time" not in sem.dimensions:
                tds = [
                    d for d in sem.dimensions.values() if d.type == "time"
                ]
                if not tds:
                    raise KeyError(
                        f"metric_time: model {sem.name!r} has no time "
                        "dimension"
                    )
                dim, local = tds[0], True
            elif dname in sem.dimensions:
                dim, local = sem.dimensions[dname], True
            elif dname in sem.entities:
                chain, target, idx = self._walk_entity_chain(sem, parts)
                if idx >= len(parts) or parts[idx] not in target.dimensions:
                    raise KeyError(
                        f"unknown dimension in filter template {ref!r}"
                    )
                dim, local = target.dimensions[parts[idx]], False
            else:
                raise KeyError(
                    f"unknown dimension {dname!r} in filter template"
                )
            if local:
                e = f"({dim.expr or dim.name})"
                if kind == "TimeDimension":
                    eff = grain or time_grain or dim.grain
                    e = f"date_trunc('{eff}', {e})"
                return e
            # Foreign dim: register a hidden join column and reference it.
            col = "__fdim_" + "_".join(chain) + "_" + dim.name
            expr = F.expr(dim.expr or dim.name)
            if kind == "TimeDimension":
                eff = grain or time_grain or dim.grain
                col += f"_{eff}"
                expr = F.date_trunc(eff, expr)
            cols = joins.setdefault(tuple(chain), [])
            if col not in [n for n, _ in cols]:
                cols.append((col, expr))
            return col

        return self._tmpl_re().sub(repl, s)

    def _input_target(self, mi: MetricInput) -> str:
        """Effective metric name for a derived-metric input: the metric
        itself, or — when the input carries a ``filter:`` — a FILTERED
        CLONE registered on demand (deterministically named, shared
        across queries). MetricFlow semantics: an input filter restricts
        that input's pre-aggregation rows only; other uses of the same
        metric in the query are untouched, so the clone aggregates as
        its own conditional column in the same groupBy."""
        if not mi.filter:
            return mi.name
        import hashlib

        tag = hashlib.md5(mi.filter.encode()).hexdigest()[:8]
        cname = f"{mi.name}__filtered_{tag}"
        if cname not in self.metrics:
            self.metrics[cname] = self._filtered_clone(
                self.metrics[mi.name], mi.filter, tag
            )
        return cname

    def _filtered_clone(self, m: Metric, filt: str, tag: str) -> Metric:
        """A copy of ``m`` with ``filt`` ANDed into its pre-aggregation
        filter. Ratio inputs filter both legs (MetricFlow compiles an
        input filter into the input metric's subquery WHERE, which a
        ratio's numerator and denominator share). Derived/conversion
        inputs with filters are out of scope and fail loudly — a derived
        clone would need its expr's bare references remapped, and a
        conversion's event-join pipeline has two distinct row sets."""
        from dataclasses import replace

        comb = f"({m.filter}) AND ({filt})" if m.filter else filt
        cname = f"{m.name}__filtered_{tag}"
        if m.type in ("simple", "cumulative"):
            return replace(m, name=cname, filter=comb)
        if m.type == "ratio":
            num = self._input_target(
                MetricInput(name=m.numerator, filter=filt)
            )
            den = self._input_target(
                MetricInput(name=m.denominator, filter=filt)
            )
            return replace(m, name=cname, numerator=num, denominator=den)
        raise ValueError(
            f"input filter on {m.type!r} metric {m.name!r} is not "
            "supported (filter a simple/cumulative/ratio input, or define "
            "a filtered metric explicitly)"
        )

    def _model_for(self, measure_names: set[str]) -> SemanticModel:
        owners = [
            sem
            for sem in self.models.values()
            if measure_names <= set(sem.measures)
        ]
        if not owners:
            raise ValueError(
                f"no single semantic model defines all of {sorted(measure_names)} "
                "(cross-model metric queries need a mart model joining the "
                "entities — see module docstring)"
            )
        return owners[0]

    def _metric_col(self, metric: Metric) -> F.Column:
        """Post-aggregation expression for a metric, referencing the
        ``__m_<simple-metric>`` columns produced by the groupBy."""
        if metric.type in ("simple", "cumulative", "conversion"):
            # query() rewrites a cumulative metric's __m_ column in place
            # with its accumulated value (so ratios/reads stay consistent)
            # and a conversion metric's column arrives pre-computed from
            # its own event-join frame.
            return F.col(f"__m_{metric.name}")
        return F.expr(self._metric_sql(metric))

    def _metric_sql(self, metric: Metric, _stack: tuple = ()) -> str:
        """Post-aggregation SQL expression for any metric type, recursive:
        ratio inputs and derived exprs may reference metrics of ANY type
        (MetricFlow allows derived-of-derived and derived-over-ratio;
        restricting inputs to simple metrics was a pre-r10 divergence).
        A metric's ``fill_nulls_with`` follows it into every enclosing
        expression (spine-gap buckets and offset-join edges read the
        fill, not NULL). Cycles fail loudly."""
        if metric.name in _stack:
            chain = " -> ".join((*_stack, metric.name))
            raise ValueError(f"metric reference cycle: {chain}")
        stack = (*_stack, metric.name)
        if metric.type in ("simple", "cumulative", "conversion"):
            sql = f"__m_{metric.name}"
        elif metric.type == "ratio":
            num = self._metric_sql(self.metrics[metric.numerator], stack)
            den = self._metric_sql(self.metrics[metric.denominator], stack)
            sql = f"(CAST({num} AS DOUBLE) / CAST({den} AS DOUBLE))"
        elif metric.type == "derived":
            amap: dict[str, str] = {}
            for mi in metric.inputs:
                inner = self.metrics[self._input_target(mi)]
                key = mi.alias or mi.name
                if mi.offset_window or mi.offset_to_grain:
                    # _apply_offsets materialized the input's (possibly
                    # non-simple) value at the offset bucket (t - window,
                    # or the grain-period start) into __m_<alias>; the
                    # fill applies at read so join misses (no bucket
                    # there) see it.
                    colname = f"__m_{mi.alias}"
                    if inner.fill_nulls_with is not None:
                        colname = (
                            f"coalesce({colname}, {inner.fill_nulls_with!r})"
                        )
                    amap[key] = colname
                else:
                    amap[key] = self._metric_sql(inner, stack)

            def sub(m: "_re.Match") -> str:
                # Strings / quoted identifiers pass through untouched;
                # so do function-call names — 'revenue' in a literal or
                # a UDF named like a metric is not a metric reference
                # (same tokenizer as _collect_offset_inputs, so the
                # walked set and the substituted set always agree).
                if m.lastgroup != "id" or _is_call(m):
                    return m.group(0)
                name = m.group("id")
                if name in amap:
                    return amap[name]
                if name in self.metrics:
                    return self._metric_sql(self.metrics[name], stack)
                return name

            sql = "(" + _EXPR_TOKEN.sub(sub, metric.expr or "") + ")"
        else:
            raise ValueError(f"unknown metric type {metric.type!r}")
        if metric.fill_nulls_with is not None:
            sql = f"coalesce({sql}, {metric.fill_nulls_with!r})"
        return sql

    # ------------------------------------------------------------------
    # Aggregate awareness: engine-maintained rollups
    # ------------------------------------------------------------------

    def materialize_rollup(
        self,
        name: str,
        model: str,
        dims: list[str],
        reuse_existing: bool = False,
    ) -> Rollup:
        """Build (overwrite) a pre-aggregated rollup of semantic model
        ``model`` at the grain of ``dims`` (each ``dim`` or
        ``time_dim__grain``), storing partial aggregates for every
        measure whose kind re-aggregates exactly (sum/count/min/max/
        sum_boolean, and avg as a sum+count partial pair re-divided at
        query time). One fact scan now; every eligible ``query()``
        afterwards reads the rollup instead of the fact — the aggregate
        awareness answer to repeated metric traffic at 100 TB (the same
        trade the bucketed star layout makes for joins).

        Partial-aggregate exactness: decimal sums re-sum exactly
        (addition is associative), counts re-sum, min/max re-min/max —
        the routed answer is bit-identical to the fact-grain answer, so
        routing never weakens the oracle gate.

        Build and reuse are the derived-table lifecycle's
        (plans/star_layout.py ``_ensure``): with ``reuse_existing`` a
        table whose sidecar equals this call's spec (definitions, dims,
        source listing) is kept, re-registered from its files after a
        dead session; otherwise the old table is purged and rebuilt."""
        d, spec, t = self._rollup_decl(name, model, dims)
        if not reuse_existing:
            star_layout._drop(self.project.spark, spec, purge=True)
        star_layout._ensure(self.project.spark, d, spec, lambda: t)
        return self._register_rollup(spec)

    def _rollup_decl(
        self, name: str, model: str, dims: list[str]
    ) -> tuple[star_layout.Derived, dict, dict[str, DataFrame]]:
        """Rollup ``name`` as a derived-table declaration over the
        semantic model's CURRENT relation: ``(Derived, spec, frames)``.
        ``derive`` compiles the partials, ``fold`` re-aggregates stored
        and delta partials per ``_ROLLUP_REAGG``. The spec is the
        lifecycle's contract (table, schema, source listing and
        fingerprint, ``covers_paths``) plus the rollup's own fields; the
        definitions fingerprint, dims, measures and casts are static
        keys, so drift in any of them rebuilds. Only a catalog TABLE
        covers its directory — a new file of a view's inputs is not an
        appended row of the view — so a view never folds."""
        spark = self.project.spark
        sem = self.models[model]
        df = self.project._resolve_for_adhoc(sem.model)
        dim_names, grains, kinds, casts, partials = self._rollup_partials(
            sem, df, dims, model
        )
        listing = data_listing(df)
        src = self.project.qualified(sem.model)
        is_table = not self.project._is_view_node(
            sem.model
        ) and spark.catalog.tableExists(src)
        spec = {
            "table": self.project.qualified(f"{name}__rollup"),
            "schema": star_layout._schema_ddl(partials),
            "source_fp": digest(listing),
            "source_listing": listing,
            "covers_paths": (
                [star_layout._warehouse_path(spark, src)] if is_table else []
            ),
            "name": name,
            "model": model,
            "dims": dim_names,
            "measures": kinds,
            "grains": grains,
            "casts": casts,
            "fp_defs": self._rollup_defs_fp(sem, dim_names, kinds),
        }
        reaggs = []
        for mn, kind in kinds.items():
            if kind == "avg":  # the (sum, non-null count) pair re-sums
                reaggs += [
                    F.sum(c).alias(c) for c in (f"p_{mn}__sum", f"p_{mn}__cnt")
                ]
            else:
                fn = _AGGS[_ROLLUP_REAGG[kind]]
                reaggs.append(fn(f"p_{mn}").alias(f"p_{mn}"))
        d = star_layout.Derived(
            kind="semantic",
            name=spec["table"],
            version=1,
            sources=(sem.model,),
            derive=lambda t: self._rollup_partials(
                sem, t[sem.model], dims, model
            )[-1],
            fold=lambda p: p.groupBy(*[f"d_{dn}" for dn in dim_names]).agg(
                *reaggs
            ),
        )
        return d, spec, {sem.model: df}

    def _register_rollup(self, spec: dict) -> Rollup:
        """Register the rollup a lifecycle spec describes in this layer
        (replacing any same-named entry on its model)."""
        rollup = Rollup(
            name=spec["name"],
            model=spec["model"],
            dims=tuple(spec["dims"]),
            table=spec["table"],
            measures=dict(spec["measures"]),
            grains=dict(spec["grains"]),
            fp_data=spec["source_fp"],
            fp_defs=spec["fp_defs"],
            casts=dict(spec["casts"]),
        )
        kept = [
            r for r in self.rollups.get(rollup.model, [])
            if r.name != rollup.name
        ]
        self.rollups[rollup.model] = kept + [rollup]
        return rollup

    def _rollup_partials(
        self, sem: SemanticModel, df: DataFrame, dims: list[str], model: str
    ):
        """Compile the partial-aggregate frame of ``df`` at the grain of
        ``dims`` — shared by the initial build and the incremental
        refresh (which runs it over the DELTA files only)."""
        group_cols, grains, dim_names = [], {}, []
        for d in dims:
            parts = d.split("__")
            dn = parts[0]
            dim = sem.dimensions.get(dn)
            if dim is None:
                raise KeyError(f"unknown dimension {dn!r} on {model}")
            expr = F.expr(dim.expr or dim.name)
            if dim.type == "time":
                g = parts[1] if len(parts) > 1 else dim.grain
                if g not in _GRAIN_DERIVES:
                    raise ValueError(f"unsupported rollup grain {g!r}")
                expr = F.date_trunc(g, expr)
                grains[dn] = g
            elif len(parts) > 1:
                raise ValueError(
                    f"grain suffix on categorical dimension {dn!r}"
                )
            group_cols.append(expr.alias(f"d_{dn}"))
            dim_names.append(dn)
        kinds: dict[str, str] = {}
        casts: dict[str, str] = {}
        aggs = []
        for ms in sem.measures.values():
            if ms.non_additive or ms.agg not in _ROLLUP_COVERABLE:
                continue
            expr = F.expr(ms.expr or (ms.name if ms.agg != "count" else "1"))
            if ms.agg == "avg":
                # avg decomposes into a (sum, non-null count) partial
                # pair; the router divides re-summed partials and casts
                # to the fact-grain avg's exact result type, recorded
                # here (analysis only — no job).
                aggs.append(F.sum(expr).alias(f"p_{ms.name}__sum"))
                aggs.append(F.count(expr).alias(f"p_{ms.name}__cnt"))
                casts[ms.name] = (
                    df.select(F.avg(expr).alias("__t"))
                    .schema[0]
                    .dataType.simpleString()
                )
                kinds[ms.name] = ms.agg
                continue
            if ms.agg == "sum_boolean":
                col = F.sum(
                    F.when(expr, F.lit(1)).otherwise(F.lit(0))
                ).cast("bigint")
            else:
                col = _AGGS[ms.agg](expr)
            aggs.append(col.alias(f"p_{ms.name}"))
            kinds[ms.name] = ms.agg
        if not aggs:
            raise ValueError(
                f"model {model!r} has no rollup-coverable measures"
            )
        return (
            dim_names,
            grains,
            kinds,
            casts,
            df.groupBy(*group_cols).agg(*aggs),
        )

    def refresh_rollup(self, name: str, model: str) -> Rollup:
        """Refresh rollup ``name`` against the CURRENT source state.

        Fast path (append-only): when the semantic model's backing
        relation is a catalog TABLE — the one relation kind where a new
        data file provably contains exactly the appended rows, nothing
        recomputed through view logic — and the build-time file listing
        is an UNCHANGED subset of the current one, aggregate ONLY the
        new files to partials and fold them into the stored rollup:
        refresh cost scales with the DELTA, never the fact. That is the
        100 TB answer to the staleness guard's "rebuild" remedy — an
        hourly-append fact never pays a full re-aggregation.

        Everything else (source rewritten or shrunk, definition drift,
        non-table relation, missing/changed old files, schema change,
        no listing sidecar) falls back to a full rebuild through
        :meth:`materialize_rollup`; an already-fresh rollup is a no-op.
        ``self.last_refresh_mode`` records 'noop' | 'incremental' |
        'rebuild'. Partial exactness is unchanged: sums/counts (and avg
        sum+count pairs) re-sum, min/max re-min/max, so the refreshed
        table equals a from-scratch build bit-for-bit.

        The lifecycle's refresh core (plans/star_layout.py ``_refresh``)
        decides and folds: the stored sidecar's listing is diffed against
        the current one, the merged partials are checkpointed, the old
        table purged and the new one written with its sidecar last — a
        crash at any point leaves nothing routable and degrades to a
        rebuild."""
        rollup = next(
            (r for r in self.rollups.get(model, []) if r.name == name), None
        )
        if rollup is None:
            raise KeyError(
                f"rollup {name!r} on {model!r} is not registered — build "
                "it with materialize_rollup() / discover_rollups() first"
            )
        # reconstruct the original dims argument (dim or dim__grain)
        dims = [
            f"{dn}__{rollup.grains[dn]}" if dn in rollup.grains else dn
            for dn in rollup.dims
        ]
        d, spec, t = self._rollup_decl(name, model, dims)
        status = star_layout._refresh(self.project.spark, d, spec, lambda: t)
        self.last_refresh_mode = {"fresh": "noop", "rebuilt": "rebuild"}.get(
            status, "incremental"
        )
        return self._register_rollup(spec)

    def _rollup_defs_fp(
        self, sem: SemanticModel, dim_names, measure_kinds
    ) -> str:
        """Digest of the dimension/measure DEFINITIONS a rollup's
        partials were compiled from (exprs, types, grains, agg kinds).
        Raises KeyError when a name no longer exists on the model —
        callers treat that as definition drift."""
        from .fingerprint import defs_fingerprint

        dims = {}
        for dn in dim_names:
            d = sem.dimensions[dn]
            dims[dn] = [d.type, d.expr or dn, d.grain if d.type == "time" else ""]
        meas = {}
        for mn in measure_kinds:
            ms = sem.measures[mn]
            meas[mn] = [ms.agg, ms.expr or (mn if ms.agg != "count" else "1")]
        return defs_fingerprint({"dims": dims, "measures": meas})

    def discover_rollups(self) -> int:
        """Re-register rollups built by PREVIOUS sessions: read every
        ``*__rollup`` sidecar in the project database's warehouse
        directory and register each one whose semantic model this layer
        knows AND whose definitions fingerprint still matches the current
        YAML (a rollup whose dim/measure exprs drifted is skipped with a
        warning — its partials no longer mean what the query would
        assume). The files re-register in the catalog through the
        lifecycle's ``register``; a pending sidecar or an incomplete write
        registers with no data fingerprint, so it never routes and the
        next ``refresh_rollup`` rebuilds it. Source-DATA freshness is
        verified per query in _route_rollup, since the fact can change
        after discovery. Returns the number registered. The CLI calls
        this before ``sl query`` so ``sl rollup`` in one invocation
        accelerates queries in every later one."""
        import warnings

        spark = self.project.spark
        db_dir = star_layout._warehouse_path(
            spark, self.project.qualified("")
        )
        if not os.path.isdir(db_dir):
            return 0
        if self.project.database:
            # a new session's in-memory catalog knows no databases
            spark.sql(f"CREATE DATABASE IF NOT EXISTS {self.project.database}")
        n = 0
        for entry in sorted(os.listdir(db_dir)):
            if not entry.endswith("__rollup"):
                continue
            spec = read_sidecar(
                os.path.join(db_dir, entry), star_layout.LAYOUT_SIDECAR
            )
            sem = self.models.get(spec["model"]) if spec else None
            if sem is None:
                continue
            try:
                cur_defs = self._rollup_defs_fp(
                    sem, spec["dims"], spec["measures"]
                )
            except KeyError:
                cur_defs = None  # a dim/measure no longer exists
            if spec["fp_defs"] != cur_defs:
                warnings.warn(
                    f"rollup {spec['name']!r} ({spec['table']}): dimension/"
                    "measure definitions changed since it was built; "
                    "skipping — rebuild with sl rollup",
                    stacklevel=2,
                )
                continue
            if spec.get("pending") or not star_layout.register(spark, spec):
                spec = {**spec, "source_fp": None}
            self._register_rollup(spec)
            n += 1
        return n

    def _route_rollup(
        self,
        sem: SemanticModel,
        df: DataFrame,
        measure_names: set[str],
        mobjs: list[Metric],
        needed: set[str],
        conversions: list,
        group_by: list[str] | None,
        where: str | None,
        time_grain: str | None,
    ) -> tuple[SemanticModel, DataFrame, str | None]:
        """Route the query to a registered rollup when every requested
        measure, metric shape, and group-by dimension is answerable from
        it; otherwise return the fact-grain inputs unchanged. The
        rewrite swaps in a SYNTHESIZED semantic model over the rollup
        table (dims point at stored d_ columns, measures re-aggregate p_
        partials), so the whole downstream compiler — groupBy, ratio /
        derived math, HAVING filters — runs unmodified."""
        candidates = self.rollups.get(sem.name) or []
        if not candidates:
            return sem, df, None
        cur_fp: str | None = None  # source-data digest, computed lazily
        # shapes a partial-aggregate table cannot answer
        if conversions or where:
            return sem, df, None
        for n in needed:
            m = self.metrics[n]
            if m.filter or m.type == "cumulative" or m.join_to_timespine:
                return sem, df, None
        for m in mobjs:
            if m.type in ("cumulative", "conversion"):
                return sem, df, None
        if self._collect_offset_inputs(mobjs):
            return sem, df, None
        for rollup in candidates:
            if not measure_names <= set(rollup.measures):
                continue
            ok = True
            for g in group_by or []:
                parts = g.split("__")
                dname = parts[0]
                if dname == "metric_time":
                    tds = [
                        d.name
                        for d in sem.dimensions.values()
                        if d.type == "time"
                    ]
                    dname = tds[0] if tds else ""
                    grain = parts[1] if len(parts) > 1 else ""
                else:
                    grain = parts[1] if len(parts) > 1 else ""
                dim = sem.dimensions.get(dname)
                if dim is None or dname not in rollup.dims:
                    ok = False  # entity-chain / unknown dims: fact only
                    break
                if dim.type == "time":
                    eff = grain or time_grain or dim.grain
                    stored = rollup.grains.get(dname, dim.grain)
                    if eff not in _GRAIN_DERIVES.get(stored, ()):
                        ok = False  # finer than stored: not derivable
                        break
                elif grain:
                    ok = False
                    break
            if not ok:
                continue
            # Staleness guard (the one supported workflow that could
            # otherwise return a silently WRONG answer: build rollup ->
            # incremental-append the fact -> query routes to stale
            # partials). Definitions first (cheap, in-memory), then the
            # source relation's file listing (metadata-only, one
            # filesystem listing — no data scan).
            try:
                defs_ok = rollup.fp_defs == self._rollup_defs_fp(
                    sem, rollup.dims, rollup.measures
                )
            except KeyError:
                defs_ok = False
            if not defs_ok:
                continue
            if cur_fp is None:
                from .fingerprint import data_fingerprint

                cur_fp = data_fingerprint(df)
            if rollup.fp_data != cur_fp:
                import warnings

                warnings.warn(
                    f"rollup {rollup.name!r} is stale (source relation "
                    "changed since it was built); answering from the "
                    "fact grain — rebuild with materialize_rollup()/"
                    "sl rollup",
                    stacklevel=3,
                )
                continue
            rollup_dims = set(rollup.dims)
            dims2 = {
                dn: Dimension(
                    name=dn,
                    type=sem.dimensions[dn].type,
                    expr=f"d_{dn}",
                    # keep the ORIGINAL default grain so an ungrained
                    # group_by truncates to what the user would have
                    # gotten from the fact (derivability was checked)
                    grain=sem.dimensions[dn].grain,
                )
                # iterate in sem.dimensions order (NOT rollup.dims order)
                # so the synthesized model's FIRST time dimension is the
                # same one metric_time resolved to during the routing
                # check above — with two time dims stored in a different
                # order, rollup.dims order would truncate/group the wrong
                # time dimension downstream.
                for dn in sem.dimensions
                if dn in rollup_dims
            }
            meas2 = {
                mn: Measure(
                    name=mn,
                    agg=_ROLLUP_REAGG[kind],
                    expr=f"p_{mn}",
                    agg_params=(
                        {"cast": rollup.casts.get(mn)}
                        if kind == "avg"
                        else None
                    ),
                )
                for mn, kind in rollup.measures.items()
            }
            sem2 = SemanticModel(
                name=sem.name,
                model=rollup.table,
                dimensions=dims2,
                measures=meas2,
                entities={},
            )
            return sem2, self.project.spark.table(rollup.table), rollup.name
        return sem, df, None

    def query(
        self,
        metrics: list[str],
        group_by: list[str] | None = None,
        where: str | None = None,
        time_grain: str | None = None,
    ) -> DataFrame:
        """Compile and run a metric query: one Spark aggregation over the
        owning semantic model's relation. ``group_by`` names dimensions;
        a time dimension may carry an inline grain as ``dim__grain``
        (MetricFlow's ``metric_time__month`` convention), else
        ``time_grain``/its default applies."""
        mobjs = [self.metrics[m] for m in metrics]
        # A where filter referencing {{ Metric('name') }} compiles as a
        # POST-AGGREGATION predicate (MetricFlow's metric-valued filters):
        # the referenced metrics join the aggregation closure (computed as
        # __m_ columns, never in the output) and the WHOLE filter runs on
        # the compiled metric frame instead of fact rows.
        filter_metric_names = self._metric_filter_refs(where)
        filter_mobjs = []
        for fname in filter_metric_names:
            fm = self.metrics.get(fname)
            if fm is None:
                raise KeyError(f"unknown metric {fname!r} in filter")
            filter_mobjs.append(fm)
        if self._collect_offset_inputs(filter_mobjs):
            # An offset metric's value depends on OTHER buckets; filtering
            # buckets by it while those same buckets feed the offsets is
            # ambiguous (MetricFlow forbids it too).
            raise ValueError(
                "Metric() filters cannot reference offset-bearing metrics"
            )
        needed: set[str] = set()
        conv_names: set[str] = set()
        for m in (*mobjs, *filter_mobjs):
            self._simple_metrics_needed(m, needed, conv_names)
            if m.type in ("ratio", "derived"):
                # Validate references up front: a cycle among derived
                # metrics reaches no aggregate at all, so it must fail
                # here with its chain, not as an empty-plan crash later.
                self._metric_sql(m)
        conversions = [self.metrics[n] for n in sorted(conv_names)]
        if not needed and not conversions:
            raise ValueError(
                f"metrics {metrics!r} reach no measures to aggregate"
            )
        measure_names = {self.metrics[n].measure for n in needed}
        for cm in conversions:
            measure_names |= {cm.base_measure, cm.conversion_measure}
        sem = self._model_for(measure_names)
        df = self.project._resolve_for_adhoc(sem.model)
        # Aggregate awareness: answer from a pre-aggregated rollup when
        # the request re-aggregates exactly from its partials.
        sem, df, self.last_rollup_used = self._route_rollup(
            sem, df, measure_names, mobjs, needed, conversions,
            group_by, where, time_grain,
        )

        dim_cols = []
        out_names: list[str] = []
        time_outs: list[str] = []  # post-groupBy names of time dims
        time_grains: dict[str, str] = {}  # time out name -> effective grain
        # entity name -> [(out_name, pre-built dim expr)] to join in
        joins: dict[str, list[tuple[str, "F.Column"]]] = {}
        for g in group_by or []:
            parts = g.split("__")
            dname = parts[0]
            if dname == "metric_time" and "metric_time" not in sem.dimensions:
                # MetricFlow's canonical time dimension: an alias for the
                # measure model's first time-type dimension, so queries
                # need not know each model's time-dim name. The OUTPUT
                # column keeps the requested metric_time[__grain] name.
                tds = [
                    d.name
                    for d in sem.dimensions.values()
                    if d.type == "time"
                ]
                if not tds:
                    raise KeyError(
                        f"metric_time: model {sem.name!r} has no time "
                        "dimension"
                    )
                dim = sem.dimensions[tds[0]]
                grain = parts[1] if len(parts) > 1 else ""
                eff = grain or time_grain or dim.grain
                expr = F.date_trunc(eff, F.expr(dim.expr or dim.name))
                dim_cols.append(expr.alias(g))
                out_names.append(g)
                time_outs.append(g)
                time_grains[g] = eff
                continue
            if dname in sem.dimensions:
                grain = parts[1] if len(parts) > 1 else ""
                dim = sem.dimensions[dname]
                expr = F.expr(dim.expr or dim.name)
                if dim.type == "time":
                    eff = grain or time_grain or dim.grain
                    expr = F.date_trunc(eff, expr)
                    out_name = g if grain else dname
                    time_outs.append(out_name)
                    time_grains[out_name] = eff
                else:
                    out_name = dname
                dim_cols.append(expr.alias(out_name))
                out_names.append(out_name)
            elif dname in sem.entities and len(parts) >= 2:
                # entity[__entity...]__dim[__grain]: dimension of another
                # semantic model, reached through a chain of foreign
                # entities (MetricFlow multi-hop join resolution). Walk
                # the chain: each next part that is a FOREIGN entity on
                # the current hop's model (and not one of its dimensions
                # — dimensions win a name tie, matching MetricFlow's
                # ambiguity rule) extends the chain; the first
                # non-entity part must be a dimension of the final model.
                chain = [dname]
                target = self._primary_model(dname)
                idx = 1
                while (
                    idx < len(parts)
                    and parts[idx] not in target.dimensions
                    and parts[idx] in target.entities
                    and target.entities[parts[idx]].type == "foreign"
                ):
                    chain.append(parts[idx])
                    target = self._primary_model(parts[idx])
                    idx += 1
                dim = (
                    target.dimensions.get(parts[idx])
                    if idx < len(parts)
                    else None
                )
                if dim is None:
                    missing = parts[idx] if idx < len(parts) else "<none>"
                    raise KeyError(
                        f"unknown dimension {missing!r} on {target.name} "
                        f"(via entity chain {'__'.join(chain)!r})"
                    )
                grain = parts[idx + 1] if len(parts) > idx + 1 else ""
                expr = F.expr(dim.expr or dim.name)
                if dim.type == "time":
                    eff = grain or time_grain or dim.grain
                    expr = F.date_trunc(eff, expr)
                    time_outs.append(g)
                    time_grains[g] = eff
                joins.setdefault(tuple(chain), []).append((g, expr))
                dim_cols.append(F.col(g))
                out_names.append(g)
            else:
                raise KeyError(f"unknown dimension {dname!r} on {sem.name}")

        # Render MetricFlow filter templates BEFORE executing the joins:
        # a {{ Dimension('entity__dim') }} in the query's where or in any
        # needed metric's filter may add hidden entity-chain joins.
        rendered_where = (
            self._render_filter(sem, where, joins, time_grain)
            if where and not filter_metric_names
            else None
        )
        rendered_filters = {
            n: self._render_filter(
                sem, self.metrics[n].filter, joins, time_grain
            )
            for n in needed
            if self.metrics[n].filter
        }

        for chain, cols in joins.items():
            # One LEFT star join per entity CHAIN: the dim side is built
            # innermost-out — the final model pruned to (pk + requested
            # dim exprs), each intermediate model pruned to (pk + next
            # hop's fk) — so no hop ever ships a wide table, and
            # Catalyst/AQE broadcast the pruned build sides when small.
            # The fact table sees exactly ONE join per chain.
            frame = None
            for i in range(len(chain) - 1, -1, -1):
                hop_model = self._primary_model(chain[i])
                pk = hop_model.entities[chain[i]]
                hdf = self.project._resolve_for_adhoc(hop_model.model)
                if frame is None:
                    frame = hdf.select(
                        F.expr(pk.expr or pk.name).alias(f"__pk_{chain[i]}"),
                        *[e.alias(n) for n, e in cols],
                    )
                else:
                    nxt = chain[i + 1]
                    fk_next = hop_model.entities[nxt]
                    hop = hdf.select(
                        F.expr(pk.expr or pk.name).alias(f"__pk_{chain[i]}"),
                        F.expr(fk_next.expr or fk_next.name).alias(
                            f"__fk_{nxt}"
                        ),
                    )
                    frame = hop.join(
                        frame,
                        F.col(f"__fk_{nxt}") == F.col(f"__pk_{nxt}"),
                        "left",
                    ).drop(f"__fk_{nxt}", f"__pk_{nxt}")
            fk = sem.entities[chain[0]]
            df = df.join(
                frame,
                F.expr(fk.expr or fk.name) == F.col(f"__pk_{chain[0]}"),
                "left",
            ).drop(f"__pk_{chain[0]}")

        if rendered_where:
            # After entity joins, so filters may reference joined dims.
            df = df.filter(rendered_where)

        aggs = []
        non_additive: list[tuple[str, Metric, Measure]] = []
        for mname in sorted(needed):
            metric = self.metrics[mname]
            ms = sem.measures[metric.measure]
            if ms.non_additive:
                if metric.type == "cumulative":
                    raise ValueError(
                        f"cumulative metric {mname!r}: measure {ms.name!r} "
                        "is semi-additive (non_additive_dimension) — "
                        "accumulating it across its own window dimension "
                        "is undefined"
                    )
                # Semi-additive measures cannot ride the single groupBy
                # (summing balances across the non-additive dimension is
                # exactly the bug the feature exists to prevent); each
                # gets its own window-choice frame joined in below.
                non_additive.append((mname, metric, ms))
                continue
            expr = F.expr(ms.expr or (ms.name if ms.agg != "count" else "1"))
            # Per-metric filters compile to conditional aggregation inside
            # the single groupBy (dbt: filters live on the metric), so a
            # filtered metric never forces a second scan.
            if metric.filter:
                expr = F.when(
                    F.expr(rendered_filters.get(mname, metric.filter)), expr
                )
            if metric.type == "cumulative" and ms.agg == "avg":
                # A cumulative avg cannot re-aggregate avg-of-bucket-avgs,
                # but it DECOMPOSES exactly: keep the bucket's partial
                # sum and non-null count; _apply_cumulative accumulates
                # both and divides — identical to MetricFlow's
                # fact-grain avg, with no second fact scan.
                aggs.append(F.sum(expr).alias(f"__m_{mname}__csum"))
                aggs.append(F.count(expr).alias(f"__m_{mname}__ccnt"))
            else:
                aggs.append(_measure_agg(ms, expr).alias(f"__m_{mname}"))

        grouped = None
        if aggs:
            grouped = (
                df.groupBy(*dim_cols).agg(*aggs)
                if dim_cols
                else df.agg(*aggs)
            )
            grouped = self._apply_cumulative(grouped, needed, out_names, time_outs)

        for cm in conversions:
            cframe = self._conversion_frame(cm, sem, df, dim_cols, out_names)
            grouped = cframe if grouped is None else _dim_join(
                grouped, cframe, out_names
            )

        for mname, metric, ms in non_additive:
            naf = self._non_additive_frame(
                mname, metric, ms, sem, df, dim_cols, out_names,
                rendered_filters,
            )
            grouped = naf if grouped is None else _dim_join(
                grouped, naf, out_names
            )

        # The spine (bounds agg + dim-combo cross + left join) and each
        # offset self-join all re-consume the bucket frame; without a
        # lineage pin Catalyst re-runs the FACT scan + aggregation once
        # per consumer (measured: 4 full scans on sem6's shape). The
        # frame is bucket-sized (KBs), so a lazy localCheckpoint
        # materializes it once and every consumer reads that.
        wants_spine = grouped is not None and any(
            self.metrics[n].join_to_timespine for n in needed
        )
        wants_offsets = grouped is not None and bool(
            self._collect_offset_inputs(mobjs)
        )
        if wants_spine or wants_offsets:
            grouped = grouped.localCheckpoint(eager=False)
        grouped = self._join_timespine(
            grouped, needed, out_names, time_outs, time_grains
        )
        grouped = self._apply_offsets(grouped, mobjs, out_names, time_outs)

        if where and filter_metric_names:
            # HAVING on the compiled frame: __m_ columns (cumulatives
            # already accumulated in place) + group_by outputs are all in
            # scope here; filter metrics aggregate but never surface.
            grouped = grouped.filter(
                F.expr(
                    self._render_post_agg_filter(
                        where, out_names, time_grain, time_grains
                    )
                )
            )

        out_cols = [c for c in grouped.columns if not c.startswith("__m_")]
        metric_cols = []
        for m in mobjs:
            c = self._metric_col(m)
            if m.fill_nulls_with is not None:
                c = F.coalesce(c, F.lit(m.fill_nulls_with))
            metric_cols.append(c.alias(m.name))
        return grouped.select(*out_cols, *metric_cols)

    def _join_timespine(
        self,
        grouped: DataFrame,
        needed: set[str],
        out_names: list[str],
        time_outs: list[str],
        time_grains: dict[str, str],
    ) -> DataFrame:
        """MetricFlow ``join_to_timespine``: extend the aggregated bucket
        frame to EVERY bucket between its min and max time at the query
        grain — per categorical-dim combination — so gap buckets surface
        (as NULL metrics, then ``fill_nulls_with``). Everything here runs
        on the ALREADY-aggregated frame: bounds are one tiny aggregate,
        the spine is one ``sequence()`` explode, and the dim-combo cross
        join is tiny × tiny (Catalyst broadcasts it), so the spine never
        touches fact-table scale.

        If the project defines a ``metricflow_time_spine`` model (dbt's
        convention: a calendar table with a ``date_day`` column), its
        day rows — truncated to the query grain and deduped — are the
        spine instead, restricted to the observed [min, max] window so a
        decades-wide calendar doesn't explode a narrow query (dbt's
        compiled SQL applies the same range restriction). Documented
        divergence: cumulative metrics accumulate BEFORE the spine join,
        so spine-only buckets hold NULL cumulatives."""
        # The needed-closure (simple/cumulative metrics actually
        # aggregated) drives the decision, so a derived metric whose
        # INPUT requests the spine still gets it.
        if not any(self.metrics[n].join_to_timespine for n in needed):
            return grouped
        if not time_outs:
            raise ValueError(
                "join_to_timespine needs a time dimension in group_by"
            )
        tcol = time_outs[0]
        step = _grain_interval(time_grains[tcol])
        bounds = grouped.select(
            F.min(tcol).alias("__lo"), F.max(tcol).alias("__hi")
        )
        if "metricflow_time_spine" in self.project.nodes:
            cal = self.project._resolve_for_adhoc("metricflow_time_spine")
            spine = (
                cal.select(
                    F.date_trunc(
                        time_grains[tcol], F.col("date_day")
                    ).alias(tcol)
                )
                .distinct()
                .join(
                    F.broadcast(bounds),
                    (F.col(tcol) >= F.col("__lo"))
                    & (F.col(tcol) <= F.col("__hi")),
                )
                .drop("__lo", "__hi")
            )
        else:
            spine = bounds.select(
                F.explode(
                    F.sequence(F.col("__lo"), F.col("__hi"), F.expr(step))
                ).alias(tcol)
            )
        others = [c for c in out_names if c != tcol]
        full = (
            spine
            if not others
            else grouped.select(*others).distinct().crossJoin(spine)
        )
        g = grouped
        for c in out_names:
            g = g.withColumnRenamed(c, f"__g_{c}")
        cond = None
        for c in out_names:
            e = F.col(c).eqNullSafe(F.col(f"__g_{c}"))
            cond = e if cond is None else (cond & e)
        joined = full.join(g, cond, "left").drop(
            *[f"__g_{c}" for c in out_names]
        )
        # NULL time buckets are real groups (consistent with _dim_join's
        # eqNullSafe handling of NULL dims) but can never match a spine
        # row — union them back rather than silently dropping them.
        null_buckets = grouped.filter(F.col(tcol).isNull())
        return joined.unionByName(null_buckets.select(*joined.columns))

    def _collect_offset_inputs(
        self, mobjs: list[Metric]
    ) -> list[tuple[Metric, MetricInput]]:
        """Offset inputs reached through the METRIC CLOSURE, not just the
        top-level queried metrics: a derived metric referencing another
        derived metric whose inputs carry ``offset_window`` compiles (via
        _metric_sql substitution) to ``__m_<alias>`` columns, so those
        inner inputs must be materialized too — collecting only top-level
        inputs left them unresolved (AnalysisException, not a clear
        error). Ratio legs and bare expr references are walked as well;
        ``seen`` bounds diamonds (a true cycle already failed in
        _metric_sql's up-front validation)."""
        offs: list[tuple[Metric, MetricInput]] = []
        seen: set[str] = set()

        def walk(m: Metric) -> None:
            if m.name in seen:
                return
            seen.add(m.name)
            if m.type == "ratio":
                walk(self.metrics[m.numerator])
                walk(self.metrics[m.denominator])
                return
            if m.type != "derived":
                return
            aliased = set()
            for mi in m.inputs:
                aliased.add(mi.alias or mi.name)
                if mi.offset_window or mi.offset_to_grain:
                    offs.append((m, mi))
                walk(self.metrics[self._input_target(mi)])
            # expr may reference metrics with no inputs entry (bare-name
            # substitution — sem9's derived-over-derived shape). Same
            # tokenizer as _metric_sql's sub: a metric name inside a
            # string literal or used as a function name is NOT walked,
            # so no unrelated offset metric gets pulled into the join
            # set with __m_ columns that were never computed.
            for name in _expr_bare_names(m.expr or ""):
                if name in self.metrics and name not in aliased:
                    walk(self.metrics[name])

        for m in mobjs:
            walk(m)
        return offs

    def _apply_offsets(
        self,
        grouped: DataFrame,
        mobjs: list[Metric],
        out_names: list[str],
        time_outs: list[str],
    ) -> DataFrame:
        """Materialize each derived metric's ``offset_window`` inputs
        (MetricFlow period-over-period): a self-join of the tiny bucket
        frame shifted forward by the offset, so ``__m_<alias>`` holds the
        referenced metric's value from N grains earlier. A join, not a
        LAG window: gaps in the bucket sequence must offset by TIME, and
        a ROWS lag would silently read the wrong bucket across a gap.
        Inputs are collected through the metric closure (see
        _collect_offset_inputs), so nested offset inputs materialize."""
        offs = self._collect_offset_inputs(mobjs)
        if not offs:
            return grouped
        if not time_outs:
            raise ValueError(
                "offset_window inputs need a time dimension in group_by"
            )
        tcol = time_outs[0]
        others = [c for c in out_names if c != tcol]
        seen_aliases: dict[str, str] = {}
        for m, mi in offs:
            if not mi.alias:
                raise ValueError(
                    f"derived metric {m.name!r}: offset input {mi.name!r} "
                    "needs an alias"
                )
            owner = seen_aliases.setdefault(mi.alias, m.name)
            if owner != m.name:
                # Two derived metrics sharing an alias would each add a
                # __m_<alias> column — ambiguous reference downstream.
                raise ValueError(
                    f"offset alias {mi.alias!r} is used by both "
                    f"{owner!r} and {m.name!r}; aliases must be unique "
                    "within a query"
                )
        # Dependency order, not walk order: an offset input whose TARGET
        # is derived-with-its-own-offsets reads __m_<inner alias> columns
        # in its shifted value expression, so those inner aliases must
        # join first. The whole-row self-join then composes the shifts
        # (the row at t - outer carries the inner value at
        # (t - outer) - inner). Kahn-style rounds over the tiny input
        # list; a stall is unreachable (cycles already failed in
        # _metric_sql's up-front validation) but guarded anyway.
        pending = list(offs)
        done: set[str] = set()
        while pending:
            rest: list[tuple[Metric, MetricInput]] = []
            progress = False
            for m, mi in pending:
                inner = self.metrics[self._input_target(mi)]
                needs = {
                    i.alias
                    for _, i in self._collect_offset_inputs([inner])
                    if i.alias
                }
                if not needs <= done:
                    rest.append((m, mi))
                    continue
                progress = True
                # Any metric type may be offset: cumulative __m_ columns
                # are already accumulated (offsets run after
                # _apply_cumulative), conversions arrive pre-joined, and
                # ratio/derived compile to an expression over __m_
                # columns evaluated AT the shifted bucket (the metric's
                # value as of t - offset).
                if inner.type in ("simple", "cumulative", "conversion"):
                    val = F.col(f"__m_{inner.name}")
                else:
                    val = F.expr(self._metric_sql(inner))
                if mi.offset_window and mi.offset_to_grain:
                    raise ValueError(
                        f"derived metric {m.name!r}: input {mi.name!r} "
                        "sets both offset_window and offset_to_grain — "
                        "they are mutually exclusive"
                    )
                if mi.offset_window:
                    # Period-over-period: the shifted frame's bucket moves
                    # FORWARD by the window, so the join reads the value
                    # from t - window.
                    shift = _grain_interval(mi.offset_window)
                    s_key = (F.col(tcol) + F.expr(shift)).alias(f"__s_{tcol}")
                    probe = F.col(tcol)
                else:
                    # offset_to_grain: every bucket reads the value at the
                    # FIRST bucket of its enclosing grain period
                    # (vs-start-of-month/year) — join the raw shifted
                    # bucket against date_trunc(grain, t). Validate the
                    # grain through the same parser the spine uses.
                    _grain_interval(mi.offset_to_grain)
                    s_key = F.col(tcol).alias(f"__s_{tcol}")
                    probe = F.date_trunc(
                        mi.offset_to_grain.strip().lower().rstrip("s"),
                        F.col(tcol),
                    )
                shifted = grouped.select(
                    *[F.col(c).alias(f"__s_{c}") for c in others],
                    s_key,
                    val.alias(f"__m_{mi.alias}"),
                )
                cond = probe.eqNullSafe(F.col(f"__s_{tcol}"))
                for c in others:
                    cond = cond & F.col(c).eqNullSafe(F.col(f"__s_{c}"))
                grouped = grouped.join(shifted, cond, "left").drop(
                    f"__s_{tcol}", *[f"__s_{c}" for c in others]
                )
                done.add(mi.alias)
            if not progress:
                stuck = sorted(mi.alias or mi.name for _, mi in pending)
                raise ValueError(
                    f"offset inputs {stuck} form an unresolvable "
                    "dependency cycle"
                )
            pending = rest
        return grouped

    def _apply_cumulative(
        self,
        grouped: DataFrame,
        needed: set[str],
        out_names: list[str],
        time_outs: list[str],
    ) -> DataFrame:
        """Rewrite each cumulative metric's per-bucket ``__m_`` column into
        its accumulated value via a window over the bucketed frame. The
        window runs over the FIRST time dimension in ``group_by``; other
        dims partition. A trailing ``window: N days`` uses a RANGE frame on
        epoch days, so missing buckets cannot stretch the window (a ROWS
        frame would); ``grain_to_date`` restarts the running total at each
        period boundary by adding the period to the partition key.

        Measure aggs: sum/count accumulate with SUM over bucket partials;
        min/max with MIN/MAX (both re-aggregate exactly — min of bucket
        mins IS the min over all rows in the frame); avg from the bucket's
        partial (sum, count) pair, accumulated separately and divided —
        exactly MetricFlow's fact-grain avg, never avg-of-bucket-avgs.
        count_distinct stays rejected: distinct counts of overlapping
        buckets genuinely do not compose (that path would need a real
        fact re-scan per frame or a sketch with error bounds)."""
        from pyspark.sql import Window

        cums = [n for n in sorted(needed) if self.metrics[n].type == "cumulative"]
        if not cums:
            return grouped
        if not time_outs:
            raise ValueError(
                "cumulative metrics need a time dimension in group_by"
            )
        tcol = time_outs[0]
        part = [c for c in out_names if c != tcol]
        epoch_days = F.datediff(F.col(tcol).cast("date"), F.lit("1970-01-01"))
        for name in cums:
            m = self.metrics[name]
            ms = self._measure_of(m)
            if ms.agg not in (
                "sum", "count", "avg", "min", "max", "sum_boolean"
            ):
                raise ValueError(
                    f"cumulative metric {name!r}: measure agg "
                    f"{ms.agg!r} does not decompose over buckets "
                    "(count_distinct / median / percentile of "
                    "overlapping frames cannot be re-aggregated from "
                    "partials)"
                )
            if m.window:
                n, unit = _parse_window(m.window)
                if unit == "month":
                    # Calendar months are not fixed-length, so a RANGE
                    # frame cannot express the trailing window; compile
                    # to a self-join of the (tiny, post-aggregation)
                    # bucket frame on b2 ∈ (b1 - INTERVAL n MONTH, b1].
                    grouped = self._cumulative_calendar_window(
                        grouped, name, ms.agg, n, part, tcol
                    )
                    continue
                w = (
                    Window.partitionBy(*part)
                    .orderBy(epoch_days)
                    .rangeBetween(-(n - 1), 0)
                )
            elif m.grain_to_date:
                # ROWS frames order by the raw bucket value: epoch DAYS
                # would tie every bucket of a day at sub-day grains
                # (metric_time__hour), making running totals
                # nondeterministic among tied rows.
                w = (
                    Window.partitionBy(
                        *part, F.date_trunc(m.grain_to_date, F.col(tcol))
                    )
                    .orderBy(F.col(tcol))
                    .rowsBetween(Window.unboundedPreceding, 0)
                )
            else:
                w = (
                    Window.partitionBy(*part)
                    .orderBy(F.col(tcol))
                    .rowsBetween(Window.unboundedPreceding, 0)
                )
            if ms.agg == "avg":
                csum = F.sum(F.col(f"__m_{name}__csum")).over(w)
                ccnt = F.sum(F.col(f"__m_{name}__ccnt")).over(w)
                # when() guards the all-filtered frame (count 0): NULL,
                # like avg over no rows — never an ANSI divide-by-zero.
                # double/double division (not decimal division + cast):
                # engines disagree on decimal-division result scale, but
                # IEEE double ops are bit-identical — the repo's
                # cross-engine exactness rule (queries/core.py).
                grouped = grouped.withColumn(
                    f"__m_{name}",
                    F.when(
                        ccnt > 0, csum.cast("double") / ccnt.cast("double")
                    ),
                ).drop(f"__m_{name}__csum", f"__m_{name}__ccnt")
            else:
                fn = F.min if ms.agg == "min" else (
                    F.max if ms.agg == "max" else F.sum
                )
                grouped = grouped.withColumn(
                    f"__m_{name}", fn(F.col(f"__m_{name}")).over(w)
                )
        return grouped

    def _cumulative_calendar_window(
        self,
        grouped: DataFrame,
        name: str,
        agg: str,
        n_months: int,
        part: list[str],
        tcol: str,
    ) -> DataFrame:
        """Trailing ``window: N months`` cumulative: for each bucket b the
        accumulated value re-aggregates buckets in
        ``(b - INTERVAL N MONTH, b]`` — the calendar analog of the day
        path's ``[b - (N-1) days, b]`` RANGE frame (both say "a span of
        exactly one window ending at b, inclusive"). Compiled as a
        self-join of the post-aggregation bucket frame: tiny × tiny
        (buckets, not facts), broadcast by AQE, so the quadratic term is
        bounded by buckets-per-window, not corpus size. NULL time buckets
        accumulate only themselves (interval arithmetic on NULL is NULL),
        matching the day path where NULLs sort into their own frame.

        ``agg`` follows _apply_cumulative's decomposition rules: sum/count
        SUM the partials, min/max re-MIN/MAX them, avg accumulates the
        bucket (sum, count) pair and divides."""
        val = f"__m_{name}"
        if agg == "avg":
            srcs = [(f"{val}__csum", F.sum), (f"{val}__ccnt", F.sum)]
        elif agg in ("min", "max"):
            srcs = [(val, F.min if agg == "min" else F.max)]
        else:
            srcs = [(val, F.sum)]
        sk = grouped.select(
            *part,
            tcol,
            *[F.col(s).alias(f"__v{i}") for i, (s, _) in enumerate(srcs)],
        )
        r = sk.select(
            *[F.col(c).alias(f"__r_{c}") for c in part],
            F.col(tcol).alias("__r_t"),
            *[F.col(f"__v{i}") for i in range(len(srcs))],
        )
        lo = F.col(tcol) - F.expr(f"INTERVAL {n_months} MONTH")
        cond = ((F.col("__r_t") > lo) & (F.col("__r_t") <= F.col(tcol))) | (
            F.col("__r_t").isNull() & F.col(tcol).isNull()
        )
        for c in part:
            cond = cond & F.col(c).eqNullSafe(F.col(f"__r_{c}"))
        keys = [*part, tcol]
        cum = (
            sk.select(*keys)
            .join(r, cond, "left")
            .groupBy(*keys)
            .agg(
                *[
                    fn(F.col(f"__v{i}")).alias(f"__cum{i}")
                    for i, (_, fn) in enumerate(srcs)
                ]
            )
        )
        if agg == "avg":
            # double/double division — see _apply_cumulative's avg note.
            final = F.when(
                F.col("__cum1") > 0,
                F.col("__cum0").cast("double")
                / F.col("__cum1").cast("double"),
            )
        else:
            final = F.col("__cum0")
        cum = cum.select(
            *[F.col(c).alias(f"__k_{c}") for c in keys],
            final.alias("__cum"),
        )
        jc = None
        for c in keys:
            e = F.col(c).eqNullSafe(F.col(f"__k_{c}"))
            jc = e if jc is None else (jc & e)
        return (
            grouped.drop(val, f"{val}__csum", f"{val}__ccnt")
            .join(cum, jc, "left")
            .drop(*[f"__k_{c}" for c in keys])
            .withColumnRenamed("__cum", val)
        )

    def _primary_model(self, entity: str) -> SemanticModel:
        """The semantic model whose PRIMARY entity is ``entity`` — the
        join target for entity__dim group-bys."""
        for sem in self.models.values():
            en = sem.entities.get(entity)
            if en is not None and en.type == "primary":
                return sem
        raise KeyError(
            f"no semantic model has {entity!r} as its primary entity"
        )

    def _measure_of(self, metric: Metric) -> Measure:
        for sem in self.models.values():
            if metric.measure in sem.measures:
                return sem.measures[metric.measure]
        raise KeyError(metric.measure)

    def _non_additive_frame(
        self,
        mname: str,
        metric: Metric,
        ms: Measure,
        sem: SemanticModel,
        df: DataFrame,
        dim_cols: list,
        out_names: list[str],
        rendered_filters: dict[str, str],
    ) -> DataFrame:
        """Compile one metric over a SEMI-ADDITIVE measure (MetricFlow
        ``non_additive_dimension``): within each query bucket, only the
        rows at the measure's ``window_choice`` (min/max) of the named
        time dimension count — chosen per ``window_groupings`` entity —
        then the measure agg runs across those rows. The canonical case:
        monthly total balance = each account's balance at its LATEST
        balance date in the month, summed across accounts.

        Shape: one window (max/min of the non-additive dim over
        query-dims × groupings) + an equality filter keeping ALL rows at
        the chosen value (ties included — the same rows MetricFlow's
        compiled equality join against the subquery max keeps), then one
        aggregation at the query grain. Scale: the window shuffles on
        (dims, groupings) — high-cardinality, unskewed when the grouping
        entity is (accounts, users); the follow-up aggregation consumes
        the already-filtered (much smaller) picked set. Rows with a NULL
        non-additive dimension never match the chosen value and drop,
        like MetricFlow's join-on-equality.
        """
        from pyspark.sql import Window

        nad = ms.non_additive
        choice = str(nad.get("window_choice", "max")).lower()
        if choice not in ("min", "max"):
            raise ValueError(
                f"measure {ms.name!r}: non_additive_dimension "
                f"window_choice must be min or max, got {choice!r}"
            )
        na_name = nad["name"]
        na_dim = sem.dimensions.get(na_name)
        na_expr = F.expr((na_dim.expr or na_dim.name) if na_dim else na_name)
        groupings = list(nad.get("window_groupings") or [])

        def g_expr(g: str) -> F.Column:
            en = sem.entities.get(g)
            return F.expr(en.expr or en.name) if en else F.expr(g)

        rows = df
        if metric.filter:
            rows = rows.filter(
                F.expr(rendered_filters.get(mname, metric.filter))
            )
        val = F.expr(ms.expr or (ms.name if ms.agg != "count" else "1"))
        gcols = [f"__nag_{i}" for i in range(len(groupings))]
        proj = rows.select(
            *dim_cols,
            *[g_expr(g).alias(c) for g, c in zip(groupings, gcols)],
            na_expr.alias("__na"),
            val.alias("__v"),
        )
        w = Window.partitionBy(*out_names, *gcols)
        pick = (F.max if choice == "max" else F.min)(F.col("__na")).over(w)
        picked = proj.withColumn("__pick", pick).filter(
            F.col("__na") == F.col("__pick")
        )
        agg = _measure_agg(ms, F.col("__v")).alias(f"__m_{mname}")
        return (
            picked.groupBy(*out_names).agg(agg)
            if out_names
            else picked.agg(agg)
        )

    def _conversion_frame(
        self,
        metric: Metric,
        sem: SemanticModel,
        df: DataFrame,
        dim_cols: list,
        out_names: list[str],
    ) -> DataFrame:
        """Compile one conversion metric (dbt ``conversion_type_params``):
        base events left-SEMI-joined to conversion events on the entity
        with a time-range predicate — each base event counts once however
        many conversion events match, and the join is a keyed equi-join on
        the entity (range predicate applied post-match), so it scales like
        any other keyed join; no cross product, no window over raw events.

        Event time is the model's first time-type dimension (raw, not
        truncated). A base row is one where the base measure's expr is
        non-NULL (measure semantics: count/sum skip NULLs), likewise for
        conversion rows."""
        time_dims = [d for d in sem.dimensions.values() if d.type == "time"]
        if not time_dims:
            raise ValueError(
                f"conversion metric {metric.name!r}: model {sem.name!r} "
                "has no time dimension for event ordering"
            )
        t_expr = F.expr(time_dims[0].expr or time_dims[0].name)
        base_ms = sem.measures[metric.base_measure]
        conv_ms = sem.measures[metric.conversion_measure]
        ent = metric.entity

        def rows(ms: Measure) -> DataFrame:
            sel = F.expr(ms.expr or (ms.name if ms.agg != "count" else "1"))
            return df.filter(sel.isNotNull())

        props = metric.constant_properties
        base = rows(base_ms).select(
            F.col(ent).alias("__e"),
            t_expr.alias("__t"),
            *[
                F.expr(p["base_property"]).alias(f"__p{i}")
                for i, p in enumerate(props)
            ],
            *dim_cols,
        )
        conv = rows(conv_ms).select(
            F.col(ent).alias("__ce"),
            t_expr.alias("__ct"),
            *[
                F.expr(p["conversion_property"]).alias(f"__cp{i}")
                for i, p in enumerate(props)
            ],
        )
        cond = (F.col("__e") == F.col("__ce")) & (F.col("__ct") >= F.col("__t"))
        for i in range(len(props)):
            # Constant property: the conversion must carry the SAME value
            # as the base event. Plain equality (MetricFlow's join rule):
            # a NULL property never matches, like the entity key itself.
            cond = cond & (F.col(f"__p{i}") == F.col(f"__cp{i}"))
        if metric.window:
            # _grain_interval handles hour/day/week/month/quarter/year —
            # a conversion must land within one window of the base event.
            cond = cond & (
                F.col("__ct")
                <= F.col("__t") + F.expr(_grain_interval(metric.window))
            )
        done = base.join(conv, cond, "left_semi")

        def grp(d: DataFrame, alias: str) -> DataFrame:
            keys = [F.col(c) for c in out_names]
            agg = F.count(F.lit(1)).alias(alias)
            return d.groupBy(*keys).agg(agg) if keys else d.agg(agg)

        b = grp(base, f"__m_{metric.name}__base")
        c = grp(done, f"__m_{metric.name}__done")
        joined = _dim_join(b, c, out_names)
        done_col = F.coalesce(
            F.col(f"__m_{metric.name}__done"), F.lit(0)
        )
        if metric.calculation == "conversions":
            val = done_col
        else:
            val = done_col.cast("double") / F.col(
                f"__m_{metric.name}__base"
            ).cast("double")
        return joined.select(
            *out_names, val.alias(f"__m_{metric.name}")
        )
