"""Engine-level layout awareness: catalog-discovered scan substitution.

Round 13 proved the value of routing ad-hoc star joins to the
engine-owned bucketed layout (6.4x -> 1.6-1.8x vs DuckDB at 960M rows,
BENCH_SCANFLOOR_r13) — but the routing lived in three hardcoded registry
functions that knew exactly one layout. This module generalizes it into
an ENGINE RULE, the join-side analogue of the semantic layer's
aggregate-awareness rollup discovery (plans/semantics.py
discover_rollups): any layout table whose sidecar declares the
substitution contract is discovered from the warehouse and swapped in
for the raw scan of the relation it covers — in USER-AUTHORED models
(SQL-string or Python) resolved through the Project registry, not just
in the engine's own queries.

The substitution contract (written at build time by plans/star_layout.py's
generic ensure for every ``Derived`` declaration with ``covers=True`` —
today the bucketed star pair and the cents lineitem — as fields of the
``_dbt_layout_spec.json`` sidecar):

- ``covers``: the logical source relation this layout can substitute.
- ``covers_paths``: the covered relation's file paths — a candidate
  scan MATCHES when its input-file set equals this listing. Matching is
  purely physical (files, not names), so it works for any DataFrame
  however the user loaded it.
- ``source_paths`` + ``source_fp``: ALL derivation inputs and their
  fingerprint at build time (plans/fingerprint.py). Routing recomputes
  the fingerprint per use — metadata-only, pure os.stat — and refuses a
  stale layout: ``star_layout.routable``, the one check the ad-hoc
  ``star_layout.route`` applies too.
- ``source_columns``: the covered relation's exact column list.
  ``SELECT source_columns FROM layout`` is row- and schema-identical to
  the raw scan BY BUILD CONTRACT (identity-plus-enrichment frames;
  row-count parity machine-checked at build for derived layouts — the
  star_layout.STAR_CUSTMAP proof), so the swap is sound in ANY plan:
  ``SELECT *``, joins, aggregates, everything.
- ``route_gate_paths``: files whose current on-disk size must reach
  ``ROUTE_MIN_FACT_BYTES`` for the group to route (the star group's
  fact) — below it the raw broadcast plan wins (measured, see
  star_layout.ROUTE_MIN_FACT_BYTES).

Scale design: discovery is one warehouse listing + one tiny JSON read
per layout (cached per session, re-verified per use); every per-use
check is O(source files) driver-side metadata — the same listing any
planner pays to enumerate splits. The payoff is the 100 TB fact never
shuffling: a user model joining orders⋈customer on the bucket key gets
two co-bucketed scans and an exchange-free join without knowing the
layout exists. Fallback is silent and NEVER builds — exactly the
``star_layout.route`` contract.

Reference parity: dbt users get this by hand — they point ``ref()`` at
a pre-built mart. Here the engine does the pointing, with a freshness
proof.
"""

from __future__ import annotations

import os

from py4j.protocol import Py4JError
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, SparkSession

from .star_layout import (
    LAYOUT_SIDECAR,
    _file_sizes,
    _warehouse_path,
    routable,
)

#: Per-session discovery cache: warehouse dir -> (listing fingerprint,
#: [(table, spec), ...]). The LISTING is cached; every spec's freshness
#: fingerprint is re-verified per use (os.stat only).
_DISCOVERY_CACHE: dict[str, tuple[str, list[tuple[str, dict]]]] = {}


def discover_layouts(spark: SparkSession) -> list[tuple[str, dict]]:
    """All substitution-capable layouts in the warehouse:
    ``(table_name, spec)`` for every directory carrying a layout sidecar
    that declares ``covers``. One os.listdir of the warehouse + one JSON
    read per layout dir, cached per (warehouse, dir-listing) — adding or
    rebuilding a layout invalidates the cache because the dir set or the
    sidecar mtimes change."""
    from .fingerprint import read_sidecar

    wh = _warehouse_path(spark, "")
    try:
        entries = sorted(os.listdir(wh))
    except OSError:
        return []
    # cache key: dir names + sidecar mtimes (a rebuild rewrites the
    # sidecar; a new layout adds a dir)
    stamp_parts = []
    for d in entries:
        sc = os.path.join(wh, d, LAYOUT_SIDECAR)
        try:
            stamp_parts.append(f"{d}|{os.stat(sc).st_mtime_ns}")
        except OSError:
            continue
    stamp = "\n".join(stamp_parts)
    cached = _DISCOVERY_CACHE.get(wh)
    if cached is not None and cached[0] == stamp:
        return cached[1]
    found: list[tuple[str, dict]] = []
    for d in entries:
        spec = read_sidecar(os.path.join(wh, d), LAYOUT_SIDECAR)
        if spec and spec.get("covers") and spec.get("source_columns"):
            found.append((spec["table"], spec))
    _DISCOVERY_CACHE[wh] = (stamp, found)
    return found


def _norm_input_files(df: DataFrame) -> set[str]:
    out: set[str] = set()
    for f in df.inputFiles():
        if f.startswith("file:"):
            out.add("/" + f.split(":", 1)[1].lstrip("/"))
        else:
            out.add(f)
    return out


#: Analyzed-plan nodes that cannot change the row set or values of the
#: underlying scan: the relation leaf itself plus pure naming wrappers.
#: Everything else (Filter, Project, Join, GlobalLimit, Sample, window,
#: expression-rewriting nodes, ...) disqualifies the frame from
#: substitution — refusal only costs the optimization, never rows.
_BARE_SCAN_NODES = frozenset({"LogicalRelation", "SubqueryAlias", "View"})


def _is_bare_scan(df: DataFrame) -> bool:
    """True iff ``df``'s analyzed logical plan is a bare relation scan —
    no Filter/Project/Join/Limit/expression node anywhere above the
    leaf. This is the load-bearing half of the substitution guard: a
    frame like ``raw.filter(cond)`` keeps the raw scan's inputFiles(),
    columns, AND schema, so the physical-identity checks alone would
    happily swap in the UNFILTERED layout (silent wrong rows). Walking
    the analyzed plan closes that hole; any JVM-access failure or
    unknown node name refuses (falls back to the raw scan)."""
    try:
        stack = [df._jdf.queryExecution().analyzed()]
        while stack:
            node = stack.pop()
            if node.nodeName() not in _BARE_SCAN_NODES:
                return False
            children = node.children()
            for i in range(children.size()):
                stack.append(children.apply(i))
        return True
    except (Py4JError, PySparkException):
        return False


def route_source(spark: SparkSession, df: DataFrame) -> DataFrame | None:
    """The engine rule: if ``df`` is a raw scan of a relation some fresh
    layout covers, return the layout-backed equivalent (projected to the
    relation's exact columns — row- and schema-identical by the build
    contract), else None. Matching is physical AND exact: ``df``'s
    input-file set must EQUAL the layout's recorded ``covers_paths``
    listing, its columns must be the relation's original projection, AND
    its analyzed logical plan must be a bare relation scan
    (``_is_bare_scan``) — however the user loaded the files, but never a
    pre-transformed (filtered/projected/rewritten) view of them. Every
    check is metadata-only; fallback is silent; never builds."""
    layouts = discover_layouts(spark)
    if not layouts:
        return None
    try:
        files = _norm_input_files(df)
    except (Py4JError, PySparkException):
        return None  # no file listing to match (the JVM refused it)
    if not files:
        return None  # in-memory frame: nothing to match
    if not _is_bare_scan(df):
        # a Filter (or value-rewriting Project) keeps the raw scan's
        # files/columns/schema but changes rows or values — only the
        # untouched relation is substitutable
        return None
    for tbl, spec in layouts:
        covered = _file_sizes(spec["covers_paths"])
        if covered is None or set(covered) != files:
            continue
        if list(df.columns) != list(spec["source_columns"]):
            # right files but a different column view (user pre-projected
            # or the source schema moved under the fingerprint): only the
            # full original relation is substitutable
            continue
        if not routable(spark, spec):
            continue
        routed = spark.table(tbl).select(*spec["source_columns"])
        routed = _bridge_ntz(spark, routed, df)
        if routed is None or routed.schema != df.schema:
            continue  # type drift: refuse rather than cast silently
        return routed
    return None


def _bridge_ntz(
    spark: SparkSession, routed: DataFrame, target: DataFrame
) -> DataFrame | None:
    """Bridge the one benign type drift a layout round-trip introduces:
    parquet written with isAdjustedToUTC=false reads as TIMESTAMP_NTZ
    from the raw file but comes back as TIMESTAMP after the engine's
    pinned-UTC ingest cast (sources/readers.py) + table write. Under a
    UTC session timezone the two carry identical microsecond values, so
    casting is exact; under any other zone the cast would SHIFT instants,
    so refuse (return None -> caller falls back to the raw scan). Any
    other type mismatch also refuses — the caller's schema-equality check
    is the final gate either way."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    tgt = {f.name: f.dataType for f in target.schema.fields}
    cols = []
    needs_utc = False
    for f in routed.schema.fields:
        want = tgt.get(f.name)
        pair = (type(f.dataType), type(want))
        if want is not None and f.dataType != want and pair in (
            (T.TimestampType, T.TimestampNTZType),
            (T.TimestampNTZType, T.TimestampType),
        ):
            needs_utc = True
            cols.append(F.col(f.name).cast(want).alias(f.name))
        else:
            cols.append(F.col(f.name))
    if needs_utc and spark.conf.get("spark.sql.session.timeZone") not in (
        "UTC",
        "Etc/UTC",
        "GMT",
    ):
        return None
    return routed.select(*cols)
