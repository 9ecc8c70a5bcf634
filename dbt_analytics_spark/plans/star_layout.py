"""Engine-owned derived tables: one declaration each, one lifecycle.

The measured residual on the fact⋈dim-then-tiny-agg shape (j1/w3;
reference: models/metrics_monthly.sql:57-59 customer⋈nation⋈region spend
rollup) is the per-query join setup itself: ~1.0 s of driver-side
broadcast build, or an orders-side shuffle, at sf10 — while DuckDB
pipelines a shared-memory build+probe (BENCH_NOTES round-7 session-2
decomposition). The layout answer, measured at 0.73 s with ZERO
exchanges, is to pay one bucketed write up front and join co-located
forever: Hive-style ``bucketBy(n, key).sortBy(key)`` on BOTH sides of
the join key, the same write path the E2 materializer exposes via
``bucket_by=``/``n_buckets=`` (plans/materialize.py) and pins green in
tests/test_engine.py::test_bucketed_tables_join_without_shuffle. The
same trade — one build, many cheap reads — backs the cents-enriched
lineitem, the Z-ordered orders table and the grain rollups that answer
q1/j1/w3/q13/g1 from a few stored partial rows.

Every such table is a :class:`Derived` declaration: its name template and
version, the source tables it derives from (the first one is the covered,
delta-foldable source), an optional bucket column, ``derive(frames)``,
for rollups a ``fold`` that re-aggregates stored partials with a delta's
partials, an optional build-time ``proof`` and the route-gate source. The
lifecycle is written once against the declaration, the way dbt runs every
model through one materialization:

- :func:`ensure` builds once, then reuses what the ``_dbt_layout_spec.json``
  sidecar proves is a complete write of the CURRENT contract (version,
  schema, bucketing, source-file fingerprint) — re-registering the files
  as an external table when only the in-memory catalog entry died with a
  previous session (Spark derives bucket ids from the file names, so a
  re-registered bucketed table joins exchange-free like the original).
- :func:`route` is the ad-hoc read path's check, the same
  :func:`routable` verification plans/layout_catalog.py applies to user
  models: metadata only, never builds, silent fallback.
- :func:`refresh` folds an append-only source change into the stored
  table (append for identity tables, partial re-aggregation for rollups)
  and rebuilds on anything else.
- :func:`register` is the one re-registration of persisted files.

The semantic layer's rollups (plans/semantics.py ``Rollup``) run through the
same lifecycle: each is a ``Derived`` declared at call time over the
semantic model's relation, its spec built from that relation's file
listing, and ``materialize_rollup`` / ``refresh_rollup`` /
``discover_rollups`` are :func:`_ensure` / :func:`_refresh` /
:func:`register` over it — one sidecar name and one table-to-directory
mapping (:func:`_warehouse_path`) serve every derived table.

Verified reuse never constructs a frame or analyzes a plan: the ad-hoc
bench re-verifies layouts per query, and per-call schema analysis was the
r15 j1b regression's root cause. Derived schemas are cached per (app id,
table, source fingerprint).
"""

from __future__ import annotations

import os
import re
import shutil
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import load_testdata
from . import fingerprint

#: Bucket count for the local[32] bench layout; at cluster scale this
#: tracks total cores (and, like any layout choice, is part of the
#: table's physical contract — both join sides must agree).
N_BUCKETS = 32

#: Physical-layout version: bump when the stored schema/derivation
#: changes so stale warehouse files are never re-registered under the
#: new contract. v2 added the o_cents column; v3 switched the codec to
#: zstd (measured at sf10, fresh rewrites same session: scan+agg 0.43 s
#: zstd vs 0.52 s snappy vs 0.46 s uncompressed, j1b 0.60/0.73/0.67 s,
#: and the smallest files — 196M vs 274M/409M — so zstd wins BOTH the
#: decode path and the IO/storage bill; at 100 TB fewer bytes is the
#: dominant term). v4 added n_nationkey to the custmap dim: the r12
#: stage decomposition (BENCH_J1B_STAGES_r12) measured the fact-join
#: residual as STRING PAYLOAD carried through the hash-join probe —
#: keys-only join 2.0 s at 240M rows vs 8.9 s carrying n_name/r_name —
#: so join-heavy rollups prune to the int key, aggregate on it, and
#: attach names to the tiny post-agg frame instead.
#:
#: Versions are PER TABLE: v4 touched only the dim derivation, and at
#: the 100 TB north star a dim schema change must never force a rewrite
#: of the fact — the orders table keeps its v3 contract (unchanged since
#: v3's codec switch) while custmap moves to v4.
#:
#: r14 (engine-level layout routing, plans/layout_catalog.py): both
#: tables become SUBSTITUTABLE for their covered source relation — the
#: sidecar now records covers/source_columns/covers_paths — and custmap
#: therefore carries ALL customer columns (v5 adds c_nationkey and
#: c_acctbal), so `SELECT <customer columns> FROM custmap` is
#: schema-identical AND row-identical (count parity machine-checked at
#: build) to the raw customer scan. Orders bumps to v4 for the new
#: sidecar fields.
LAYOUT_VERSION = 5
ORDERS_VERSION = 4
CUSTMAP_VERSION = 5

#: Layout-time parquet codec (see LAYOUT_VERSION v3 note).
LAYOUT_CODEC = "zstd"

#: Sidecar file name for layout specs (see plans/fingerprint.py): the
#: DURABLE copy of a layout table's contract (version, bucketing, source
#: fingerprint), written beside the data files so a later session can
#: VERIFY before re-registering or routing — underscore-prefixed, so
#: every parquet reader treats it as hidden.
LAYOUT_SIDECAR = "_dbt_layout_spec.json"

#: Fact-size floor for AD-HOC routing: below this on-disk size of the
#: group's fact the raw broadcast-probe plan is already
#: scheduler-floor-bound and the bucketed path's fixed costs LOSE
#: (measured: sf0.1 = 2.7 MB, raw j1 0.215 s vs routed 0.336 s; sf10 =
#: 176 MB, raw 1.24 s vs routed 0.98 s and 1.6-1.8x vs 6.4x data-bound at
#: 240M+). Same cost-model discipline as the DIM_BROADCAST_BUDGET gate:
#: route only where the exchange-free plan wins. Tests pin it to 0 to
#: exercise routing at toy scale.
ROUTE_MIN_FACT_BYTES = 32 << 20


@dataclass(frozen=True, eq=False)
class Derived:
    """One engine-owned derived table — or, with ``base``, a pair whose
    routed table is ``finish``-ed from a stored foldable base.

    ``name``/``base``/``group`` are templates over ``{tag}`` (the data
    directory's tag) and ``{n}`` (the bucket count); the table name is
    ``<name>_v<version>``. ``sources[0]`` is the covered source: the only
    one whose append-only growth folds (growth anywhere else rebuilds).
    ``derive(frames)`` maps source frames to the stored rows; a refresh
    runs it over the DELTA files of the covered source. Without ``fold``
    the table is identity-like and a delta is appended; with ``fold`` it
    is a rollup whose stored partials are re-aggregated with the delta's
    (and, being a few rows, written as one file). ``covers`` makes the
    table a substitute for its covered relation (layout_catalog.py);
    ``gate`` names the source whose size gates routing (no gate: never
    routed). ``proof(table, stored, frames)`` runs after every write of
    the stored table and raises ValueError to refuse it. ``schema`` is a
    literal DDL where deriving it would cost a plan analysis."""

    kind: str
    name: str
    version: int
    sources: tuple[str, ...]
    derive: Callable[[dict[str, DataFrame]], DataFrame]
    bucket_col: str | None = None
    covers: bool = False
    gate: str | None = None
    group: str | None = None
    schema: str | None = None
    fold: Callable[[DataFrame], DataFrame] | None = None
    base: str | None = None
    base_schema: str | None = None
    finish: Callable[[DataFrame, dict[str, DataFrame]], DataFrame] | None = None
    proof: Callable[[str, DataFrame, dict[str, DataFrame]], None] | None = None
    extra: dict = field(default_factory=dict)

    def table(self, sf_dir: str, n_buckets: int = N_BUCKETS) -> str:
        return f"{self.name}_v{self.version}".format(
            tag=_tag(sf_dir), n=n_buckets
        )


class RollupParityRefused(ValueError):
    """A rollup build/refresh found source rows that violate the parity
    assumptions of the routed shape (e.g. orders custkeys dangling
    outside customer). Unlike custmap's dangling-FK case — where the
    SOURCE data is broken and every inner-join consumer is lossy — this
    data is legal for the raw query, so the build drops the pair and
    reports refusal instead of crashing provisioning; routing falls
    back to the (correct) raw plan."""


def _tag(sf_dir: str) -> str:
    base = os.path.basename(os.path.normpath(sf_dir))
    return re.sub(r"[^A-Za-z0-9]", "_", base).lower()


def _schema_ddl(df: DataFrame) -> str:
    return ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )


def _warehouse_path(spark: SparkSession, table: str) -> str:
    """The directory of managed table ``table``: ``<warehouse>/<table>``,
    or ``<warehouse>/<db>.db/<table>`` when qualified by a database other
    than ``default`` (an empty name gives the database's directory)."""
    db, _, name = table.lower().rpartition(".")
    wh = re.sub(r"^file:", "", spark.conf.get("spark.sql.warehouse.dir"))
    db_dir = f"{db}.db" if db not in ("", "default") else ""
    return os.path.join(wh, db_dir, name)


def _source_paths(sf_dir: str, names: tuple[str, ...]) -> list[str]:
    return [
        os.path.abspath(os.path.join(sf_dir, f"{s}.parquet")) for s in names
    ]


def _tables(spec: dict) -> list[tuple[str, str]]:
    """``(table, schema)`` of every table a spec governs: the routed one,
    plus the stored base of a pair."""
    out = [(spec["table"], spec["schema"])]
    if "base_table" in spec:
        out.append((spec["base_table"], spec["base_schema"]))
    return out


#: (appId, table, source fingerprint) -> (schema DDL, covered columns).
#: Deriving a schema analyzes the derivation plan (~50-100 ms of driver
#: RPC, BENCH_J1B_STAGES_r16) and the ad-hoc bench re-ensures layouts per
#: query, so only the first spec of a source state pays it; rewritten
#: sources change the fingerprint and re-derive from the CURRENT files.
_SCHEMAS: dict[tuple[str, str, str], tuple[str, list[str] | None]] = {}


def _spec(
    spark: SparkSession, d: Derived, sf_dir: str, n_buckets: int = N_BUCKETS
) -> dict:
    """The sidecar contract of ``d`` over ``sf_dir``. The source
    fingerprint (plans/fingerprint.py: the path|size|mtime listing) is
    recomputed on every call, so reuse always verifies the table still
    matches the CURRENT source files."""
    fmt = {"tag": _tag(sf_dir), "n": n_buckets}
    table = d.table(sf_dir, n_buckets)
    paths = _source_paths(sf_dir, d.sources)
    listing = fingerprint.files_listing(paths)
    fp = fingerprint.digest(listing)
    schema, columns = d.schema, None
    if schema is None or d.covers:
        key = (spark.sparkContext.applicationId, table, fp)
        if key not in _SCHEMAS:
            t = load_testdata(spark, sf_dir)
            _SCHEMAS[key] = (
                schema or _schema_ddl(d.derive(t)),
                list(t[d.sources[0]].columns) if d.covers else None,
            )
        schema, columns = _SCHEMAS[key]
    spec = {
        "table": table,
        "version": d.version,
        "codec": LAYOUT_CODEC,
        "schema": schema,
        "source_fp": fp,
        # the full listing behind source_fp: refresh diffs old vs new to
        # find the appended delta
        "source_listing": listing,
        "covers_paths": paths[:1],
        "source_paths": paths,
        **d.extra,
    }
    if d.bucket_col:
        spec.update(bucket_col=d.bucket_col, n_buckets=n_buckets)
    if d.covers:
        # Engine-level routing contract (layout_catalog.py): this table is
        # row- and schema-identical to `SELECT source_columns FROM
        # <covers relation>` and may substitute that scan in ANY plan
        # while source_paths still fingerprint to source_fp.
        spec.update(covers=d.sources[0], source_columns=columns)
    if d.gate:
        # route only when the GROUP's fact is big enough to win
        spec.update(
            route_gate_paths=_source_paths(sf_dir, (d.gate,)),
            group=d.group.format(**fmt),
        )
    if d.base:
        spec.update(
            base_table=f"{d.base}_v{d.version}".format(**fmt),
            base_schema=d.base_schema,
        )
    return spec


def register(spark: SparkSession, spec: dict) -> bool:
    """Make sure every table of ``spec`` has a catalog entry,
    re-registering files a previous session left behind as an external
    table (bucketed when the spec is). False when a table is missing and
    its directory is not a COMPLETE write (no ``_SUCCESS``: a crashed
    partial write is never registered)."""
    for table, schema in _tables(spec):
        if spark.catalog.tableExists(table):
            continue
        path = _warehouse_path(spark, table)
        if not fingerprint.dir_is_complete(path):
            return False
        col = spec.get("bucket_col") if table == spec["table"] else None
        bucketing = (
            f"CLUSTERED BY ({col}) SORTED BY ({col}) "
            f"INTO {spec['n_buckets']} BUCKETS "
            if col
            else ""
        )
        spark.sql(
            f"CREATE TABLE {table} ({schema}) USING parquet "
            f"{bucketing}LOCATION '{path}'"
        )
    return True


def _file_sizes(paths: list[str]) -> dict[str, int] | None:
    """Size of every visible file under ``paths`` (the files_listing
    rule), or None when any entry is missing, cannot be stat-ed or (a
    directory) cannot be listed."""
    try:
        listing = fingerprint.files_listing(paths)
    except OSError:
        return None
    out = {}
    for entry in listing:
        parts = entry.rsplit("|", 2)
        if len(parts) != 3:
            return None
        out[parts[0]] = int(parts[1])
    return out


def routable(spark: SparkSession, spec: dict) -> bool:
    """The per-use verification every route applies — the ad-hoc
    :func:`route` and layout_catalog's scan substitution alike: not
    mid-refresh, the group's fact past ROUTE_MIN_FACT_BYTES (read live:
    tests pin it), sources unchanged since the build, files registered.
    Metadata only: one listing per source, never a plan."""
    if spec.get("pending") or "route_gate_paths" not in spec:
        return False
    gate = _file_sizes(spec["route_gate_paths"])
    if gate is None or sum(gate.values()) < ROUTE_MIN_FACT_BYTES:
        return False
    try:
        fp = fingerprint.files_fingerprint(spec["source_paths"])
    except OSError:
        return False  # a source directory that cannot be listed
    return fp == spec["source_fp"] and register(spark, spec)


def route(
    spark: SparkSession, d: Derived, sf_dir: str, n_buckets: int = N_BUCKETS
) -> str | None:
    """The table name when ``d`` over ``sf_dir`` exists and verifiably
    derives from the CURRENT source files — the ad-hoc twin of the
    semantic layer's aggregate-awareness routing — else None. NEVER
    builds: an ad-hoc query must not pay the one-time build; it falls
    back to its raw-parquet plan silently."""
    table = d.table(sf_dir, n_buckets)
    spec = fingerprint.read_sidecar(
        _warehouse_path(spark, table), LAYOUT_SIDECAR
    )
    if spec is None or spec.get("source_paths") != _source_paths(
        sf_dir, d.sources
    ):
        return None  # absent, or built from another directory's files
    return table if routable(spark, spec) else None


def ensure(
    spark: SparkSession, d: Derived, sf_dir: str, n_buckets: int = N_BUCKETS
) -> str:
    """Materialize ``d`` over ``sf_dir`` once and return its table name
    (``refused (...)`` when a rollup's parity proof refuses the data).
    Reuse is gated on the sidecar spec, so a table never silently serves
    a rewritten source or a crashed partial write."""
    spec = _spec(spark, d, sf_dir, n_buckets)
    return _ensure(spark, d, spec, lambda: load_testdata(spark, sf_dir))


def _ensure(
    spark: SparkSession,
    d: Derived,
    spec: dict,
    frames: Callable[[], dict[str, DataFrame]],
) -> str:
    path = _warehouse_path(spark, spec["table"])
    if fingerprint.read_sidecar(path, LAYOUT_SIDECAR) == spec and register(
        spark, spec
    ):
        return spec["table"]
    t = frames()
    try:
        # a registered but stale table is dropped; stale or partial
        # files without a catalog entry block the CTAS and go through
        # the engine's age-gated orphan heal (materialize._save_as_table)
        _drop(spark, spec)
        _store(spark, d, spec, d.derive(t), t, "overwrite")
    except RollupParityRefused as e:
        return f"refused ({e})"
    return spec["table"]


def refresh(
    spark: SparkSession, d: Derived, sf_dir: str, n_buckets: int = N_BUCKETS
) -> str:
    """Incremental refresh (the semantic layer's ``refresh_rollup`` runs
    the same :func:`_refresh` core): an APPEND-ONLY growth of the
    covered source runs only the delta files through ``derive`` instead
    of paying the full rebuild (155.8 s at 240M rows,
    BENCH_SCANFLOOR_r13). Identity tables append the delta as extra
    files (bucket ids are hash-stable across jobs, so bucket joins stay
    exchange-free); rollups re-aggregate stored partials with the
    delta's partials (sum+sum, max/max, min/min — re-foldable by
    construction). Anything else — rewritten files, a grown non-covered
    source, contract drift, a pending marker — rebuilds. Returns
    ``fresh``, ``refreshed (+N files)``, ``rebuilt`` or ``refused (...)``.

    Crash safety: an append first flips the sidecar to a PENDING marker,
    and a fold removes the old table before writing the merged one; the
    final sidecar is written last either way. Routing requires an exact
    non-pending sidecar, so a crash at any point degrades to a rebuild,
    never to a half-written read or silent duplicates.

    Operational note: each append adds one small file per touched
    bucket; compact periodically (operators/compaction.py) or rebuild
    on a schedule, the same discipline lakehouse OPTIMIZE applies."""
    from ..sources import readers

    # the reader cache pins the file listing seen at first load; a
    # refresh exists precisely because that listing changed
    readers._CACHE.pop(
        (spark.sparkContext.applicationId, os.path.abspath(sf_dir)), None
    )
    spec = _spec(spark, d, sf_dir, n_buckets)
    return _refresh(spark, d, spec, lambda: load_testdata(spark, sf_dir))


def _refresh(
    spark: SparkSession,
    d: Derived,
    spec: dict,
    frames: Callable[[], dict[str, DataFrame]],
) -> str:
    """The refresh core over ``spec`` (the CURRENT contract) and the
    current source frames: the stored sidecar's listing is diffed
    against the spec's, and the appended files of ``d.sources[0]`` run
    through ``derive``. A delta whose schema differs from the source
    frame's rebuilds."""
    path = _warehouse_path(spark, spec["table"])
    old = fingerprint.read_sidecar(path, LAYOUT_SIDECAR)
    if old == spec and register(spark, spec):
        return "fresh"
    t = frames()
    delta = _append_only_delta(old, spec)
    if delta is not None:
        src = _read_like_engine(spark, delta)
        if src.schema != t[d.sources[0]].schema:
            delta = None  # appended files under a changed schema
    if delta is None or not register(spark, old):
        status = _ensure(spark, d, spec, lambda: t)
        return status if status.startswith("refused") else "rebuilt"
    part = d.derive({**t, d.sources[0]: src})
    try:
        if d.fold is None:
            fingerprint.write_sidecar(
                path, {**old, "pending": True}, LAYOUT_SIDECAR
            )
            _store(spark, d, spec, part, t, "append")
        else:
            stored = spark.table(spec.get("base_table", spec["table"]))
            merged = d.fold(stored.unionByName(part)).select(
                *[F.col(f.name).cast(f.dataType) for f in stored.schema]
            )
            # sever the merged rows from the files about to be replaced,
            # then remove the old table (external after a dead session,
            # so DROP alone would leave its files blocking the write)
            merged = merged.localCheckpoint()
            _drop(spark, old, purge=True)
            _store(spark, d, spec, merged, t, "overwrite")
    except RollupParityRefused as e:
        return f"refused ({e})"
    return f"refreshed (+{len(delta)} files)"


def _store(
    spark: SparkSession,
    d: Derived,
    spec: dict,
    df: DataFrame,
    t: dict[str, DataFrame],
    mode: str,
) -> None:
    """Write ``df`` into the stored table, prove it, derive a pair's
    routed table from it, and write the sidecar LAST — a crash before
    that leaves nothing routable."""
    stored = spec.get("base_table", spec["table"])
    _write(spark, d, spec, stored, df, mode)
    if d.proof is not None:
        try:
            d.proof(spec["table"], spark.table(stored), t)
        except ValueError:
            _drop(spark, spec)
            raise
    if d.finish is not None:
        df = d.finish(spark.table(stored), t)
        _write(spark, d, spec, spec["table"], df, "overwrite")
    fingerprint.write_sidecar(
        _warehouse_path(spark, spec["table"]), spec, LAYOUT_SIDECAR
    )


def _write(
    spark: SparkSession,
    d: Derived,
    spec: dict,
    table: str,
    df: DataFrame,
    mode: str,
) -> None:
    from .materialize import _save_as_table

    if d.fold is not None and table == spec["table"]:
        df = df.coalesce(1)  # a rollup's routed table: a few rows
    w = df.write.option("compression", LAYOUT_CODEC).mode(mode)
    if "bucket_col" in spec and table == spec["table"]:
        col = spec["bucket_col"]
        w = w.bucketBy(spec["n_buckets"], col).sortBy(col)
    # through the engine's heal+retry CTAS path: a stale or partial
    # leftover dir blocks saveAsTable with LOCATION_ALREADY_EXISTS and is
    # removed by the age-gated orphan heal instead of failing forever
    _save_as_table(spark, w, table)


def _drop(spark: SparkSession, spec: dict, purge: bool = False) -> None:
    for table, _ in _tables(spec):
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        if purge:
            shutil.rmtree(_warehouse_path(spark, table), ignore_errors=True)


def _append_only_delta(old: dict | None, new: dict) -> list[str] | None:
    """The appended delta files when ``new``'s sources GREW from
    ``old``'s by files under the COVERED relation only — else None
    (caller falls back to a full rebuild). Append-only means: every old
    listing entry present and unchanged in the new listing (same path,
    size, mtime), and every NEW entry a well-formed file entry under the
    covered relation's path (a grown nation/region in custmap's snowflake
    changes derived rows everywhere — only a grown covered source is
    delta-foldable)."""
    if old is None or old.get("pending"):
        return None
    static_keys = set(new) - {"source_fp", "source_listing"}
    if {k: old.get(k) for k in static_keys} != {
        k: new[k] for k in static_keys
    }:
        return None
    old_listing = old.get("source_listing")
    if not old_listing:
        return None  # pre-listing sidecar: no diff basis
    old_set, new_set = set(old_listing), set(new["source_listing"])
    if not old_set <= new_set:
        return None  # something changed or vanished: rebuild
    covered = [os.path.abspath(p) for p in new["covers_paths"]]
    delta: list[str] = []
    for entry in sorted(new_set - old_set):
        path = entry.split("|", 1)[0]
        if "|" not in entry or entry.startswith("missing:"):
            return None  # un-stat-able entry: no safe diff
        if not any(
            path == c or path.startswith(c + os.sep) for c in covered
        ):
            return None  # a non-covered source grew: derived rows shift
        delta.append(path)
    return delta if delta else None


def _read_like_engine(spark: SparkSession, files: list[str]) -> DataFrame:
    """Read specific parquet files with the SAME normalization the
    engine's source reader applies (sources/readers.py): TIMESTAMP_NTZ
    columns cast to TIMESTAMP under the pinned-UTC session, so a delta
    frame appends cleanly to a table built from load_testdata frames."""
    from pyspark.sql import types as T

    df = spark.read.parquet(*files)
    for f in df.schema.fields:
        if isinstance(f.dataType, T.TimestampNTZType):
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return df


def ensure_bucketed_table(
    spark: SparkSession,
    table: str,
    build_df: DataFrame,
    bucket_col: str,
    n_buckets: int,
    version: int = LAYOUT_VERSION,
) -> str:
    """Public one-off bucketed layout (probe scripts, ad-hoc layouts):
    the same sidecar-verified, _SUCCESS-gated build/reuse path as every
    declared table, with the spec derived from the build frame itself."""
    spec = {
        "table": table,
        "version": version,
        "bucket_col": bucket_col,
        "n_buckets": n_buckets,
        "codec": LAYOUT_CODEC,
        "schema": _schema_ddl(build_df),
        "source_fp": fingerprint.data_fingerprint(build_df),
    }
    d = Derived("", table, version, (), lambda _: build_df)
    _ensure(spark, d, spec, dict)
    return table


def _refold(
    keys: tuple[str, ...], sums: tuple[str, ...], extrema: bool = True
) -> Callable[[DataFrame], DataFrame]:
    """A rollup's fold: stored and delta partials re-aggregated at the
    output grain (sums add; ``mx``/``mn`` take max/min)."""

    def fold(df: DataFrame) -> DataFrame:
        aggs = [F.sum(c).alias(c) for c in sums]
        if extrema:
            aggs += [F.max("mx").alias("mx"), F.min("mn").alias("mn")]
        return df.groupBy(*keys).agg(*aggs)

    return fold


# ---------------------------------------------------------------------------
# The bucketed star: orders + the flattened customer snowflake.
#
# ``orders`` keeps its full column set — the layout is a general physical
# organization of the fact table, not a per-query extract — bucketed+sorted
# on ``o_custkey``. The customer dim is stored FLATTENED through its
# nation/region snowflake (broadcast joins at build time; dims are tiny
# relative to the fact) and bucketed on ``c_custkey``: snowflake hops are
# paid once at layout time, never per query.
#
# Both tables are IDENTITY-PLUS-ENRICHMENT over their covered source
# relation (the layout-routing substitution contract,
# plans/layout_catalog.py): every source column rides along unchanged,
# extras are appended, row count is preserved (machine-checked for custmap
# — its snowflake hops are inner joins, so a dangling FK would drop rows
# and the build refuses). That makes ``SELECT <source columns> FROM
# layout`` interchangeable with the raw scan in ANY plan.
# ---------------------------------------------------------------------------


def _derive_orders(orders: DataFrame) -> DataFrame:
    """The orders derivation (shared by build and refresh).

    o_cents: the money column pre-cast to EXACT integer cents at layout
    time. o_totalprice is a 2-decimal value, so decimal(18,2)*100 is
    exact, long sums are exact, and sum(o_cents)/100 reproduces the
    decimal-cast sum bit-for-bit — while the per-row decimal cast and
    128-bit decimal accumulation leave the scan hot path (measured at
    sf10: 0.62 s cents-long join+agg vs 0.87 s decimal, and the decimal
    cast alone costs ~0.2 s of the 15M-row scan)."""
    return orders.withColumn(
        "o_cents",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"),
    )


STAR_ORDERS = Derived(
    kind="star",
    name="star_orders_{tag}_b{n}",
    version=ORDERS_VERSION,
    sources=("orders",),
    derive=lambda t: _derive_orders(t["orders"]),
    bucket_col="o_custkey",
    covers=True,
    gate="orders",
    group="star_{tag}_b{n}",
)


def _derive_custmap(
    customer: DataFrame, nation: DataFrame, region: DataFrame
) -> DataFrame:
    """The custmap derivation, shared by full build and incremental
    refresh (a refresh runs it over the DELTA customer files only)."""
    return (
        customer.join(
            F.broadcast(nation),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(region),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        # ALL customer columns first (the substitution contract), then
        # the flattened snowflake enrichment.
        .select(
            *customer.columns,
            "n_nationkey",
            "n_name",
            "r_name",
        )
    )


def _prove_custmap_parity(
    table: str, built: DataFrame, t: dict[str, DataFrame]
) -> None:
    """Row-parity proof for the substitution contract
    (layout_catalog.py): custmap's snowflake hops are INNER joins, so a
    dangling c_nationkey/n_regionkey would drop customer rows and a
    routed ``SELECT ... FROM custmap`` would silently lose them.
    Machine-check count parity (one metadata-cheap count each; builds
    are one-time) after EVERY write — first build, rebuild, and delta
    append alike — and refuse the layout rather than ship a lossy
    substitute."""
    built_n, src_n = built.count(), t["customer"].count()
    if built_n != src_n:
        raise ValueError(
            f"star layout {table}: row-parity proof failed "
            f"({built_n} layout rows vs {src_n} customer rows — "
            "dangling FK in the snowflake); layout refused"
        )


STAR_CUSTMAP = Derived(
    kind="star",
    name="star_custmap_{tag}_b{n}",
    version=CUSTMAP_VERSION,
    sources=("customer", "nation", "region"),
    derive=lambda t: _derive_custmap(t["customer"], t["nation"], t["region"]),
    bucket_col="c_custkey",
    covers=True,
    gate="orders",
    group="star_{tag}_b{n}",
    proof=_prove_custmap_parity,
)

#: The bucketed star pair, in the order ensure_star_layout returns it.
STAR = (STAR_ORDERS, STAR_CUSTMAP)


def nation_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 25-row ``(n_nationkey, n_name, r_name)`` frame, for attaching
    names AFTER an int-key aggregation (see LAYOUT_VERSION v4 note: name
    strings never ride the 100 TB fact-join probe — they broadcast-join
    the post-agg frame, which is output-grain-sized by construction)."""
    t = load_testdata(spark, sf_dir)
    return (
        t["nation"]
        .join(
            F.broadcast(t["region"]),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name", "r_name")
    )


#: Nation-grain star rollup version (rides the star layout family).
NATION_ROLLUP_VERSION = 1


def _nation_rollup_frame(orders: DataFrame, customer: DataFrame) -> DataFrame:
    """The 25-row partial-aggregate frame at the j1/w3 output grain
    (c_nationkey) over orders⋈customer — the star-join twin of
    ``_q1_rollup_frame`` (round 15: the fact-join family j1 6.9x / w3
    4.8x at sf10 was the last >2x count-series class; its queries
    aggregate 15M+ fact rows to 25 nations every run). Every stored
    column is a RE-FOLDABLE partial — count, exact-cents long sum,
    max, min — so an orders-append refresh aggregates only the delta
    files and merges partials, and ``guarded_cents_spend``'s count*max
    overflow proof still holds on folded values (count and max fold
    exactly). Nation/region NAMES are never stored: they attach live at
    read time (25-row broadcast), so a dim edit can't stale the rollup."""
    cust_nk = customer.select("c_custkey", "c_nationkey")
    return (
        _derive_orders(orders)
        .join(F.broadcast(cust_nk), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_cents").alias("cents"),
            F.max("o_cents").alias("mx"),
            F.min("o_cents").alias("mn"),
        )
    )


# Built by the same provisioning pass as the star layout
# (ensure_star_layout). The routed j1/w3 become a 25-row read + live name
# attach instead of a 15M-row fact join. Only ORDERS growth folds: a
# customer change moves rows between nations and rebuilds.
NATION_ROLLUP = Derived(
    kind="star",
    name="star_rollup_{tag}",
    version=NATION_ROLLUP_VERSION,
    sources=("orders", "customer"),
    derive=lambda t: _nation_rollup_frame(t["orders"], t["customer"]),
    gate="orders",
    group="star_{tag}",
    fold=_refold(("c_nationkey",), ("n_orders", "cents")),
)


#: Customer-distribution rollup version (rides the star family).
CUSTDIST_ROLLUP_VERSION = 1


def _percust_frame(orders: DataFrame) -> DataFrame:
    """q13's foldable BASE: one row per ordering customer with their
    order count (sum-foldable across appends)."""
    return orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )


def _custdist_from_base(base: DataFrame, n_customers: int) -> DataFrame:
    """The ~40-row q13 histogram from the per-customer base: counts >0
    from the base, the zero bucket from ``n_customers`` minus base rows.
    NOT partial-foldable itself (an append moves customers between
    buckets) — always derived from the base, which IS foldable."""
    hist = base.groupBy(F.col("n_orders").alias("c_count")).agg(
        F.count(F.lit(1)).alias("custdist")
    )
    zero = base.sparkSession.createDataFrame(
        [(0, n_customers)], "c_count long, custdist long"
    ).join(
        base.agg(F.count(F.lit(1)).alias("__nz")), how="cross"
    ).select(
        "c_count", (F.col("custdist") - F.col("__nz")).alias("custdist")
    )
    # drop an empty zero bucket: the oracle's GROUP BY never emits a
    # c_count with no customers
    return hist.unionByName(zero).filter(F.col("custdist") > 0)


def _prove_custdist_keys(
    table: str, base: DataFrame, t: dict[str, DataFrame]
) -> None:
    """Parity proof (the custmap precedent): the base counts ALL orders
    per o_custkey, but raw q13 and the oracle attach counts via a
    customer LEFT JOIN — an orders row whose o_custkey is absent from
    customer (dangling FK; the append guard only proves customer
    UNCHANGED, not that delta orders reference it) would make the routed
    histogram count phantom custkeys and corrupt the zero bucket.
    Machine-check base-keys ⊆ customer-keys with one anti-join
    (customer-cardinality; builds/refreshes are one-time) and refuse the
    pair rather than ship a silently-divergent substitute."""
    dangling = base.join(
        t["customer"].select(F.col("c_custkey").alias("custkey")),
        "custkey",
        "left_anti",
    ).count()
    if dangling:
        raise RollupParityRefused(
            f"custdist rollup {table}: parity proof failed "
            f"({dangling} base custkeys dangle outside customer — "
            "orders references unknown customers); rollup refused"
        )


# q13's two-level rollup: the foldable per-customer count base + the
# ~40-row derived histogram (zero bucket included) that q13 routes to — a
# 40-row read + sort instead of a 15M-row fact join. One spec governs the
# pair (the sidecar sits on the histogram); only ORDERS growth folds, and
# the zero bucket's customer total is invariant while the customer
# fingerprint holds.
CUSTDIST_ROLLUP = Derived(
    kind="star",
    name="custdist_rollup_{tag}",
    base="percust_rollup_{tag}",
    version=CUSTDIST_ROLLUP_VERSION,
    sources=("orders", "customer"),
    derive=lambda t: _percust_frame(t["orders"]),
    finish=lambda base, t: _custdist_from_base(base, t["customer"].count()),
    schema="c_count BIGINT, custdist BIGINT",
    base_schema="custkey BIGINT, n_orders BIGINT",
    gate="orders",
    group="star_{tag}",
    fold=_refold(("custkey",), ("n_orders",), extrema=False),
    proof=_prove_custdist_keys,
)


#: Monthly-grain orders rollup version (rides the star layout family).
MONTHLY_ROLLUP_VERSION = 1

#: Literal schema (no per-call plan analysis — the r15 j1b regression's
#: root cause). Pinned equal to
#: _schema_ddl(_monthly_rollup_frame(...)) by test_layout_routing.
_MONTHLY_SCHEMA = (
    "month_start date, cnt bigint, cents bigint, mx bigint, mn bigint"
)


def _monthly_rollup_frame(orders: DataFrame) -> DataFrame:
    """The ~80-row partial-aggregate frame at g1's monthly grain
    (date_trunc('month', o_orderdate)) — the single-source twin of
    ``_q1_rollup_frame`` (round 16: g1's remaining exec cost is the 15M-
    row monthly aggregate, 0.79 s at sf10 vs a sub-0.1 s ~80-row read).
    Every stored column is a RE-FOLDABLE partial — count, exact-cents
    long sum, max, min — so an orders-append refresh aggregates only the
    delta files and merges partials, and ``guarded_cents_spend``'s
    count*max overflow proof holds on folded values (count and max fold
    exactly). A NULL o_orderdate forms a NULL month row: it folds like
    any group and the routed g1 drops it exactly as the raw plan does
    (sequence(NULL, ..) explodes to zero rows)."""
    from ..functions.pg import date_trunc_pg

    return (
        _derive_orders(orders)
        .groupBy(date_trunc_pg("month", "o_orderdate").alias("month_start"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("o_cents").alias("cents"),
            F.max("o_cents").alias("mx"),
            F.min("o_cents").alias("mn"),
        )
    )


# The routed g1 becomes an ~80-row read + spine gap-fill instead of a
# 15M-row scan+aggregate; built by the star family's provisioning pass.
MONTHLY_ROLLUP = Derived(
    kind="star",
    name="monthly_rollup_{tag}",
    version=MONTHLY_ROLLUP_VERSION,
    sources=("orders",),
    derive=lambda t: _monthly_rollup_frame(t["orders"]),
    schema=_MONTHLY_SCHEMA,
    gate="orders",
    group="star_{tag}",
    fold=_refold(("month_start",), ("cnt", "cents")),
)


def ensure_star_layout(
    spark: SparkSession, sf_dir: str, n_buckets: int = N_BUCKETS
) -> tuple[str, str]:
    """Materialize (once) the bucketed star layout for ``sf_dir`` and
    return the table names ``(orders_bucketed, custmap_bucketed)``. One
    provisioning pass covers the whole star family: the nation-grain,
    custdist and monthly rollups build beside the bucketed tables.
    Routing itself still NEVER builds."""
    names = tuple(ensure(spark, d, sf_dir, n_buckets) for d in STAR)
    for d in (NATION_ROLLUP, CUSTDIST_ROLLUP, MONTHLY_ROLLUP):
        ensure(spark, d, sf_dir)
    return names


#: Lineitem layout version (independent of the star tables).
LINEITEM_VERSION = 1


def _derive_lineitem(li: DataFrame) -> DataFrame:
    """Identity-plus-enrichment over lineitem: the three exact integer
    money columns q1's rollup needs, computed ONCE at layout time via
    decimal casts (exact for 2-decimal inputs by construction — no
    floor-cast recovery, no 2^45 exactness bound on the routed path).
    The r13 decomposition (BENCH_Q1_DECOMP_r13) measured the per-row
    cents recovery + guard as q1's residual above the scan floor
    (shipped 2.3-2.9x vs DuckDB at 60M); storing the cents moves that
    cost to the one-time layout build, the same trade o_cents makes for
    the star fact. A wrapped per-row product at absurd magnitudes would
    go negative and trip the query-time min>=0 proof."""
    cents = (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast(
        "long"
    )
    disc_h = (
        (F.lit(1) - F.col("l_discount")).cast("decimal(8,2)") * 100
    ).cast("long")
    tax_h = ((F.lit(1) + F.col("l_tax")).cast("decimal(8,2)") * 100).cast(
        "long"
    )
    return (
        li.withColumn("l_cents", cents)
        .withColumn("l_disc_i4", F.col("l_cents") * disc_h)
        .withColumn("l_charge_i6", F.col("l_disc_i4") * tax_h)
    )


# No bucketing: q1's rollup is a pure scan + 6-group aggregate, so the
# layout's value is the stored exact money columns, not co-location; the
# write preserves input partitioning (no shuffle).
LINEITEM = Derived(
    kind="lineitem",
    name="li_cents_{tag}",
    version=LINEITEM_VERSION,
    sources=("lineitem",),
    derive=lambda t: _derive_lineitem(t["lineitem"]),
    covers=True,
    gate="lineitem",
    group="li_{tag}",
)


def ensure_lineitem_layout(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (once) the cents-enriched lineitem layout."""
    return ensure(spark, LINEITEM, sf_dir)


#: q1 grain-rollup version (rides the lineitem layout family).
Q1_ROLLUP_VERSION = 1


def _q1_rollup_frame(li: DataFrame) -> DataFrame:
    """The 6-row partial-aggregate frame at q1's output grain
    (l_returnflag, l_linestatus), from a cents-enriched lineitem frame
    (_derive_lineitem). Every stored column is a RE-FOLDABLE partial —
    sums, count, max-of-greatest, min-of-least — so an append-only
    refresh aggregates only the delta files and merges partials, and
    the read-time overflow proof still holds on folded values (count
    and max fold exactly; count*max <= 2^63 bounds the true sum, so a
    wrapped stored sum is impossible whenever the proof passes)."""
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty"),
        F.sum("l_cents").alias("s2"),
        F.sum("l_disc_i4").alias("s4"),
        F.sum("l_charge_i6").alias("s6"),
        F.count(F.lit(1)).alias("n"),
        F.max(
            F.greatest("l_cents", "l_disc_i4", "l_charge_i6")
        ).alias("mx"),
        F.min(F.least("l_cents", "l_disc_i4", "l_charge_i6")).alias("mn"),
    )


# The ad-hoc twin of the semantic layer's aggregate-awareness rollups
# (plans/semantics.py discover_rollups): q1's whole aggregation
# precomputed as re-foldable partials, so the routed q1 is a 6-row read +
# guards instead of a 60M-row scan — the 'cover q1's grain' end state the
# r13 verdict named; the per-row lineitem layout remains for every OTHER
# query shape over lineitem.
Q1_ROLLUP = Derived(
    kind="q1-rollup",
    name="q1_rollup_{tag}",
    version=Q1_ROLLUP_VERSION,
    sources=("lineitem",),
    derive=lambda t: _q1_rollup_frame(_derive_lineitem(t["lineitem"])),
    gate="lineitem",
    group="li_{tag}",
    fold=_refold(
        ("l_returnflag", "l_linestatus"), ("sum_qty", "s2", "s4", "s6", "n")
    ),
)


def ensure_q1_rollup(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (once) the 6-row q1 grain rollup."""
    return ensure(spark, Q1_ROLLUP, sf_dir)


#: Z-order layout version (independent of the star tables). v2 added
#: the source_listing field (incremental refresh's diff basis).
ZORDER_VERSION = 2

_ZORDER_COLS = ("o_custkey", "o_orderdate")


def _derive_zorder(orders: DataFrame) -> DataFrame:
    from ..operators.zorder import zorder_dataframe

    return zorder_dataframe(orders, _ZORDER_COLS)


# Orders clustered along the Morton curve of (o_custkey, o_orderdate)
# (operators/zorder.py) so box predicates on either or both columns prune
# at row-group granularity. A refresh Z-orders ONLY the delta files and
# appends them: each delta batch is Morton-clustered within itself, so its
# row groups still carry tight min/max stats; GLOBAL clustering degrades
# gracefully as deltas accumulate — compact or rebuild on a schedule.
# Content-identical to orders but never routed (no gate): zo1 reads it by
# name.
ZORDER = Derived(
    kind="zorder",
    name="zord_orders_{tag}",
    version=ZORDER_VERSION,
    sources=("orders",),
    derive=lambda t: _derive_zorder(t["orders"]),
    extra={"zorder_cols": list(_ZORDER_COLS)},
)

#: Every declared table; ``kind`` groups them into the `layout --kind`
#: families of the CLI.
DECLARATIONS = (
    STAR_ORDERS,
    STAR_CUSTMAP,
    NATION_ROLLUP,
    CUSTDIST_ROLLUP,
    MONTHLY_ROLLUP,
    ZORDER,
    LINEITEM,
    Q1_ROLLUP,
)
KINDS = tuple(dict.fromkeys(d.kind for d in DECLARATIONS))


def refresh_kind(
    spark: SparkSession, kind: str, sf_dir: str
) -> dict[str, str]:
    """:func:`refresh` every declaration of one family: ``{table:
    status}``."""
    return {
        d.table(sf_dir): refresh(spark, d, sf_dir)
        for d in DECLARATIONS
        if d.kind == kind
    }


#: Largest value a LongType sum can hold before wrapping (non-ANSI Spark
#: wraps silently past 2^63 - 1).
LONG_MAX = (1 << 63) - 1


def guarded_cents_spend(n, cents, mx, mn):
    """Exact dollar spend from a LONG cents sum, provably overflow-safe.

    The layout path sums ``o_cents`` as LongType because 128-bit decimal
    accumulation is the measured scan-floor term (sf10, min-of-5
    interleaved: long sum 0.818 s, decimal-before-sum 0.965 s = +18%,
    this guard 0.842 s = +3%). Non-ANSI Spark wraps a long sum silently
    past 2^63; at the 100 TB north star a hot group sits within ~10x of
    that. The guard is a conservative proof, not a heuristic: a group's
    sum of NON-NEGATIVE cents is <= count * max, both of which the
    aggregate already (nearly) computes, so ``count * max <= LONG_MAX``
    (checked in decimal — that product cannot itself wrap) implies the
    long sum did not overflow. The non-negativity precondition is
    machine-checked, not assumed: ``mn`` (the group's MIN(cents)) must be
    >= 0, because with negative values (refunds/credits) the long sum can
    wrap negatively while count*max stays under the bound. Past either
    bound it raises loudly instead of returning a wrapped number; the
    remedy at that scale is decimal accumulation or a two-level (salted)
    rollup.

    ``n``/``cents``/``mx``/``mn`` are the group's COUNT(*), SUM(cents),
    MAX(cents) and MIN(cents) columns.
    """
    return (
        F.when(
            mn < 0,
            F.raise_error(
                F.lit(
                    "guarded_cents_spend requires non-negative cents "
                    "(min < 0 observed): the count*max overflow proof is "
                    "unsound for signed values; re-aggregate with decimal "
                    "accumulation"
                )
            ).cast("double"),
        )
        .when(
            n.cast("decimal(38,0)") * mx
            > F.lit(LONG_MAX).cast("decimal(38,0)"),
            F.raise_error(
                F.lit(
                    "o_cents long sum may have overflowed (count*max exceeds "
                    "2^63); re-aggregate with decimal accumulation"
                )
            ).cast("double"),
        )
        .otherwise((cents.cast("decimal(38,0)") / F.lit(100)).cast("double"))
    )
