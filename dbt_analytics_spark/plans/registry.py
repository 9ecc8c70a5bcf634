"""Model registry + DAG engine: dbt's pipeline machinery re-imagined
natively on Spark.

The reference's engine (dbt-core) parses Jinja SQL files, extracts ref()
edges with a Rust static parser, topo-sorts a networkx graph, and ships SQL
strings to PostgreSQL (reference: SP/dbt/parser/manifest.py:334,
SP/dbt/compilation.py:187,659; SP/dbt/graph/queue.py:19-119 — SURVEY.md §3).

Here, models are Python functions returning DataFrames. "Compilation" is
building the lazy DataFrame graph (Catalyst is the compiler); ref() edges
are recorded while building; materialization runs Spark write actions in
DAG-parallel waves. Ephemeral models are just unpersisted DataFrame
composition — dbt's CTE-splicing machinery (compilation.py:493-587)
dissolves entirely.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import inspect
import json
import textwrap
import threading
import time
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession


def _fn_fingerprint(fn: Callable) -> tuple[str, str]:
    """(source path, content checksum) for a model function — the
    engine-native analogue of dbt's file path + file checksum, which the
    ``path:`` and ``state:modified`` selection methods key on (reference:
    SP/dbt/graph/selector_methods.py:244-586 PathSelectorMethod /
    StateSelectorMethod)."""
    try:
        path = inspect.getsourcefile(fn) or ""
    except TypeError:
        path = ""
    try:
        body = inspect.getsource(fn)
        # Checksum the function BODY only: decorator lines name the project
        # variable (@p.model vs @other.model) and enclosing indentation
        # varies, neither of which is a semantic change to the model.
        lines = body.splitlines()
        start = next(
            (i for i, l in enumerate(lines) if l.lstrip().startswith(("def ", "async def "))),
            0,
        )
        body = textwrap.dedent("\n".join(lines[start:]))
    except (OSError, TypeError):
        # REPL/exec-defined functions: fall back to bytecode identity.
        code = getattr(fn, "__code__", None)
        body = repr((code.co_code, code.co_consts)) if code else repr(fn)
    return path, hashlib.md5(body.encode()).hexdigest()


@dataclass
class Node:
    name: str
    kind: str  # model | seed | source | snapshot
    fn: Callable[["ModelContext"], DataFrame] | None = None
    materialized: str = "table"  # table | view | ephemeral | incremental
    tags: tuple[str, ...] = ()
    path: str = ""
    checksum: str = ""
    unique_key: str | None = None
    incremental_strategy: str = "merge"  # append | merge | delete+insert | insert_overwrite | dedup_insert | ivf_insert
    #: dbt incremental_predicates (SP/.../incremental/merge.sql:1-96 —
    #: extra conjuncts AND'd into the MERGE ON clause): SQL predicates
    #: over target columns that scope which EXISTING rows participate in
    #: key matching. Rows outside the predicates pass through unchanged;
    #: the user asserts merged keys never live outside the window, buying
    #: a pruned target scan (the dbt-documented tradeoff).
    incremental_predicates: tuple[str, ...] = ()
    #: Snapshot-node config (kind == "snapshot"; reference: dbt snapshot
    #: blocks — SP/.../materializations/snapshots/snapshot.sql:1-109,
    #: strategies.sql:38-142). The node's fn produces the SOURCE query;
    #: each run applies one SCD-2 pass (plans/snapshot.py) at the
    #: project's pinned run date.
    snapshot_strategy: str = "timestamp"  # timestamp | check
    updated_at: str | None = None
    check_cols: tuple[str, ...] | str = "all"
    hard_deletes: str = "ignore"  # ignore | invalidate | new_record
    #: dedup_insert strategy: text column near-dupped against the existing
    #: corpus (MinHash-LSH banding) before the batch appends; extra kwargs
    #: forwarded to operators/dedup.py:dedup_against_corpus.
    dedup_text_col: str = "text"
    dedup_kwargs: dict | None = None
    #: ivf_insert strategy: embedding column indexed into a persistent IVF
    #: cell layout (centroids trained once at initial build, cell stored
    #: as a partition column); kwargs: n_cells, kmeans_iters.
    ivf_vec_col: str = "embedding"
    ivf_kwargs: dict | None = None
    on_schema_change: str = "ignore"  # ignore | fail | append_new_columns | sync_all_columns
    event_time: str | None = None  # microbatch: event-time column
    batch_size: str = "day"  # microbatch: hour | day | month | year
    begin: str | None = None  # microbatch: first batch start (ISO date/ts)
    lookback: int = 1  # microbatch: trailing batches re-processed per run
    partition_by: tuple[str, ...] = ()
    bucket_by: tuple[str, ...] = ()
    n_buckets: int = 0
    #: Z-order clustering (operators/zorder.py): write the table globally
    #: ordered along the Morton curve of these columns so parquet
    #: row-group min/max stats prune box predicates on ANY subset of
    #: them. Layout-only — content is row-identical. Mutually exclusive
    #: with bucket_by (one physical order per table).
    zorder_by: tuple[str, ...] = ()
    #: Target file count for zorder_by (default: session shuffle
    #: partitions) — at cluster scale, track the table's desired file
    #: size, not core count.
    zorder_files: int = 0
    #: Storage format for table-style materializations: any Spark-native
    #: batch format (parquet default; orc for ORC-standardized lakes —
    #: both give columnar scans with predicate pushdown).
    file_format: str = "parquet"
    pre_hooks: tuple[Callable, ...] = ()
    post_hooks: tuple[Callable, ...] = ()
    depends_on: set[str] = field(default_factory=set)
    description: str = ""
    #: Enforced model contract: {column: spark type simpleString}, with an
    #: optional " not null" suffix per column (reference: dbt contracts —
    #: SP/dbt/include/global_project/macros/relations/column/
    #: columns_spec_ddl.sql assert_columns_equivalent + nodes.py:638-658
    #: build_contract_checksum).
    contract: dict[str, str] | None = None
    #: Model versioning + governance (reference: dbt model versions/groups —
    #: SP/dbt/contracts/graph/manifest.py:1330 resolve_ref with
    #: target_model_version, :1489 is_invalid_private_ref).
    base_name: str | None = None  # unversioned name for versioned models
    version: int | None = None
    group: str | None = None
    access: str = "protected"  # public | protected | private
    #: Raw Jinja-SQL body for SQL-surface nodes (models/snapshots/
    #: analyses) — feeds the compiled-SQL artifact
    #: (sql_models.render_compiled → target/compiled/*.sql).
    raw_sql: str = ""

    def config_fingerprint(self) -> dict:
        """The config surface whose change makes a node state:modified."""
        return {
            "materialized": self.materialized,
            "unique_key": self.unique_key,
            "incremental_strategy": self.incremental_strategy,
            "incremental_predicates": list(self.incremental_predicates),
            "snapshot_strategy": self.snapshot_strategy,
            "updated_at": self.updated_at,
            "check_cols": (
                list(self.check_cols)
                if not isinstance(self.check_cols, str)
                else self.check_cols
            ),
            "hard_deletes": self.hard_deletes,
            "dedup_text_col": self.dedup_text_col,
            "dedup_kwargs": dict(self.dedup_kwargs) if self.dedup_kwargs else None,
            "ivf_vec_col": self.ivf_vec_col,
            "ivf_kwargs": dict(self.ivf_kwargs) if self.ivf_kwargs else None,
            "on_schema_change": self.on_schema_change,
            "partition_by": list(self.partition_by),
            "bucket_by": list(self.bucket_by),
            "n_buckets": self.n_buckets,
            "zorder_by": list(self.zorder_by),
            "file_format": self.file_format,
            "tags": sorted(self.tags),
            # dbt: a contract change is a state:modified change
            # (nodes.py:372 same_contract feeds same_config).
            "contract": dict(self.contract) if self.contract else None,
            "group": self.group,
            "access": self.access,
        }


class ReferenceError_(RuntimeError):
    """Raised for governance-invalid refs: a private model referenced from
    outside its group, or a ref to an unknown model version (reference:
    dbt DbtReferenceError — SP/dbt/contracts/graph/manifest.py:1489)."""


class ContractError(RuntimeError):
    """Raised when a model's compiled schema violates its enforced contract
    (reference: dbt raise_contract_error — a formatted expected-vs-actual
    diff, SP/.../columns_spec_ddl.sql assert_columns_equivalent)."""


def enforce_contract(node: "Node", df: DataFrame) -> DataFrame:
    """Validate ``df`` against ``node.contract`` BEFORE materialization.

    dbt semantics (assert_columns_equivalent): columns are matched by NAME,
    the column sets must be equal (no missing, no extras), and each matched
    column's data type must equal the declared type. A declared
    ``" not null"`` suffix additionally requires zero null values — the
    engine-side stand-in for the NOT NULL DDL constraint a warehouse would
    enforce (one aggregate pass over only the constrained columns; opt-in,
    so uncontracted models pay nothing).
    """
    if not node.contract:
        return df
    declared: dict[str, tuple[str, bool]] = {}
    for col, spec in node.contract.items():
        s = " ".join(spec.lower().split())
        not_null = s.endswith(" not null")
        declared[col] = (s[: -len(" not null")].strip() if not_null else s, not_null)

    actual = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    problems: list[str] = []
    for col in sorted(set(declared) - set(actual)):
        problems.append(f"missing column {col!r} (declared {declared[col][0]})")
    for col in sorted(set(actual) - set(declared)):
        problems.append(f"unexpected column {col!r} ({actual[col]}) not in contract")
    for col, (want, _) in declared.items():
        if col in actual and actual[col] != want:
            problems.append(f"column {col!r}: declared {want}, got {actual[col]}")
    if problems:
        raise ContractError(
            f"model {node.name!r} violates its enforced contract:\n  "
            + "\n  ".join(problems)
        )

    constrained = [c for c, (_, nn) in declared.items() if nn]
    if constrained:
        from pyspark.sql import functions as F

        counts = df.agg(
            *[F.count(F.when(F.col(c).isNull(), 1)).alias(c) for c in constrained]
        ).collect()[0]
        nulls = {c: counts[c] for c in constrained if counts[c]}
        if nulls:
            raise ContractError(
                f"model {node.name!r} violates not-null constraints: {nulls}"
            )
    return df


class UpstreamCompileError(RuntimeError):
    """Raised when ref() resolves a node that failed to compile."""

    def __init__(self, name: str, message: str):
        super().__init__(f"upstream {name!r} failed to compile: {message}")
        self.node = name


@dataclass
class RunResult:
    node: str
    status: str  # success | error | skipped
    execution_time: float
    message: str = ""
    rows: int | None = None


#: no-default sentinel for ModelContext.var — ``var('x', None)`` must return
#: None (dbt's ``var('x', none)``), so absence can't be spelled as None.
_VAR_MISSING = object()


class ModelContext:
    """The runtime context a model function receives — the engine-native
    equivalent of dbt's Jinja context (ref/source/config/run date).

    ``ref()`` both resolves the upstream relation AND records the DAG edge
    (reference behavior: SP/dbt/context/providers.py:573-640 +
    manifest.py:1141 process_refs)."""

    def __init__(self, project: "Project", node: Node, resolve: Callable[[str], DataFrame]):
        self._project = project
        self._node = node
        self._resolve = resolve
        self.spark: SparkSession = project.spark
        #: Injectable logical "today" (SURVEY.md §5 determinism: PG
        #: current_date must be pinned for reproducible date spines).
        self.run_date: dt.date = project.run_date

    def ref(self, name: str, v: int | None = None) -> DataFrame:
        """Resolve an upstream relation, optionally pinned to a model
        version: ``ref('m')`` → latest version, ``ref('m', v=1)`` → that
        version (reference: SP/dbt/contracts/graph/manifest.py:1330
        resolve_ref). Private models are only visible to refs from the
        same group (:1489 is_invalid_private_ref)."""
        name = self._project._resolve_version(name, v)
        if name == self._node.name:
            raise ValueError(f"model {name!r} cannot ref() itself")
        if name not in self._project.nodes:
            raise KeyError(f"ref({name!r}): unknown node (did you register it?)")
        target = self._project.nodes[name]
        if target.access == "private" and target.group != self._node.group:
            raise ReferenceError_(
                f"node {self._node.name!r} (group {self._node.group!r}) cannot "
                f"ref private model {name!r} of group {target.group!r}"
            )
        self._node.depends_on.add(name)
        return self._resolve(name)

    def source(self, name: str) -> DataFrame:
        return self.ref(name)

    def var(self, name: str, default=_VAR_MISSING):
        """dbt's var() context function: project-level variables with an
        optional default; raises KeyError for an unknown var with no
        default (dbt's compilation error). The no-default sentinel (not
        ``None``) matches dbt, where ``var('x', none)`` is a legitimate
        optional-var idiom that returns ``none`` — an explicit ``None``
        default is honored, only a truly absent default raises."""
        if name in self._project.vars:
            return self._project.vars[name]
        if default is not _VAR_MISSING:
            return default
        raise KeyError(f"var({name!r}): undefined and no default provided")

    def is_incremental(self) -> bool:
        """dbt's is_incremental() flag (reference:
        SP/.../incremental/is_incremental.sql): true when the target exists
        and this run is not a full refresh."""
        return (
            self._node.materialized == "incremental"
            and not self._project.full_refresh
            and self._project.relation_exists(self._node.name)
        )

    def existing(self) -> DataFrame | None:
        """Current materialized target (for incremental models)."""
        if self._project.relation_exists(self._node.name):
            return self._project.read_relation(self._node.name)
        return None


class Project:
    """A pipeline project: registry + compiler + scheduler + materializer.

    Replaces dbt's ManifestLoader/Compiler/GraphRunnableTask triple
    (SURVEY.md §3 traces 1-3) with ~300 lines on top of Spark.
    """

    def __init__(
        self,
        spark: SparkSession,
        name: str = "project",
        database: str | None = None,
        run_date: dt.date | None = None,
        threads: int = 8,
        full_refresh: bool = False,
        vars: dict | None = None,
    ):
        self.spark = spark
        self.name = name
        self.database = database
        self.run_date = run_date or dt.date.today()
        self.threads = threads
        self.full_refresh = full_refresh
        #: dbt --empty: models materialize with LIMIT 0 (schema-only CI
        #: dry run); seeds keep their rows. Set by the CLI flag.
        self.empty_run = False
        #: Project variables (dbt --vars / var() context function;
        #: reference: SP/dbt/context/providers.py Var resolution).
        self.vars: dict = dict(vars or {})
        self.nodes: dict[str, Node] = {}
        self._built: dict[str, DataFrame] = {}
        self._compile_errors: dict[str, str] = {}
        self.results: list[RunResult] = []
        self.tests: list[tuple[str, str, Callable[[DataFrame], DataFrame], dict]] = []
        #: Previous-state artifacts for state:/result: selection
        #: (dbt --state DIR; reference SP/dbt/graph/cli.py:27-166).
        self.state_nodes: dict[str, dict] | None = None
        self.state_results: dict[str, str] | None = None
        #: Freshness artifacts for source_status: selection (dbt compares
        #: a previous --state sources.json against the current one —
        #: SourceStatusSelectorMethod). Both load via load_state.
        self.state_sources: dict[str, str | None] | None = None
        self.sources_current: dict[str, str | None] | None = None
        #: Per-batch outcomes of microbatch models (latest run).
        self.batch_results: list[RunResult] = []
        #: Versioned-model registry: base name → {version: node name}, plus
        #: explicit latest_version pins (dbt model versions).
        self._versions: dict[str, dict[int, str]] = {}
        self._latest_pin: dict[str, int] = {}
        #: Named YAML selectors (selectors.yml; plans/selectors_yaml.py).
        self.selectors: dict[str, dict] = {}
        #: SQL macros for sql_model rendering (plans/sql_models.py):
        #: name -> fn(*literal_args) -> SQL fragment string.
        self.sql_macros: dict[str, Callable[..., str]] = {}
        #: Deferred environment (dbt --defer): database whose relations
        #: satisfy refs to unselected, unbuilt nodes.
        self._defer_db: str | None = None
        self._defer_favor_state: bool = False
        #: Selection of the in-flight run (read by _resolve_materialized).
        self._current_selection: set[str] = set()
        #: Round 17 (guide §5 "caching is worth it when a frame is reused
        #: and recomputation is expensive"): an EPHEMERAL model consumed
        #: by 2+ materialized nodes of the in-flight run is computed once
        #: and persisted (MEMORY_AND_DISK) instead of being recomputed
        #: per consumer — the Spark-native upgrade of dbt's
        #: inline-CTE-per-consumer semantics, which the measured pipeline
        #: paid twice (stage attribution: dedup_keepers 9.7 s + corpus
        #: 9.5 s, both dominated by the shared `cleaned` chain). Persisted
        #: frames are unpersisted when the run ends. `reuse_ephemeral =
        #: False` restores literal dbt semantics (e.g. when an ephemeral
        #: is too large to be worth executor storage — at warehouse scale
        #: such a model should be a table anyway).
        self.reuse_ephemeral: bool = True
        self._ephemeral_reuse: dict[str, DataFrame] = {}
        # RLock: composing one ephemeral can resolve another (nested
        # ctx.ref) on the same thread.
        self._ephemeral_lock = threading.RLock()
        #: Engine-level layout awareness (plans/layout_catalog.py): when a
        #: source node's scan is covered by a fresh engine-owned layout
        #: (bucketed star tables, sidecar-verified), the resolver swaps
        #: the scan for the layout-backed, row- and schema-identical
        #: projection — user models inherit the exchange-free join plan
        #: without naming the layout. Silent fallback; never builds; the
        #: ROUTE_MIN_FACT_BYTES gate keeps toy-scale projects on the raw
        #: plan, so this default-on flag changes nothing until a layout
        #: exists AND the data is big enough for it to win.
        self.layout_routing: bool = True

    def set_defer(self, database: str, favor_state: bool = False) -> None:
        """Resolve refs to nodes OUTSIDE the current run's selection from
        ``database`` (the other environment, e.g. prod) — dbt's
        ``--defer --state`` workflow (slim CI: build only modified models,
        read everything else from prod; reference SP/dbt/task/runnable.py
        defer_to_manifest + SP/dbt/contracts/graph/manifest.py
        merge_from_artifact). With ``favor_state`` (dbt --favor-state) the
        deferred relation wins even when a local one exists; otherwise a
        local relation takes precedence."""
        self._defer_db = database
        self._defer_favor_state = favor_state

    # ------------------------------------------------------------------
    # Named YAML selectors (reference: dbt selectors.yml,
    # SP/dbt/graph/cli.py:parse_from_selectors_definition)
    # ------------------------------------------------------------------

    def load_selectors(self, source: str | dict) -> None:
        """Load named selectors from a selectors.yml path, YAML text, or
        pre-parsed dict. A ``default: true`` selector applies to ``run()``
        when no ``select``/``selector`` argument is given."""
        from .selectors_yaml import parse_selectors

        self.selectors = parse_selectors(source)

    def select_by_selector(self, name: str) -> set[str]:
        """Evaluate the named YAML selector against the current graph."""
        from .selectors_yaml import select_by_name

        return select_by_name(self, self.selectors, name)

    def _resolve_version(self, name: str, v: int | None = None) -> str:
        """Map (base name, version) → node name. Unversioned names pass
        through; an unpinned ref to a versioned model takes the
        latest_version pin if set, else the highest registered version."""
        if name in self._versions:
            versions = self._versions[name]
            want = v if v is not None else self._latest_pin.get(name, max(versions))
            if want not in versions:
                raise ReferenceError_(
                    f"ref({name!r}, v={want}): unknown version "
                    f"(have {sorted(versions)})"
                )
            return versions[want]
        if v is not None:
            raise ReferenceError_(f"ref({name!r}, v={v}): {name!r} is not versioned")
        return name

    # ------------------------------------------------------------------
    # Registration (the dbt parse phase, minus Jinja)
    # ------------------------------------------------------------------

    def model(
        self,
        name: str | None = None,
        materialized: str = "table",
        tags: tuple[str, ...] = (),
        unique_key: str | None = None,
        incremental_strategy: str = "merge",
        incremental_predicates: tuple[str, ...] = (),
        dedup_text_col: str = "text",
        dedup_kwargs: dict | None = None,
        ivf_vec_col: str = "embedding",
        ivf_kwargs: dict | None = None,
        on_schema_change: str = "ignore",
        event_time: str | None = None,
        batch_size: str = "day",
        begin: str | None = None,
        lookback: int = 1,
        partition_by: tuple[str, ...] = (),
        bucket_by: tuple[str, ...] = (),
        n_buckets: int = 0,
        zorder_by: tuple[str, ...] = (),
        zorder_files: int = 0,
        file_format: str = "parquet",
        pre_hooks: tuple[Callable, ...] = (),
        post_hooks: tuple[Callable, ...] = (),
        contract: dict[str, str] | None = None,
        version: int | None = None,
        latest_version: int | None = None,
        group: str | None = None,
        access: str = "protected",
    ):
        """Decorator registering a model function ``fn(ctx) -> DataFrame``.

        With ``version=N`` the node materializes as ``<name>_v<N>`` (dbt's
        versioned-relation naming) and ``ref(name)`` resolves to the
        highest version — or to ``latest_version`` when pinned, so a team
        can pre-release v3 while consumers stay on v2."""

        def wrap(fn: Callable[[ModelContext], DataFrame]):
            base = name or fn.__name__
            node_name = base if version is None else f"{base}_v{version}"
            if version is not None:
                versions = self._versions.setdefault(base, {})
                versions[version] = node_name
                if latest_version is not None:
                    self._latest_pin[base] = latest_version
            path, checksum = _fn_fingerprint(fn)
            self.nodes[node_name] = Node(
                name=node_name,
                kind="model",
                fn=fn,
                materialized=materialized,
                tags=tuple(tags),
                path=path,
                checksum=checksum,
                unique_key=unique_key,
                incremental_strategy=incremental_strategy,
                incremental_predicates=tuple(incremental_predicates),
                dedup_text_col=dedup_text_col,
                dedup_kwargs=dict(dedup_kwargs) if dedup_kwargs else None,
                ivf_vec_col=ivf_vec_col,
                ivf_kwargs=dict(ivf_kwargs) if ivf_kwargs else None,
                on_schema_change=on_schema_change,
                event_time=event_time,
                batch_size=batch_size,
                begin=begin,
                lookback=lookback,
                partition_by=tuple(partition_by),
                bucket_by=tuple(bucket_by),
                n_buckets=n_buckets,
                zorder_by=tuple(zorder_by),
                zorder_files=zorder_files,
                file_format=file_format,
                pre_hooks=pre_hooks,
                post_hooks=post_hooks,
                description=(fn.__doc__ or "").strip(),
                contract=dict(contract) if contract else None,
                base_name=base if version is not None else None,
                version=version,
                group=group,
                access=access,
            )
            return fn

        return wrap

    def snapshot_model(
        self,
        name: str | None = None,
        *,
        unique_key: str,
        strategy: str = "timestamp",
        updated_at: str | None = None,
        check_cols: "tuple[str, ...] | str" = "all",
        hard_deletes: str = "ignore",
        tags: tuple[str, ...] = (),
    ):
        """Decorator registering a SNAPSHOT node: ``fn(ctx) -> DataFrame``
        produces the source query; every run of the node applies one
        SCD-2 pass against the stored snapshot table (plans/snapshot.py),
        stamped at the project's pinned run date — dbt's snapshot blocks
        as first-class DAG nodes (reference: snapshot.sql:1-109). Models
        may ``ref()`` a snapshot; selection reaches them via
        ``config.kind:snapshot`` (the CLI ``snapshot`` command)."""

        def wrap(fn: Callable[["ModelContext"], DataFrame]):
            node_name = name or fn.__name__
            self.model(name=node_name, tags=tags, unique_key=unique_key)(fn)
            node = self.nodes[node_name]
            node.kind = "snapshot"
            node.snapshot_strategy = strategy
            node.updated_at = updated_at
            node.check_cols = (
                check_cols if isinstance(check_cols, str) else tuple(check_cols)
            )
            node.hard_deletes = hard_deletes
            return fn

        return wrap

    def seed(self, name: str, df_or_path: DataFrame | str, tags: tuple[str, ...] = ()):
        """Register a seed (CSV path or prebuilt DataFrame).

        Reference: the seed materialization (SP/.../seeds/seed.sql,
        helpers.sql:6-130) — agate-typed CSV → table. Here: inferSchema CSV
        read (sources/seeds.py) → saveAsTable at run time."""
        if isinstance(df_or_path, str):
            from ..sources.seeds import read_seed_csv

            path = df_or_path

            def fn(ctx: ModelContext, _path=path) -> DataFrame:
                return read_seed_csv(ctx.spark, _path)

        else:
            df = df_or_path

            def fn(ctx: ModelContext, _df=df) -> DataFrame:
                return _df

        seed_path = df_or_path if isinstance(df_or_path, str) else ""
        self.nodes[name] = Node(
            name=name,
            kind="seed",
            fn=fn,
            materialized="table",
            tags=tuple(tags),
            path=seed_path,
            checksum=hashlib.md5(seed_path.encode()).hexdigest() if seed_path else "",
        )

    def sql_macro(self, name: str | None = None):
        """Decorator registering a SQL macro usable from sql_model bodies
        as ``{{ name(args...) }}`` (plans/sql_models.py: args are Python
        literals; the returned fragment may itself contain ref()/var()
        templates — the dbt_utils macro idiom)."""

        def wrap(fn: Callable[..., str]):
            self.sql_macros[name or fn.__name__] = fn
            return fn

        return wrap

    def sql_model(self, sql: str, name: str, **config_overrides) -> str:
        """Register a Jinja-SQL model string (dbt's authoring surface):
        ``{{ config(...) }}`` header, ``{{ ref('x') }}`` /
        ``{{ source('s', 't') }}``, ``{{ this }}`` and
        ``{% if is_incremental() %}`` blocks — rendered at execution time
        and run as one ``spark.sql`` statement (plans/sql_models.py)."""
        from .sql_models import register_sql_model

        return register_sql_model(self, sql, name, **config_overrides)

    def source_table(self, name: str, df: DataFrame, tags: tuple[str, ...] = ()):
        """Register a pre-existing raw input (the reference's hardcoded
        ``public.<name>`` tables — SURVEY.md §1 'Raw inputs')."""
        self.nodes[name] = Node(
            name=name, kind="source", fn=lambda ctx, _df=df: _df, materialized="ephemeral", tags=tuple(tags)
        )

    def exposure(
        self,
        name: str,
        depends_on: tuple[str, ...] = (),
        owner: str = "",
        url: str = "",
        description: str = "",
    ):
        """Register an exposure: a named downstream use of models (a
        dashboard, an ML job, an app) that participates in lineage but is
        never materialized (reference: dbt exposures —
        SP/dbt/contracts/graph/nodes.py Exposure; selected via graph ops
        like ``+exposure_name`` to build everything it needs)."""
        unknown = [d for d in depends_on if d not in self.nodes]
        if unknown:
            raise KeyError(f"exposure {name!r} depends on unknown nodes {unknown}")
        self.nodes[name] = Node(
            name=name,
            kind="exposure",
            fn=None,
            materialized="none",
            depends_on=set(depends_on),
            description=description or f"{owner} {url}".strip(),
            path=url,
        )

    def test(self, model: str, test_name: str, violations_fn, **config):
        """Attach a generic data test: fn(df) -> violations DataFrame.

        Reference: generic tests compile to violation-row SELECTs; pass iff
        0 rows (SP/.../generic_test_sql/*.sql, SP/dbt/task/test.py:142-325).
        Config: warn_if/error_if thresholds (default error when != 0)."""
        self.tests.append((model, test_name, violations_fn, config))

    # ------------------------------------------------------------------
    # Compile: build the lazy DataFrame DAG, recording edges
    # ------------------------------------------------------------------

    def compile_node(self, name: str) -> DataFrame:
        """Build (and memoize) a node's lazy DataFrame, recursively
        resolving refs. No Spark jobs run here — this is the Catalyst-side
        'compilation'."""
        if name in self._built:
            return self._built[name]
        if name in self._compile_errors:
            raise UpstreamCompileError(name, self._compile_errors[name])
        node = self.nodes[name]
        if node.fn is None:  # exposures carry lineage only — nothing to build
            raise ValueError(f"{node.kind} node {name!r} has no query to compile")
        ctx = ModelContext(self, node, self.compile_node)
        df = self._maybe_route_source(node, node.fn(ctx))
        self._built[name] = df
        return df

    def compile(self) -> dict[str, DataFrame]:
        """Compile every node, recording per-node failures instead of
        aborting (dbt reports compile errors per node and skips
        descendants — SP/dbt/task/runnable.py:225+)."""
        for name in self.nodes:
            if self.nodes[name].fn is None:
                continue  # exposures: lineage-only
            try:
                self.compile_node(name)
            except UpstreamCompileError:
                pass  # attributed when scheduling
            except Exception as exc:  # noqa: BLE001
                self._compile_errors[name] = str(exc)
        return dict(self._built)

    # ------------------------------------------------------------------
    # Graph utilities
    # ------------------------------------------------------------------

    def _toposort_levels(self, selected: set[str]) -> list[list[str]]:
        """Group nodes into depth levels (every ancestor in an earlier
        level) — the engine-native analogue of dbt's depth-scored GraphQueue
        (reference: SP/dbt/graph/queue.py:69-119 _grouped_topological_sort).
        Each level's writes run concurrently in the thread pool."""
        depth: dict[str, int] = {}

        def d(n: str) -> int:
            if n not in depth:
                deps = self.nodes[n].depends_on & selected
                depth[n] = 0 if not deps else 1 + max(d(p) for p in deps)
            return depth[n]

        levels: dict[int, list[str]] = {}
        for n in sorted(selected):
            levels.setdefault(d(n), []).append(n)
        return [levels[k] for k in sorted(levels)]

    # ------------------------------------------------------------------
    # Relations (the "warehouse": Spark catalog over parquet)
    # ------------------------------------------------------------------

    def qualified(self, name: str) -> str:
        return f"{self.database}.{name}" if self.database else name

    def _is_view_node(self, name: str) -> bool:
        node = self.nodes.get(name)
        return node is not None and node.materialized == "view"

    def _temp_view_exists(self, name: str) -> bool:
        # View materialization registers a session temp view under the BARE
        # node name (materialize.py); temp views are not visible under the
        # db-qualified name, so check them unqualified — otherwise a
        # materialized view is never found by _resolve_materialized /
        # run_tests / clone and gets silently recompiled. Restrict the
        # unqualified probe to ACTUAL temp views: a bare tableExists(name)
        # would also match an unrelated permanent table in the session's
        # current database and silently read the wrong relation.
        from pyspark.errors import AnalysisException

        try:
            return self.spark.catalog.getTable(name).isTemporary
        except AnalysisException:  # no such table or view
            return False

    def relation_exists(self, name: str) -> bool:
        if self._is_view_node(name) and self._temp_view_exists(name):
            return True
        return self.spark.catalog.tableExists(self.qualified(name))

    def read_relation(self, name: str) -> DataFrame:
        if self._is_view_node(name) and self._temp_view_exists(name):
            return self.spark.table(name)
        return self.spark.table(self.qualified(name))

    def compact(self, name: str, **kwargs) -> dict:
        """Small-file compaction of a materialized node (plans/compaction).

        The maintenance pass for append/microbatch incrementals: call after
        (or on a schedule between) runs; no-ops cheaply when the table is
        already compact. Accepts compact_table's target_file_bytes /
        min_files_to_compact / sort_by."""
        if not self.relation_exists(name):
            raise ValueError(f"compact: relation {name!r} does not exist")
        if self._is_view_node(name):
            raise ValueError(f"compact: {name!r} is a view")
        from .compaction import compact_table

        return compact_table(self.spark, self.qualified(name), **kwargs)

    # ------------------------------------------------------------------
    # Run: materialize in DAG-parallel waves
    # ------------------------------------------------------------------

    def run(
        self,
        select: str | None = None,
        selector: str | None = None,
        with_tests: bool = False,
        fail_fast: bool = False,
    ) -> list[RunResult]:
        """dbt run: compile everything, then materialize selected
        non-ephemeral nodes level-by-level; failures skip descendants
        (reference fail-fast semantics: SP/dbt/task/runnable.py:225+).

        ``selector`` names a loaded YAML selector (dbt --selector; mutually
        exclusive with ``select``). With neither given, a ``default: true``
        selector applies if one is loaded (dbt default-selector semantics).

        ``with_tests`` interleaves each node's attached generic tests right
        after its materialization (the dbt build scheduling contract): a
        test ERROR fails the node, so descendants skip — bad data never
        propagates downstream. Prefer calling :meth:`build`.
        """
        from .materialize import materialize
        from .selection import select_nodes
        from .selectors_yaml import default_selector

        if select is not None and selector is not None:
            raise ValueError("pass either select or selector, not both")
        self.compile()
        if selector is not None:
            selected = self.select_by_selector(selector)
        elif select is None and (dflt := default_selector(self.selectors)):
            selected = self.select_by_selector(dflt)
        else:
            selected = select_nodes(self, select)
        self._current_selection = set(selected)
        tests_by_model: dict[str, list] = {}
        if with_tests:
            for model, test_name, fn, config in self.tests:
                tests_by_model.setdefault(model, []).append(
                    (test_name, fn, config)
                )
        failed: set[str] = set()
        self.results = []

        if self.database:
            self.spark.sql(f"CREATE DATABASE IF NOT EXISTS {self.database}")

        try:
            return self._run_levels(selected, tests_by_model, failed, fail_fast)
        finally:
            # Release ephemeral-reuse storage: the persisted frames exist
            # only to dedupe THIS run's consumers.
            with self._ephemeral_lock:
                for df in self._ephemeral_reuse.values():
                    try:
                        df.unpersist()
                    except Exception:  # noqa: BLE001 — session may be gone
                        pass
                self._ephemeral_reuse.clear()

    def _run_levels(
        self,
        selected: set[str],
        tests_by_model: dict[str, list],
        failed: set[str],
        fail_fast: bool,
    ) -> list[RunResult]:

        for name, msg in self._compile_errors.items():
            if name in selected:
                failed.add(name)
                self.results.append(RunResult(name, "error", 0.0, f"compile error: {msg}"))

        levels = self._toposort_levels(selected - set(self._compile_errors))
        for i, level in enumerate(levels):
            if fail_fast and failed:
                # dbt --fail-fast: stop scheduling after the first failing
                # level; everything not yet run is recorded as skipped
                # (reference: SP/dbt/task/runnable.py fail_fast handling).
                ran = {r.node for r in self.results}
                for rest in levels[i:]:
                    for name in rest:
                        node = self.nodes[name]
                        if (
                            name in ran
                            or node.kind in ("source", "exposure")
                            or node.materialized == "ephemeral"
                        ):
                            continue
                        self.results.append(
                            RunResult(name, "skipped", 0.0, "fail-fast")
                        )
                break
            to_run = []
            for name in level:
                node = self.nodes[name]
                if node.kind in ("source", "exposure", "analysis"):
                    continue  # lineage-only / compile-only: never materialized
                if (node.depends_on & failed) or not self._deps_compiled(node):
                    # Ephemerals propagate upstream failure to their readers.
                    failed.add(name)
                    self.results.append(RunResult(name, "skipped", 0.0, "upstream failure"))
                    continue
                if node.materialized == "ephemeral":
                    continue
                to_run.append(node)
            if not to_run:
                continue
            # Spark job submission is thread-safe per session; independent
            # writes at the same depth run concurrently (dbt's thread pool,
            # SP/dbt/task/runnable.py:409-413, mapped onto Spark's scheduler).
            with ThreadPoolExecutor(max_workers=self.threads) as pool:
                for node, result in zip(to_run, pool.map(lambda n: self._run_node(n), to_run)):
                    self.results.append(result)
                    if result.status == "error":
                        failed.add(node.name)
                    elif node.name in tests_by_model:
                        # dbt build: tests gate the node — an erroring test
                        # marks it failed so descendants skip.
                        for test_name, fn, config in tests_by_model[node.name]:
                            tr = self._run_one_test(node.name, test_name, fn, config)
                            self.results.append(tr)
                            if tr.status == "error":
                                failed.add(node.name)
        return self.results

    def build(
        self,
        select: str | None = None,
        selector: str | None = None,
        fail_fast: bool = False,
    ) -> list[RunResult]:
        """dbt build: materialize selected nodes AND run each node's
        attached data tests immediately after it lands, in one DAG-ordered
        pass (reference: SP/dbt/task/build.py — the model/test interleave
        where a test failure skips the model's descendants)."""
        return self.run(
            select=select, selector=selector, with_tests=True,
            fail_fast=fail_fast,
        )

    def _run_node(self, node: Node) -> RunResult:
        from .materialize import materialize

        t0 = time.perf_counter()
        try:
            for hook in node.pre_hooks:
                hook(self, node)
            # Rebuild against *materialized* upstreams so each model reads
            # its parents' tables (dbt semantics), not a recomputed lineage.
            ctx = ModelContext(self, node, self._resolve_materialized)
            df = node.fn(ctx)
            if getattr(self, "empty_run", False) and node.kind != "seed":
                # dbt --empty: schema-only dry run — every model builds
                # with zero rows so a CI pass validates the full DAG's
                # schemas/contracts/writes without paying for data
                # (reference: dbt run --empty / sample mode). Seeds stay
                # full: they are the tiny inputs dry models select from.
                df = df.limit(0)
            # Contract gate runs BEFORE any write: a violating model never
            # replaces the previous relation (dbt: compile-time failure).
            enforce_contract(node, df)
            rows = materialize(self, node, df)
            for hook in node.post_hooks:
                hook(self, node)
            return RunResult(node.name, "success", time.perf_counter() - t0, rows=rows)
        except Exception as exc:  # noqa: BLE001 — node errors become results
            return RunResult(node.name, "error", time.perf_counter() - t0, message=str(exc))

    def _deps_compiled(self, node: Node) -> bool:
        """A node whose fn never completed compile has unknown deps; treat a
        node as runnable only if it compiled (present in _built)."""
        return node.name in self._built

    def _resolve_materialized(self, name: str) -> DataFrame:
        node = self.nodes[name]
        local_ok = node.materialized in (
            "table", "view", "incremental"
        ) and self.relation_exists(name)
        # Defer (dbt --defer): an upstream OUTSIDE this run's selection may
        # be satisfied from the deferred environment's relation. Local
        # relations win unless favor_state (dbt --favor-state).
        if (
            self._defer_db
            and name not in self._current_selection
            and (self._defer_favor_state or not local_ok)
            and self.spark.catalog.tableExists(f"{self._defer_db}.{name}")
        ):
            return self.spark.table(f"{self._defer_db}.{name}")
        if local_ok:
            return self.read_relation(name)
        # Ephemeral (or not-yet-materialized) upstream: lazy composition.
        # Ephemeral-reuse (round 17): when 2+ materialized nodes of the
        # in-flight run read the same ephemeral, compute it ONCE and let
        # every consumer share the persisted frame (unpersisted by run()).
        with self._ephemeral_lock:
            cached = self._ephemeral_reuse.get(name)
            if cached is not None:
                return cached
            ctx = ModelContext(self, node, self._resolve_materialized)
            df = self._maybe_route_source(node, node.fn(ctx))
            if (
                self.reuse_ephemeral
                and node.materialized == "ephemeral"
                and not df.isStreaming  # streaming frames can't persist
                and self._current_selection
                and sum(
                    1
                    for m in self._current_selection
                    if name in self.nodes[m].depends_on
                    and self.nodes[m].materialized != "ephemeral"
                )
                >= 2
            ):
                df = df.persist()  # MEMORY_AND_DISK: spills, never OOMs
                self._ephemeral_reuse[name] = df
            return df

    def _maybe_route_source(self, node: Node, df: DataFrame) -> DataFrame:
        """Layout awareness (plans/layout_catalog.py): a raw source
        scan covered by a fresh engine-owned layout resolves to the
        layout's row- and schema-identical projection — every downstream
        model (SQL-string or Python) inherits the bucketed plan. Silent
        fallback on a miss or on the JVM/filesystem errors routing
        expects; any other error is a routing defect and raises. Never
        builds. Applied on BOTH resolution paths (compile_node and
        _resolve_materialized)."""
        if node.kind != "source" or not self.layout_routing:
            return df
        from py4j.protocol import Py4JError
        from pyspark.errors import PySparkException

        from .layout_catalog import route_source

        try:
            routed = route_source(self.spark, df)
        except (Py4JError, PySparkException, OSError):
            routed = None
        return df if routed is None else routed

    def run_unit_test(
        self,
        model: str,
        given: dict[str, DataFrame],
        expect: DataFrame,
    ) -> tuple[bool, DataFrame, DataFrame]:
        """dbt unit test (E13): render ONE model against mocked inputs and
        diff actual vs expected both ways (reference:
        SP/.../materializations/tests/unit.sql:1-30,
        SP/dbt/task/test.py:205-283 — fixture CTEs + EXCEPT-style compare).

        ``given`` maps upstream node names to fixture DataFrames; any ref()
        the model makes MUST be mocked (a unit test isolates one model, so
        touching a real relation is an error, mirroring dbt's requirement
        that unit-test inputs be fully specified).

        Returns ``(passed, missing, unexpected)`` where ``missing`` rows are
        expected-but-absent and ``unexpected`` are produced-but-unexpected.
        """
        node = self.nodes[model]

        def mock_resolve(name: str) -> DataFrame:
            if name not in given:
                raise KeyError(
                    f"unit test for {model!r}: ref({name!r}) is not mocked; "
                    f"provide it in `given`"
                )
            return given[name]

        ctx = ModelContext(self, node, mock_resolve)
        actual = node.fn(ctx)
        from .snapshot import unit_test as _diff

        return _diff(actual, expect)

    # ------------------------------------------------------------------
    # dbt test / show / artifacts
    # ------------------------------------------------------------------

    def run_tests(self) -> list[RunResult]:
        """Execute attached generic tests (violations==0 ⇒ pass), honoring
        warn_if/error_if thresholds and ``store_failures`` (reference:
        SP/dbt/task/test.py:296-325 — with store_failures the test's
        violation rows are materialized as an auditable relation the run
        result points at, instead of only a count)."""
        return [
            self._run_one_test(model, test_name, violations_fn, config)
            for model, test_name, violations_fn, config in self.tests
        ]

    def _run_one_test(
        self, model: str, test_name: str, violations_fn, config: dict
    ) -> RunResult:
        t0 = time.perf_counter()
        label = f"{test_name}__{model}"
        try:
            df = (
                self.read_relation(model)
                if self.relation_exists(model)
                else self.compile_node(model)
            )
            violations = violations_fn(df)
            stored_rel = None
            if config.get("store_failures"):
                # Materialize violations (even when empty — the relation
                # is the audit trail) and count from the stored table so
                # the recorded number is exactly what was persisted.
                stored_rel = f"{label}__failures"
                violations.write.mode("overwrite").saveAsTable(
                    self.qualified(stored_rel)
                )
                failures = self.spark.table(self.qualified(stored_rel)).count()
            else:
                failures = violations.count()
            error_if = config.get("error_if", lambda n: n != 0)
            warn_if = config.get("warn_if", lambda n: False)
            if error_if(failures):
                status, msg = "error", f"{failures} violations"
            elif warn_if(failures):
                status, msg = "warn", f"{failures} violations"
            else:
                status, msg = "success", ""
            if stored_rel:
                msg = f"{msg + '; ' if msg else ''}failures stored in {self.qualified(stored_rel)}"
            return RunResult(label, status, time.perf_counter() - t0, msg, rows=failures)
        except Exception as exc:  # noqa: BLE001
            return RunResult(label, "error", time.perf_counter() - t0, str(exc))

    def show(self, name: str, n: int = 5) -> None:
        """dbt show: preview a node (reference: SP/dbt/task/show.py:29-39)."""
        self.compile_node(name).limit(n).show(truncate=False)

    def query(self, sql: str) -> DataFrame:
        """Ad-hoc analysis over the project graph — ``dbt show --inline``
        / the analyses/ surface: render a Jinja-SQL string ({{ ref }},
        {{ source }}, {{ var }}, registered macros) against the project's
        relations and return the DataFrame without registering or
        materializing a node."""
        from .sql_models import render

        scratch = Node(name="__adhoc__", kind="model", materialized="ephemeral")
        ctx = ModelContext(self, scratch, self._resolve_for_adhoc)
        return self.spark.sql(render(ctx, "__adhoc__", sql))

    def _resolve_for_adhoc(self, name: str) -> DataFrame:
        """Resolve a ref for Project.query: prefer the materialized
        relation (what an analyst queries), fall back to compiling the
        node when it has not been built yet."""
        if self.relation_exists(name):
            return self.read_relation(name)
        return self.compile_node(name)

    def list(
        self, select: str | None = None, selector: str | None = None
    ) -> list[dict]:
        """dbt ls: enumerate selected nodes with their metadata, in
        DAG-topological order (reference: SP/dbt/task/list.py — the
        node-inventory command backing `dbt list`). Accepts the same
        ``select`` string / named ``selector`` pair as :meth:`run`."""
        from .selection import select_nodes
        from .selectors_yaml import default_selector

        if select is not None and selector is not None:
            raise ValueError("pass either select or selector, not both")
        if selector is not None:
            selected = self.select_by_selector(selector)
        elif select is None and (dflt := default_selector(self.selectors)):
            selected = self.select_by_selector(dflt)
        else:
            selected = select_nodes(self, select)
        out = []
        for level in self._toposort_levels(selected):
            for name in level:
                node = self.nodes[name]
                out.append(
                    {
                        "name": name,
                        "resource_type": node.kind,
                        "materialized": node.materialized,
                        "tags": sorted(node.tags),
                        "depends_on": sorted(node.depends_on),
                    }
                )
        return out

    def write_run_results(self, path: str) -> None:
        """Emit a run_results.json-shaped artifact
        (reference: target/run_results.json)."""
        payload = {
            "metadata": {"project": self.name, "run_date": str(self.run_date)},
            "elapsed_time": sum(r.execution_time for r in self.results),
            "results": [
                {
                    "unique_id": r.node,
                    "status": r.status,
                    "execution_time": r.execution_time,
                    "message": r.message,
                    "rows_affected": r.rows,
                }
                for r in self.results
            ],
        }
        with open(path, "w") as f:
            json.dump(payload, f, indent=2)

    def write_manifest(self, path: str) -> None:
        """Emit a manifest.json-shaped artifact: every node with kind,
        materialization, tags, dependency edges, and (when compiled) the
        Catalyst-resolved output schema
        (reference: target/manifest.json — 31 nodes with depends_on/config;
        schemas there are warehouse-inferred, here analyzer-inferred)."""
        nodes = {}
        for name, node in self.nodes.items():
            entry = {
                "unique_id": f"{node.kind}.{self.name}.{name}",
                "resource_type": node.kind,
                "materialized": node.materialized,
                "tags": list(node.tags),
                "depends_on": sorted(node.depends_on),
                "description": node.description,
                "path": node.path,
                "checksum": node.checksum,
                "config": node.config_fingerprint(),
            }
            if name in self._built:
                entry["columns"] = {
                    f.name: f.dataType.simpleString()
                    for f in self._built[name].schema.fields
                }
            nodes[entry["unique_id"]] = entry
        payload = {
            "metadata": {"project": self.name, "run_date": str(self.run_date)},
            "nodes": nodes,
        }
        # dbt manifests carry the semantic layer's parsed definitions
        # (semantic_models/metrics/saved_queries sections) beside nodes.
        sl = getattr(self, "semantic_layer", None)
        if sl is not None and (sl.models or sl.metrics):
            payload["semantic_models"] = {
                name: {
                    "model": sm.model,
                    "dimensions": sorted(sm.dimensions),
                    "measures": sorted(sm.measures),
                    "entities": sorted(sm.entities),
                }
                for name, sm in sorted(sl.models.items())
            }
            payload["metrics"] = {
                name: {"type": m.type, "measure": m.measure}
                for name, m in sorted(sl.metrics.items())
            }
            payload["saved_queries"] = {
                name: {"metrics": sq.metrics, "group_by": sq.group_by}
                for name, sq in sorted(sl.saved_queries.items())
            }
        with open(path, "w") as f:
            json.dump(payload, f, indent=2)

    def write_catalog(self, path: str) -> None:
        """Emit a catalog.json-shaped artifact: the MATERIALIZED state of
        every relation — storage-level schema, column order, row/byte stats
        where cheap (reference: SP/dbt/task/docs/ builds catalog.json from
        information_schema; here the Spark catalog is the source).

        Unlike the manifest (declared graph), this reflects what actually
        exists in the warehouse after a run — the doc-site / lineage input.
        """
        from pyspark.errors import AnalysisException

        nodes = {}
        for name, node in self.nodes.items():
            if not self.relation_exists(name):
                continue
            rel = self.read_relation(name)
            columns = {
                f.name: {"index": i, "type": f.dataType.simpleString(), "nullable": f.nullable}
                for i, f in enumerate(rel.schema.fields)
            }
            stats: dict[str, Any] = {}
            try:
                detail = self.spark.sql(
                    f"DESCRIBE DETAIL {self.qualified(name)}"
                ).collect()
                if detail:
                    d = detail[0].asDict()
                    stats = {
                        k: d[k]
                        for k in ("format", "location", "sizeInBytes", "numFiles")
                        if k in d and d[k] is not None
                    }
            except AnalysisException:
                pass  # views / formats without DESCRIBE DETAIL (incl. ParseException)
            nodes[f"{node.kind}.{self.name}.{name}"] = {
                "metadata": {"name": name, "materialized": node.materialized, **stats},
                "columns": columns,
            }
        payload = {
            "metadata": {"project": self.name, "run_date": str(self.run_date)},
            "nodes": nodes,
        }
        with open(path, "w") as f:
            json.dump(payload, f, indent=2)

    def retry(self) -> list[RunResult]:
        """dbt retry: re-run only the nodes that errored or were skipped in
        the previous run (reference: SP/dbt/task/retry.py — replays the
        run_results failures). No-op when the last run was clean."""
        failed = sorted(
            {r.node for r in self.results if r.status in ("error", "skipped")}
        )
        if not failed:
            return []
        return self.run(select=" ".join(failed))

    def refresh(self, name: str) -> RunResult:
        """REFRESH MATERIALIZED VIEW: recompute a materialized_view node's
        stored definition and swap the relation, WITHOUT running the DAG
        (reference: SP/.../materializations/models/materialized_view.sql —
        on a non-full-refresh run dbt issues a refresh against the existing
        MV object). Raises for non-MV nodes, like dbt's adapter does."""
        from .materialize import materialize

        node = self.nodes.get(name)
        if node is None:
            raise KeyError(f"unknown node {name!r}")
        if node.materialized != "materialized_view":
            raise ValueError(
                f"refresh() applies to materialized_view nodes; "
                f"{name!r} is materialized={node.materialized!r}"
            )
        t0 = time.time()
        df = self.compile_node(name)
        materialize(self, node, df)
        rows = self.read_relation(name).count()
        result = RunResult(name, "success", time.time() - t0, "refreshed", rows=rows)
        self.results.append(result)
        return result

    def load_state(
        self,
        manifest_path: str,
        run_results_path: str | None = None,
        sources_path: str | None = None,
        sources_current_path: str | None = None,
    ) -> None:
        """Load a previous run's artifacts for state-based selection — the
        dbt --state DIR mechanism backing ``state:modified`` / ``state:new``
        and ``result:<status>`` (reference: SP/dbt/graph/cli.py:27-166,
        selector_methods.py StateSelectorMethod / ResultSelectorMethod).

        ``manifest_path``: a manifest.json written by ``write_manifest``
        (node checksums + config fingerprints are compared). Optional
        ``run_results_path``: a run_results.json written by
        ``write_run_results`` (statuses feed ``result:``; without it,
        ``result:`` falls back to this project's in-memory last run).
        Optional ``sources_path`` / ``sources_current_path``: a PREVIOUS
        and a CURRENT sources.json written by the ``source freshness``
        command; both are required by ``source_status:fresher``
        (reference SourceStatusSelectorMethod — dbt likewise demands
        previous-state AND current freshness artifacts).
        """
        with open(manifest_path) as f:
            manifest = json.load(f)
        # Key by bare node name: unique_ids embed the project name, and
        # comparing state across a renamed project should still work.
        self.state_nodes = {
            uid.rsplit(".", 1)[-1]: entry
            for uid, entry in manifest.get("nodes", {}).items()
        }
        if run_results_path:
            with open(run_results_path) as f:
                run_results = json.load(f)
            self.state_results = {
                r["unique_id"]: r["status"]
                for r in run_results.get("results", [])
            }

        def _sources(path: str) -> dict[str, str | None]:
            with open(path) as f:
                doc = json.load(f)
            return {
                r["unique_id"]: r.get("max_loaded_at")
                for r in doc.get("results", [])
            }

        if sources_path:
            self.state_sources = _sources(sources_path)
        if sources_current_path:
            self.sources_current = _sources(sources_current_path)

    def clone(self, name: str, new_name: str) -> None:
        """Clone a materialized relation under a new name (dbt `clone`;
        reference: SP/.../models/clone/clone.sql — zero-copy where supported,
        else create-table-as-select; Spark has no zero-copy, so CTAS)."""
        if not self.relation_exists(name):
            raise ValueError(f"cannot clone {name!r}: not materialized")
        self.read_relation(name).write.mode("overwrite").saveAsTable(
            self.qualified(new_name)
        )
