"""Materializations: table / view / incremental (append, merge,
delete+insert) — dbt's materialization macros re-expressed as Spark writes.

Reference behaviors reproduced:
- table: CTAS + atomic tmp→rename swap (SP/.../models/table.sql:29-60) →
  ``saveAsTable(mode="overwrite")`` (Spark's overwrite IS the atomic swap).
- view: CREATE OR REPLACE VIEW (SP/.../models/view.sql:1-5).
- incremental: first run CTAS; later runs apply a strategy over new rows
  (SP/.../incremental/incremental.sql:2-71, strategies.sql:1-77,
  merge.sql:1-96). Without Delta, merge/delete+insert are implemented as
  union + ranking-window dedup + full rewrite — semantically identical to
  MERGE for the supported strategies; documented divergence: not an
  in-place row update.

Scale note: at 100 TB the incremental rewrite path should target a
transactional table format; the strategy layer here isolates that swap to
one function.
"""

from __future__ import annotations

import threading
import time
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .registry import RunResult

if TYPE_CHECKING:
    from .registry import Node, Project

# Serializes dynamic-partition-overwrite writes (see _apply_incremental).
_PARTITION_OVERWRITE_LOCK = threading.Lock()

# Incremental strategies run by an ingest core (plans/ingest.py).
_INGEST = ("dedup_insert", "ivf_insert")


# Directories younger than this are treated as possibly another process's
# in-flight CTAS (directory written, catalog not yet updated) and are NOT
# healed. Override per-session with the Spark conf below; 0 disables the
# age check entirely (single-writer deployments, tests).
_ORPHAN_HEAL_MIN_AGE_CONF = "spark.dbt_analytics.orphanHealMinAgeSeconds"
_ORPHAN_HEAL_MIN_AGE_DEFAULT = 600.0


def _newest_mtime_ms(fs, path, jvm) -> int:
    """Newest modification time (epoch ms) of the directory or any file
    under it — an in-flight writer keeps this recent."""
    newest = fs.getFileStatus(path).getModificationTime()
    it = fs.listFiles(path, True)
    while it.hasNext():
        newest = max(newest, it.next().getModificationTime())
    return newest


def _heal_orphan_location(project: "Project", target: str) -> bool:
    """Remove the PROVABLY-ORPHAN managed location blocking a CTAS.

    A run killed between writing a managed table's directory and
    registering it in the catalog leaves the directory behind with no
    catalog entry; every later ``saveAsTable`` on that name then fails
    with LOCATION_ALREADY_EXISTS until someone deletes the directory by
    hand. Heal exactly that case and nothing else: only when the catalog
    does NOT know ``target`` (so no live table's data can be destroyed),
    and only the warehouse-derived managed path for this name (both the
    default-db ``<wh>/<tbl>`` and ``<wh>/<db>.db/<tbl>`` layouts).

    Cross-process guard: a CONCURRENT run mid-CTAS on the same name looks
    identical from here (directory exists, catalog entry not yet written),
    and the in-process lock cannot see it. The discriminator is write
    recency — an in-flight writer's newest file mtime is seconds old,
    while a killed session's orphan is as old as the crash — so the heal
    refuses directories whose newest mtime is younger than
    ``spark.dbt_analytics.orphanHealMinAgeSeconds`` (default 600; set 0 to
    disable the check where single-writer is guaranteed). A refused heal
    re-raises the original loud LOCATION_ALREADY_EXISTS naming the path.
    Deletion goes through the Hadoop FileSystem API so it works on any
    warehouse scheme (local, HDFS, S3A), not just file://.
    """
    spark = project.spark if hasattr(project, "spark") else project
    if spark.catalog.tableExists(target):
        return False
    min_age_s = float(
        spark.conf.get(
            _ORPHAN_HEAL_MIN_AGE_CONF, str(_ORPHAN_HEAL_MIN_AGE_DEFAULT)
        )
    )
    db, _, tbl = target.rpartition(".")
    warehouse = spark.conf.get("spark.sql.warehouse.dir").rstrip("/")
    candidates = []
    if not db or db.lower() == "default":
        candidates.append(f"{warehouse}/{tbl.lower()}")
    if db:
        candidates.append(f"{warehouse}/{db.lower()}.db/{tbl.lower()}")
    hconf = spark._jsc.hadoopConfiguration()
    healed = False
    for cand in candidates:
        path = spark._jvm.org.apache.hadoop.fs.Path(cand)
        fs = path.getFileSystem(hconf)
        if not fs.exists(path):
            continue
        if min_age_s > 0:
            age_s = (
                time.time() * 1000 - _newest_mtime_ms(fs, path, spark._jvm)
            ) / 1000.0
            if age_s < min_age_s:
                raise RuntimeError(
                    f"managed location {cand} exists without a catalog "
                    f"entry but was written {age_s:.0f}s ago (< "
                    f"{min_age_s:.0f}s) — possibly another run's in-flight "
                    f"CTAS. Not healing. If no other run is active, delete "
                    f"the directory or set {_ORPHAN_HEAL_MIN_AGE_CONF}=0."
                )
        fs.delete(path, True)
        healed = True
    return healed


def _save_as_table(project, writer, target: str) -> None:
    """``writer.saveAsTable(target)`` with one orphan-location heal+retry
    (see _heal_orphan_location) — the crash-recovery contract every CTAS
    materialization in this module shares. ``project`` may be a Project
    or a bare SparkSession (engine-owned layout writes outside the node
    graph: plans/star_layout.py)."""
    from pyspark.errors.exceptions.captured import (
        AnalysisException,
        SparkRuntimeException,
    )

    try:
        writer.saveAsTable(target)
    except (AnalysisException, SparkRuntimeException) as exc:
        # Spark 4 raises LOCATION_ALREADY_EXISTS as SparkRuntimeException
        # from saveAsTable (AnalysisException on some DDL paths).
        if "LOCATION_ALREADY_EXISTS" not in str(
            exc
        ) or not _heal_orphan_location(project, target):
            raise
        writer.saveAsTable(target)


def materialize(project: "Project", node: "Node", df: DataFrame) -> int | None:
    if node.kind == "snapshot":
        # One SCD-2 pass per run against the stored snapshot table
        # (plans/snapshot.py), stamped deterministically at the project's
        # pinned run date (the engine-wide injectable-clock rule).
        import datetime as _dt

        from .snapshot import snapshot as _run_snapshot

        out = _run_snapshot(
            project,
            node.name,
            df,
            unique_key=node.unique_key,
            strategy=node.snapshot_strategy,
            updated_at=node.updated_at,
            check_cols=(
                node.check_cols
                if isinstance(node.check_cols, str)
                else list(node.check_cols)
            ),
            at=_dt.datetime.combine(project.run_date, _dt.time(0, 0)),
            hard_deletes=node.hard_deletes,
        )
        return out.count()
    kind = node.materialized
    target = project.qualified(node.name)
    # materialized_view: Spark has no native MV object, so the storage shape
    # is a table (CTAS) — same tier as dbt-postgres, where `dbt run` REFRESHes
    # by recomputing the stored definition. The MV-specific surface lives in
    # Project.refresh(name) (reference: SP/.../materializations/models/
    # materialized_view.sql — create/refresh/replace lifecycle).
    if kind == "incremental" and node.incremental_strategy == "microbatch":
        return _apply_microbatch(project, node, df)
    if kind == "incremental" and node.incremental_strategy in _INGEST:
        return _apply_ingest(project, node, df)
    if kind in ("table", "materialized_view") or (
        kind == "incremental" and not _incremental_applies(project, node)
    ):
        if node.zorder_by:
            # Z-order clustering (operators/zorder.py): layout-only —
            # rows are globally ordered along the Morton curve of the
            # named columns so row-group stats prune box predicates on
            # any subset of them. One physical order per table: zorder_by
            # and bucket_by cannot both hold.
            if node.bucket_by:
                raise ValueError(
                    f"{node.name}: zorder_by and bucket_by are mutually "
                    "exclusive — a table has one physical order"
                )
            from ..operators.zorder import zorder_dataframe

            df = zorder_dataframe(
                df, node.zorder_by, n_files=node.zorder_files or None
            )
        writer = df.write.mode("overwrite").format(node.file_format)
        if node.partition_by:
            writer = writer.partitionBy(*node.partition_by)
        if node.bucket_by:
            # Hive-style bucketing: co-locates join/agg keys at WRITE time,
            # so two tables bucketed on the same key with the same bucket
            # count join with NO shuffle on either side — the 100 TB answer
            # for fact-to-fact joins too big to broadcast. sortBy within
            # buckets enables sort-merge without a per-task sort.
            if not node.n_buckets:
                raise ValueError(f"bucket_by on {node.name} requires n_buckets")
            writer = writer.bucketBy(node.n_buckets, *node.bucket_by).sortBy(
                *node.bucket_by
            )
        _save_as_table(project, writer, target)
        return None
    if kind == "view":
        df.createOrReplaceTempView(node.name)
        return None
    if kind == "incremental":
        return _apply_incremental(project, node, df)
    if kind == "ephemeral":
        return None
    raise ValueError(f"unknown materialization {kind!r}")


def _incremental_applies(project: "Project", node: "Node") -> bool:
    return not project.full_refresh and project.relation_exists(node.name)


def _align_schema_drift(
    node: "Node",
    existing: DataFrame,
    new_rows: DataFrame,
    policy: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Apply dbt's on_schema_change policy when an incremental model's new
    batch has a different column set than the target (reference:
    SP/.../incremental/on_schema_change.sql process_schema_changes):

    - ignore (default): keep the TARGET schema — new columns are not
      written; target columns missing from the batch fill with NULL.
    - fail: raise with the added/removed column lists.
    - append_new_columns: add the batch's new columns (existing rows NULL);
      columns the batch dropped stay, NULL-filled for new rows.
    - sync_all_columns: target follows the batch — new columns added,
      removed columns dropped.

    Common columns keep the TARGET's type (batch values cast to it).
    """
    old_fields = {f.name: f for f in existing.schema.fields}
    new_fields = {f.name: f for f in new_rows.schema.fields}
    if list(old_fields) == list(new_fields):
        return existing, new_rows
    policy = policy or node.on_schema_change
    added = [f for f in new_rows.schema.fields if f.name not in old_fields]
    removed = [f for f in existing.schema.fields if f.name not in new_fields]
    if policy == "fail":
        raise ValueError(
            f"schema changed on incremental model {node.name!r} "
            f"(on_schema_change='fail'): added="
            f"{[f.name for f in added]} removed={[f.name for f in removed]}"
        )
    if policy == "ignore":
        final = list(existing.schema.fields)
    elif policy == "append_new_columns":
        final = list(existing.schema.fields) + added
    elif policy == "sync_all_columns":
        final = [f for f in existing.schema.fields if f.name in new_fields] + added
    else:
        raise ValueError(f"unknown on_schema_change {policy!r}")

    def conform(df: DataFrame, have: dict) -> DataFrame:
        return df.select(
            *[
                F.col(f.name).cast(f.dataType).alias(f.name)
                if f.name in have
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in final
            ]
        )

    return conform(existing, old_fields), conform(new_rows, new_fields)


def _apply_microbatch(project: "Project", node: "Node", df: DataFrame) -> int:
    """dbt's microbatch strategy as batch-granular partition overwrites.

    Reference semantics (SP/dbt/materializations/incremental/microbatch.py:
    81-96, 197-198 + runner SP/dbt/task/run.py:339+): split the event-time
    range into batch_size batches; each batch is an independently
    retryable, idempotent replacement of exactly its window; a failed
    batch records an error but later batches still run.

    Spark shape: the engine derives a `__batch` column
    (date_trunc(batch_size, event_time)), stores the table PARTITIONED by
    it, and replaces one partition per batch via dynamic partition
    overwrite — re-running a batch costs that partition, not the table.
    First run processes every batch from `begin` (or the data's min);
    incremental runs re-process the trailing `lookback` batches from the
    target's high-water mark plus anything newer. Per-batch outcomes land
    in project.batch_results as `<node>[batch=...]` rows.
    """
    if not node.event_time:
        raise ValueError(f"microbatch strategy requires event_time on {node.name}")
    spark = project.spark
    target = project.qualified(node.name)
    et = F.col(node.event_time)
    batch_col = F.date_trunc(node.batch_size, et)
    if node.batch_size != "hour":
        batch_col = batch_col.cast("date")
    data = df.withColumn("__batch", batch_col)
    if node.begin:
        data = data.filter(et >= F.lit(node.begin).cast("timestamp"))

    first_run = not (project.relation_exists(node.name) and not project.full_refresh)
    if first_run:
        _save_as_table(
            project,
            data.limit(0).write.mode("overwrite").partitionBy("__batch"),
            target,
        )
        batches = [r["__batch"] for r in data.select("__batch").distinct().collect()]
    else:
        hw = spark.table(target).agg(F.max("__batch")).collect()[0][0]
        unit = {"hour": "hours", "day": "days", "month": "months", "year": "years"}[
            node.batch_size
        ]
        floor_expr = (
            F.lit(hw) - F.expr(f"INTERVAL {max(node.lookback - 1, 0)} {unit}")
            if hw is not None
            else F.lit(None)
        )
        batches = [
            r["__batch"]
            for r in data.filter(
                F.lit(hw).isNull() | (F.col("__batch") >= floor_expr)
            )
            .select("__batch")
            .distinct()
            .collect()
        ]

    cols = spark.table(target).columns
    total = 0
    for batch in sorted(b for b in batches if b is not None):
        t0 = time.perf_counter()
        label = f"{node.name}[batch={batch}]"
        try:
            slice_df = data.filter(F.col("__batch") == F.lit(batch))
            with _PARTITION_OVERWRITE_LOCK:
                prev = spark.conf.get(
                    "spark.sql.sources.partitionOverwriteMode", "static"
                )
                spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
                try:
                    slice_df.select(*cols).write.mode("overwrite").insertInto(target)
                finally:
                    spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
            n = spark.table(target).filter(F.col("__batch") == F.lit(batch)).count()
            total += n
            project.batch_results.append(
                RunResult(label, "success", time.perf_counter() - t0, rows=n)
            )
        except Exception as exc:  # noqa: BLE001 — later batches must still run
            project.batch_results.append(
                RunResult(label, "error", time.perf_counter() - t0, str(exc))
            )
    return total


def _precedence_merge(
    node: "Node", existing: DataFrame, new_rows: DataFrame
) -> DataFrame:
    """New rows win over existing rows with the same key — exactly
    MERGE ... WHEN MATCHED UPDATE / delete+insert semantics
    (SP/.../incremental/merge.sql:1-96) via a precedence window.

    ``node.incremental_predicates`` (dbt's merge.sql predicates arm:
    extra conjuncts AND'd into the MERGE ON clause) scope which EXISTING
    rows participate in key matching: rows outside the predicates bypass
    the window entirely and pass through unchanged — pruning the
    match-side shuffle to the predicate window. Same documented tradeoff
    as dbt: a batch key whose only existing row lives OUTSIDE the window
    inserts a duplicate; the user asserts that cannot happen.
    """
    scoped_old, bystander_old = existing, None
    if node.incremental_predicates:
        cond = F.expr(
            " AND ".join(f"({p})" for p in node.incremental_predicates)
        )
        scoped_old = existing.filter(cond)
        bystander_old = existing.filter(~F.coalesce(cond, F.lit(False)))
    tagged_new = new_rows.withColumn("__src", F.lit(1))
    tagged_old = scoped_old.withColumn("__src", F.lit(0))
    w = Window.partitionBy(node.unique_key).orderBy(F.desc("__src"))
    merged = (
        tagged_new.unionByName(tagged_old)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__src", "__rn")
    )
    if bystander_old is not None:
        merged = merged.unionByName(bystander_old)
    return merged


def _apply_partition_pruned_merge(
    project: "Project", node: "Node", existing: DataFrame, new_rows: DataFrame
) -> int:
    """MERGE whose WRITE cost scales with the affected partitions, not the
    table — the 100 TB merge shape (reference: dbt's merge strategy,
    SP/.../incremental/merge.sql; on lake warehouses dbt prunes the
    target scan via incremental_predicates — here the pruning is derived
    automatically from the partition layout, and predicates additionally
    scope matching inside the hot slice via ``_precedence_merge``).

    Affected partitions = partitions receiving batch rows ∪ partitions
    holding an existing row of a batch key (found with a column-pruned
    scan of only (key, partition-cols) — parquet reads two skinny columns,
    not the table). Rows of affected partitions run the precedence window
    with the batch; every other partition is untouched on disk (no
    staging rewrite of the full table). A key that MOVES partitions is
    handled: its old partition is affected via the semi-join, so the old
    row is dropped there while the new row lands in its new partition. A
    partition emptied entirely by such moves is dropped via ALTER TABLE.

    Caveat (documented divergence): a NULL partition value routes rows to
    Hive's default partition; keep partition columns non-null (true of
    every date/grain partitioning this engine emits).
    """
    spark = project.spark
    target = project.qualified(node.name)
    parts = list(node.partition_by)
    key = node.unique_key

    batch_keys = new_rows.select(key).distinct()
    affected = (
        new_rows.select(*parts)
        .unionByName(
            existing.join(batch_keys, key, "leftsemi").select(*parts)
        )
        .distinct()
        # The plan reads the target; the write below overwrites its
        # partitions — cut lineage so the overwrite cannot invalidate it.
        .localCheckpoint(eager=True)
    )
    hot_old = existing.join(F.broadcast(affected), parts, "leftsemi")
    merged = _precedence_merge(node, hot_old, new_rows).localCheckpoint(
        eager=True
    )

    cols = spark.table(target).columns
    with _PARTITION_OVERWRITE_LOCK:
        prev = spark.conf.get(
            "spark.sql.sources.partitionOverwriteMode", "static"
        )
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            merged.select(*cols).write.mode("overwrite").insertInto(target)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    # Partitions whose every row was an old version of a key that moved
    # away produce no merged rows, so dynamic overwrite never touches
    # them — drop explicitly (bounded: ≤ affected partition count).
    emptied = affected.join(
        merged.select(*parts).distinct(), parts, "left_anti"
    ).collect()
    for row in emptied:
        spec = ", ".join(f"{c} = '{row[c]}'" for c in parts)
        spark.sql(f"ALTER TABLE {target} DROP IF EXISTS PARTITION ({spec})")
    spark.catalog.refreshTable(target)
    return spark.table(target).count()


def _apply_ingest(project: "Project", node: "Node", df: DataFrame) -> int | None:
    """``dedup_insert`` / ``ivf_insert``: one call of the strategy's
    ingest core (plans/ingest.py), the same code the streaming ingests
    run per micro-batch. The initial build bootstraps the target and its
    companions from this run's rows; a full refresh drops the target, its
    companions and its replay marker first, so ``ivf_insert`` retrains
    and ``dedup_insert`` re-indexes the rebuilt corpus. Ingest targets
    are append-only: a batch whose columns differ conforms to the stored
    ones (``ignore``/``fail``), and a widening policy needs a full
    refresh. ``ivf_insert`` ignores drift (the stored columns win)."""
    from . import ingest

    spark = project.spark
    target = project.qualified(node.name)
    strategy = node.incremental_strategy
    if not node.unique_key:
        raise ValueError(f"{strategy} strategy requires unique_key on {node.name}")
    if node.bucket_by or node.zorder_by:
        raise ValueError(
            f"{node.name}: {strategy} appends in place and keeps no "
            "bucket_by/zorder_by layout"
        )
    if project.full_refresh:
        ingest._drop(spark, (target, *ingest.companions(target, strategy)))
    incremental = _incremental_applies(project, node)
    if strategy == "ivf_insert":
        kw = node.ivf_kwargs or {}
        ingest.ivf_ingest(
            spark,
            target,
            df,
            node.unique_key,
            node.ivf_vec_col,
            n_cells=int(kw.get("n_cells", 16)),
            kmeans_iters=int(kw.get("kmeans_iters", 0)),
            partition_by=(*node.partition_by, "__ivf_cell"),
            file_format=node.file_format,
        )
    else:
        kw = dict(node.dedup_kwargs or {}, file_format=node.file_format)
        if incremental:
            existing = project.read_relation(node.name)
            if node.on_schema_change in (
                "append_new_columns",
                "sync_all_columns",
            ) and set(existing.columns) != set(df.columns):
                raise ValueError(
                    f"{node.name}: {strategy} targets are append-only, so "
                    f"on_schema_change={node.on_schema_change!r} cannot "
                    "change their columns — run a full refresh"
                )
            df = _align_schema_drift(node, existing, df)[1]
            ingest.dedup_heal(
                spark, target, node.unique_key, node.dedup_text_col, **kw
            )
        ingest.dedup_ingest(
            spark,
            target,
            df,
            node.unique_key,
            node.dedup_text_col,
            partition_by=tuple(node.partition_by),
            **kw,
        )
    return spark.table(target).count() if incremental else None


def _apply_incremental(project: "Project", node: "Node", new_rows: DataFrame) -> int:
    target = project.qualified(node.name)
    existing = project.read_relation(node.name)
    strategy = node.incremental_strategy

    # Partition-pruned merge (below) also publishes via insertInto, which
    # is positional against the STORED table schema — same constraint as
    # insert_overwrite.
    pruned_merge = strategy in ("merge", "delete+insert") and bool(
        node.partition_by
    )
    if strategy != "insert_overwrite" and not pruned_merge:
        existing, new_rows = _align_schema_drift(node, existing, new_rows)
    elif set(existing.columns) != set(new_rows.columns):
        if node.on_schema_change == "fail":
            _align_schema_drift(node, existing, new_rows)  # raises
        # insertInto is positional against the STORED table schema, which a
        # partition-granular overwrite cannot alter — conform the batch back
        # to the target (ignore semantics) whatever the policy says.
        existing, new_rows = _align_schema_drift(
            node, existing, new_rows, policy="ignore"
        )

    if pruned_merge:
        return _apply_partition_pruned_merge(project, node, existing, new_rows)

    if strategy == "insert_overwrite":
        # Partition-granular replacement (SP/.../incremental/strategies.sql:
        # insert_overwrite): only partitions present in new_rows are
        # rewritten — the 100 TB path, since cost scales with the changed
        # partitions, not the table. Needs dynamic partition-overwrite mode
        # and positional column order for insertInto.
        if not node.partition_by:
            raise ValueError(
                f"insert_overwrite strategy requires partition_by on {node.name}"
            )
        spark = project.spark
        cols = spark.table(target).columns
        # Project.run() executes nodes concurrently in a thread pool, and
        # spark.sql.sources.partitionOverwriteMode is session-global: an
        # unguarded set/restore can race with another insert_overwrite node
        # (wrong restore order → mode leaks). The DataFrameWriter option
        # 'partitionOverwriteMode' is ignored by insertInto on catalog
        # tables (verified on Spark 4.1), so the conf flip must stay —
        # serialize the whole set→write→restore under a module lock. Only
        # insertInto reads this conf; saveAsTable materializations are
        # unaffected and keep running concurrently.
        with _PARTITION_OVERWRITE_LOCK:
            prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
            try:
                new_rows.select(*cols).write.mode("overwrite").insertInto(target)
            finally:
                spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        return spark.table(target).count()

    if strategy == "append":
        # True append when the stored schema is unchanged: write ONLY the
        # batch (cost ∝ batch, not table) and keep the stored layout —
        # the staging full-rewrite below is for strategies/policies that
        # must restate the whole relation. Without this, an append-
        # strategy node rewrote its entire table per batch AND silently
        # dropped its partition layout (the staging saveAsTable carried
        # no partitionBy) — the partitioned-append regression test pins
        # both properties.
        stored_cols = project.spark.table(target).columns
        if set(existing.columns) == set(stored_cols):
            writer = (
                new_rows.select(*stored_cols)
                .write.mode("append")
                .format(node.file_format)
            )
            if node.partition_by:
                writer = writer.partitionBy(*node.partition_by)
            if node.bucket_by:
                writer = writer.bucketBy(
                    node.n_buckets, *node.bucket_by
                ).sortBy(*node.bucket_by)
            _save_as_table(project, writer, target)
            project.spark.catalog.refreshTable(target)
            return project.spark.table(target).count()
        # Additive schema-change policies widened the target: fall through
        # to the full restatement with the new column set.
        combined = existing.unionByName(new_rows)
    elif strategy in ("merge", "delete+insert"):
        if not node.unique_key:
            raise ValueError(f"{strategy} strategy requires unique_key on {node.name}")
        combined = _precedence_merge(node, existing, new_rows)
    else:
        raise ValueError(f"unknown incremental strategy {strategy!r}")

    # Materialize via a staging table to avoid reading+overwriting the same
    # relation in one job (the tmp→swap dance of table.sql:29-47). Both
    # writes carry the node's physical layout — a restatement must not
    # drop the partition/bucket spec the initial build declared.
    def _layout(writer):
        writer = writer.format(node.file_format)
        if node.partition_by:
            writer = writer.partitionBy(*node.partition_by)
        if node.bucket_by:
            writer = writer.bucketBy(node.n_buckets, *node.bucket_by).sortBy(
                *node.bucket_by
            )
        return writer

    staging = f"{node.name}__dbt_tmp"
    _layout(combined.write.mode("overwrite")).saveAsTable(
        project.qualified(staging)
    )
    staged = project.spark.table(project.qualified(staging))
    _layout(staged.write.mode("overwrite")).saveAsTable(target)
    n = project.spark.table(target).count()
    project.spark.sql(f"DROP TABLE IF EXISTS {project.qualified(staging)}")
    return n
