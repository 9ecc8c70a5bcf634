"""Ingest strategies: one core per strategy, shared by every caller.

dbt writes each incremental strategy once, as a macro that every caller
invokes (SP/.../incremental/strategies.sql). Here the two ingest
strategies are written once too, and both the batch materialization
(plans/materialize.py: ``dedup_insert`` / ``ivf_insert``) and the
streaming ingests (streaming/incremental.py: ``stream_dedup_ingest`` /
``stream_ivf_ingest``, per ``foreachBatch``) call them:

- ``dedup_ingest``: within-batch exact dedup (lowest key per text wins),
  then drop texts already in the corpus (``{target}__dedup_fps``), then
  drop near-duplicates of the corpus (MinHash-LSH against the persisted
  banded index ``{target}__lsh_shingles`` / ``__lsh_bands``), then append
  the survivors and index them.
- ``ivf_ingest``: assign each row to its nearest pinned IVF centroid
  (``{target}__ivf_centroids``; cell -1 for a NULL embedding) and append
  it into the cell-partitioned target.

Each core bootstraps a missing target from the batch and appends to an
existing one. Ingest targets are append-only: no stored row is rewritten.

Delivery semantics — effectively-once over non-transactional writes:

- Companions commit AFTER the target (a crash leaves them behind the
  corpus, the safe side: the reverse order lets a retry anti-join its
  own batch away). IVF centroids are the exception: they are the model
  the target is indexed against, so they commit BEFORE it.
- The target append anti-joins on the key, so a replay never duplicates
  a row.
- Replay marker: an append records the batch's key-set content
  fingerprint in ``{target}__ingest_commits`` after every other write; a
  batch with a recorded fingerprint returns before any work. The marker
  is dropped whenever the target is (re)created. A lost marker only
  costs the fast path.
- Heal (dedup_ingest): ``dedup_heal`` indexes target rows that the last
  companion written does not cover — what a crash between the target
  and companion commits leaves behind, whatever rows the retry carries.
  Callers run it once per invocation (one ``dbt run``, one stream drain)
  before the first batch; a ``foreachBatch`` exception ends the query, so
  the next drain heals before its replay.

Per-batch cost scales with the batch: the key and fingerprint probes
broadcast the batch's keys into a map-side filter over one skinny stored
column, and the near-dup probe joins the persisted bands. The only
corpus-sized work is the heal's skinny key anti-join, once per
invocation.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import dedup as _dedup
from ..operators import similarity as _sim
from .materialize import _save_as_table

_MARKER = "__ingest_commits"
#: Companion suffixes in commit order; the heal reads the last one.
_COMPANIONS = {
    "dedup_insert": ("__dedup_fps", "__lsh_shingles", "__lsh_bands"),
    "ivf_insert": ("__ivf_centroids",),
}


def companions(target: str, strategy: str) -> tuple[str, ...]:
    """Every table an ingest ``target`` owns besides itself, marker last."""
    return tuple(target + s for s in (*_COMPANIONS[strategy], _MARKER))


def _drop(spark: SparkSession, tables) -> None:
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def _writer(df: DataFrame, mode: str, file_format: str, partition_by=()):
    w = df.write.mode(mode).format(file_format)
    return w.partitionBy(*partition_by) if partition_by else w


def _create(
    spark: SparkSession,
    target: str,
    rows: DataFrame,
    file_format: str,
    partition_by: tuple[str, ...],
) -> None:
    """(Re)create ``target`` from ``rows``, dropping the replay marker of
    any earlier table of that name first: it vouches for rows that are
    gone."""
    _drop(spark, [target + _MARKER])
    _save_as_table(
        spark, _writer(rows, "overwrite", file_format, partition_by), target
    )


def _batch_key_fingerprint(df: DataFrame, key: str) -> tuple[int, str, str]:
    """Content identity of a batch's key set: (count, two independent
    60-bit md5-chunk sums in decimal — order-free, overflow-free to
    ~10^18 rows). Deterministic across runs/engines (md5 over the string
    key), so a re-run of the same batch reproduces it exactly. One
    batch-sized aggregate; never touches the corpus."""
    h = F.md5(F.col(key).cast("string"))
    n, h1, h2 = df.select(
        F.count(F.lit(1)),
        *(
            F.sum(F.conv(F.substring(h, i, 15), 16, 10).cast("decimal(38,0)"))
            for i in (1, 17)
        ),
    ).collect()[0]
    return int(n), str(h1), str(h2)


def _unmarked(
    spark: SparkSession, target: str, batch: DataFrame, key: str
) -> tuple[int, str, str] | None:
    """The batch's key fingerprint, or None when there is nothing to do:
    an empty batch, or a replay whose fingerprint the marker records."""
    fp = _batch_key_fingerprint(batch, key)
    if fp[0] == 0:
        return None
    marker = target + _MARKER
    if spark.catalog.tableExists(marker):
        n, h1, h2 = fp
        hit = spark.table(marker).filter(
            (F.col("n") == n) & (F.col("h1") == h1) & (F.col("h2") == h2)
        )
        if not hit.isEmpty():
            return None
    return fp


def _mark(spark: SparkSession, target: str, fp: tuple[int, str, str]) -> None:
    _save_as_table(
        spark,
        spark.createDataFrame([fp], "n long, h1 string, h2 string")
        .write.mode("append"),
        target + _MARKER,
    )


def _absent(rows: DataFrame, stored: DataFrame, key: str) -> DataFrame:
    """Rows whose ``key`` is not in ``stored``. Broadcasting the batch's
    key set into a left-semi makes the probe a map-side filter over ONE
    skinny stored column — no corpus-sized shuffle — and the anti-join
    that consumes it sees a batch-sized right side."""
    hits = (
        stored.select(key)
        .join(F.broadcast(rows.select(key).distinct()), key, "left_semi")
        .distinct()
    )
    return rows.join(hits, key, "left_anti")


def _index_rows(
    rows: DataFrame, key: str, text_col: str, lsh_kwargs: dict
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The fingerprint, shingle and band rows that index ``rows``, in
    companion commit order. Changing shingle_k/num_hashes/bands needs a
    full refresh: the stored index was built with the old ones."""
    index_kw = ("shingle_k", "num_hashes", "bands")
    sh, bd = _dedup.build_lsh_index(
        rows, key, text_col, **{k: lsh_kwargs[k] for k in index_kw if k in lsh_kwargs}
    )
    return rows.select(F.md5(F.col(text_col)).alias("__fp")).distinct(), sh, bd


def dedup_heal(
    spark: SparkSession,
    target: str,
    key: str,
    text_col: str = "text",
    *,
    file_format: str = "parquet",
    **lsh_kwargs,
) -> None:
    """Index every ``target`` row that the band companion (written last)
    does not cover — all of them when the index is missing. A crash may
    have committed the fingerprints or shingles of those rows already, so
    those two appends skip what they hold: the heal is idempotent."""
    if not spark.catalog.tableExists(target):
        return
    tables = companions(target, "dedup_insert")[:3]
    corpus = spark.table(target)
    keys = corpus.select(key)
    if spark.catalog.tableExists(tables[2]):
        covered = spark.table(tables[2]).select(F.col("doc").alias(key))
        keys = keys.join(covered, key, "left_anti")
    # Checkpointed, the rows to index are a plan no earlier call built:
    # the LSH operators reuse a persisted frame of the same plan, which a
    # plain scan of a since-dropped table would match.
    keys = keys.localCheckpoint(eager=True)
    if keys.isEmpty():
        return
    uncovered = corpus.join(keys, key, "left_semi")
    frames = _index_rows(uncovered, key, text_col, lsh_kwargs)
    for tbl, rows, col in zip(tables, frames, ("__fp", "doc", None)):
        if col and spark.catalog.tableExists(tbl):
            # reads the table it appends to — cut lineage first
            rows = rows.join(
                spark.table(tbl).select(col), col, "left_anti"
            ).localCheckpoint(eager=True)
        _writer(rows, "append", file_format).saveAsTable(tbl)


def dedup_ingest(
    spark: SparkSession,
    target: str,
    batch: DataFrame,
    key: str,
    text_col: str = "text",
    *,
    partition_by: tuple[str, ...] = (),
    file_format: str = "parquet",
    **lsh_kwargs,
) -> None:
    """Add ``batch``'s non-duplicate rows to the corpus ``target`` (see
    the module docstring). A missing target is created from the batch's
    exact-deduplicated rows, and its index is built from it. An existing
    target expects ``dedup_heal`` to have run in this invocation."""
    if text_col not in batch.columns:
        raise ValueError(f"dedup_insert: text column {text_col!r} not in {target}")
    w_fp = Window.partitionBy("__fp").orderBy(F.col(key))
    rows = (
        batch.withColumn("__fp", F.md5(F.col(text_col)))
        .withColumn("__rn", F.row_number().over(w_fp))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    fp_tbl, sh_tbl, bd_tbl, _ = companions(target, "dedup_insert")
    if not spark.catalog.tableExists(target):
        _drop(spark, (fp_tbl, sh_tbl, bd_tbl))
        _create(spark, target, rows.drop("__fp"), file_format, partition_by)
        dedup_heal(
            spark, target, key, text_col, file_format=file_format, **lsh_kwargs
        )
        return
    mark = _unmarked(spark, target, batch, key)
    if mark is None:
        return
    fresh = _absent(rows, spark.table(fp_tbl), "__fp").drop("__fp")
    near_free = _dedup.dedup_against_corpus(
        fresh,
        spark.table(target),
        key,
        text_col,
        corpus_index=(spark.table(sh_tbl), spark.table(bd_tbl)),
        **lsh_kwargs,
    )
    # The plan reads the target and its companions, and the writes below
    # append to them — cut lineage first.
    survivors = _absent(near_free, spark.table(target), key).localCheckpoint(
        eager=True
    )
    if not survivors.isEmpty():
        _writer(survivors, "append", file_format, partition_by).saveAsTable(
            target
        )
        frames = _index_rows(survivors, key, text_col, lsh_kwargs)
        for tbl, df in zip((fp_tbl, sh_tbl, bd_tbl), frames):
            _writer(df, "append", file_format).saveAsTable(tbl)
    _mark(spark, target, mark)


def _ivf_centroids(
    spark: SparkSession,
    target: str,
    batch: DataFrame,
    key: str,
    vec_col: str,
    n_cells: int,
    kmeans_iters: int,
    file_format: str,
) -> np.ndarray | None:
    """The pinned centroid matrix, trained from ``batch`` (RNG-free:
    hash-ordered sample plus optional Lloyd iterations) and committed
    when none is stored. None when there is neither a model nor a vector
    to train one on: such a batch stages in cell -1. Training is
    deterministic, and a bootstrap keeps a stored model: a crash between
    this commit and the target's leaves the model the retry uses."""
    cent_tbl = companions(target, "ivf_insert")[0]
    if spark.catalog.tableExists(cent_tbl):
        rows = spark.table(cent_tbl).orderBy("cell").collect()
        return np.asarray([list(r["centroid"]) for r in rows], dtype=np.float64)
    if (
        spark.catalog.tableExists(target)
        and not spark.table(target).filter(F.col("__ivf_cell") >= 0).isEmpty()
    ):
        raise ValueError(
            f"ivf_insert: centroid table {cent_tbl} is missing but {target} "
            f"holds assigned rows — the model cannot be rebuilt from the "
            f"corpus; run a full refresh (or drop {target} and re-ingest) "
            f"to re-index"
        )
    vecs = batch.filter(F.col(vec_col).isNotNull())
    if vecs.isEmpty():
        return None
    if kmeans_iters > 0:
        C, _ = _sim.kmeans_fit(
            vecs, key, vec_col, n_cells=n_cells, max_iter=kmeans_iters
        )
    else:
        C = _sim._sample_centroids(vecs, key, vec_col, n_cells)
    C = np.asarray(C, dtype=np.float64)
    _save_as_table(
        spark,
        _writer(
            spark.createDataFrame(
                [(i, [float(x) for x in row]) for i, row in enumerate(C)],
                "cell int, centroid array<double>",
            ),
            "overwrite",
            file_format,
        ),
        cent_tbl,
    )
    return C


def ivf_ingest(
    spark: SparkSession,
    target: str,
    batch: DataFrame,
    key: str,
    vec_col: str = "embedding",
    *,
    n_cells: int = 16,
    kmeans_iters: int = 0,
    partition_by: tuple[str, ...] = ("__ivf_cell",),
    file_format: str = "parquet",
) -> None:
    """Add ``batch`` to the IVF index ``target``: one Arrow pass assigns
    each new row to the pinned broadcast centroids and one partitioned
    append stores it with its cell, so probes prune partitions
    (operators/similarity.py: ivf_index_topk). The first vector-bearing
    batch trains the centroids; later batches never re-train or re-scan
    the corpus (re-training is a full refresh, like a bucket count).
    ``partition_by`` must end with ``__ivf_cell``."""
    if vec_col not in batch.columns:
        raise ValueError(f"ivf_insert: embedding column {vec_col!r} not in {target}")
    batch = batch.dropDuplicates([key])
    exists = spark.catalog.tableExists(target)
    if exists:
        mark = _unmarked(spark, target, batch, key)
        if mark is None:
            return
    elif batch.isEmpty():
        return
    C = _ivf_centroids(
        spark, target, batch, key, vec_col, n_cells, kmeans_iters, file_format
    )
    rows = batch.withColumn(
        "__ivf_cell",
        F.lit(-1)
        if C is None
        else _sim.ivf_cell_udf(C)(_sim.as_double_array(F.col(vec_col))),
    )
    if not exists:
        _create(spark, target, rows, file_format, partition_by)
        return
    stored = spark.table(target)
    # The plan reads the target and the write appends to it — cut lineage.
    rows = _absent(rows, stored, key).select(*stored.columns).localCheckpoint(
        eager=True
    )
    _writer(rows, "append", file_format, partition_by).saveAsTable(target)
    _mark(spark, target, mark)
