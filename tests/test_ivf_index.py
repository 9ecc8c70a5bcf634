"""ivf_insert incremental strategy (plans/materialize.py) + the
partition-pruned probe (operators/similarity.py: ivf_index_topk):
persistent ANN index maintenance at ingest — centroids trained once,
every batch assigns itself to the pinned cells and appends into the
cell-partitioned target; probes read only the probed partitions.

Contracts pinned here:
- stored cells == ivf_topk's in-plan assignment (shared cosine_cells rule)
- probe over the index == ivf_topk over the full corpus (result-identical)
- re-emitted batch (retry after a committed append) inserts nothing
- NULL embeddings keep their rows (cell -1) and never surface in probes
- the probe's scan is partition-pruned on __ivf_cell
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from dbt_analytics_spark.operators.similarity import (
    as_double_array,
    cosine_cells,
    ivf_index_topk,
    ivf_topk,
)
from dbt_analytics_spark.plans import Project


def _vec(i: int, dim: int = 8) -> list[float]:
    # Deterministic, well-spread unit-ish vectors.
    rng = [(i * 2654435761 + d * 40503) % 997 / 997.0 - 0.5 for d in range(dim)]
    return [float(x) for x in rng]


def _rows(ids):
    return [(int(i), _vec(i), f"doc{i}") for i in ids]


@pytest.fixture()
def ivf_project(spark):
    # The warehouse outlives each test: start from a clean slate so one
    # test's index can't leak into the next (the node name is shared).
    for t in (
        "vec_index",
        "vec_index__ivf_centroids",
        "vec_index__ingest_commits",
    ):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    p = Project(spark, name="ivfp")
    state = {"rows": _rows(range(40))}

    @p.model(
        materialized="incremental",
        incremental_strategy="ivf_insert",
        unique_key="vec_id",
        ivf_vec_col="embedding",
        ivf_kwargs={"n_cells": 4, "kmeans_iters": 2},
        name="vec_index",
    )
    def vec_index(ctx):
        return ctx.spark.createDataFrame(
            state["rows"], ["vec_id", "embedding", "payload"]
        )

    return p, state


def _rerun(spark, p, state):
    p2 = Project(spark, name="ivfp")
    p2.nodes = p.nodes
    p2.run(select="vec_index")
    return p2


def test_ivf_insert_builds_and_appends_with_pinned_cells(spark, ivf_project):
    p, state = ivf_project
    p.run(select="vec_index")
    assert spark.table("vec_index").count() == 40
    assert spark.catalog.tableExists("vec_index__ivf_centroids")
    cent = spark.table("vec_index__ivf_centroids").orderBy("cell").collect()
    C = np.asarray([list(r["centroid"]) for r in cent])
    assert C.shape == (4, 8)

    # Incremental batch: new ids 40..59 (plus overlap 0..4 that must not
    # duplicate: retry/idempotence guard).
    state["rows"] = _rows(range(0, 5)) + _rows(range(40, 60))
    _rerun(spark, p, state)
    got = sorted(r["vec_id"] for r in spark.table("vec_index").collect())
    assert got == list(range(60))

    # Stored cells match the shared cosine rule for EVERY row (initial +
    # appended batches alike).
    rows = spark.table("vec_index").select("vec_id", "embedding", "__ivf_cell").collect()
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-300)
    for r in rows:
        v = np.asarray(list(r["embedding"]), dtype=np.float64)[None, :]
        vn = v / np.maximum(np.linalg.norm(v), 1e-300)
        assert r["__ivf_cell"] == int(cosine_cells(vn, Cn, 1)[0, 0]), r["vec_id"]

    # Centroids were NOT retrained by the append.
    cent2 = spark.table("vec_index__ivf_centroids").orderBy("cell").collect()
    assert [list(r["centroid"]) for r in cent2] == [list(r["centroid"]) for r in cent]


def test_ivf_insert_retry_batch_is_noop(spark, ivf_project):
    p, state = ivf_project
    p.run(select="vec_index")
    state["rows"] = _rows(range(40, 50))
    _rerun(spark, p, state)
    n1 = spark.table("vec_index").count()
    _rerun(spark, p, state)  # same batch re-emitted (crash-retry shape)
    assert spark.table("vec_index").count() == n1 == 50


def test_probe_equals_full_ivf_and_prunes_partitions(spark, ivf_project):
    p, state = ivf_project
    p.run(select="vec_index")
    state["rows"] = _rows(range(40, 60))
    _rerun(spark, p, state)

    cent = spark.table("vec_index__ivf_centroids").orderBy("cell").collect()
    C = np.asarray([list(r["centroid"]) for r in cent])
    corpus = spark.table("vec_index")
    queries = spark.createDataFrame(
        [(1000 + i, _vec(1000 + i)) for i in range(3)], ["vec_id", "embedding"]
    )

    via_index = ivf_index_topk(
        corpus, queries, C, k=3, n_probe=2
    ).collect()
    full = ivf_topk(
        corpus.drop("__ivf_cell", "payload"),
        queries,
        k=3,
        n_probe=2,
        centroids=C,
    ).collect()
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    assert sorted(
        [(r["query_id"], r["corpus_id"], round(r["cosine_sim"], 12), r["rank"]) for r in via_index]
    ) == sorted(
        [(r["query_id"], r["corpus_id"], round(r["cosine_sim"], 12), r["rank"]) for r in full]
    )

    # Physical contract: the probe's corpus scan carries a partition
    # filter on __ivf_cell (reads ~n_probe/n_cells of the table).
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-300)
    qv = np.asarray([_vec(1000 + i) for i in range(3)])
    qn = qv / np.maximum(np.linalg.norm(qv, axis=1, keepdims=True), 1e-300)
    probed = sorted({int(c) for c in cosine_cells(qn, Cn, 2).ravel()})
    pruned = corpus.filter(F.col("__ivf_cell").isin(probed))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "__ivf_cell" in plan and "PartitionFilters" in plan, plan
    assert len(probed) < 4  # the probe genuinely skipped cells


def test_null_embeddings_kept_in_cell_minus_one_never_probed(spark, ivf_project):
    p, state = ivf_project
    p.run(select="vec_index")
    state["rows"] = [(99, None, "nullvec")] + _rows([98])
    _rerun(spark, p, state)
    cells = {
        r["vec_id"]: r["__ivf_cell"]
        for r in spark.table("vec_index").filter(F.col("vec_id").isin(98, 99)).collect()
    }
    assert cells[99] == -1 and cells[98] >= 0
    cent = spark.table("vec_index__ivf_centroids").orderBy("cell").collect()
    C = np.asarray([list(r["centroid"]) for r in cent])
    queries = spark.createDataFrame([(1, _vec(7))], ["vec_id", "embedding"])
    out = ivf_index_topk(
        spark.table("vec_index"), queries, C, k=100, n_probe=4
    ).collect()
    assert 99 not in {r["corpus_id"] for r in out}


def test_missing_centroids_fails_loud_and_full_refresh_reindexes(spark, ivf_project):
    p, state = ivf_project
    p.run(select="vec_index")
    spark.sql("DROP TABLE vec_index__ivf_centroids")
    state["rows"] = _rows(range(40, 45))
    p2 = Project(spark, name="ivfp")
    p2.nodes = p.nodes
    res = {r.node: r for r in p2.run(select="vec_index")}
    assert res["vec_index"].status == "error"
    assert "full refresh" in res["vec_index"].message
    # Nothing half-appended by the failed run.
    assert spark.table("vec_index").count() == 40
    # Full refresh retrains + rewrites.
    p3 = Project(spark, name="ivfp", full_refresh=True)
    p3.nodes = p.nodes
    p3.run(select="vec_index")
    assert spark.table("vec_index").count() == 5
    assert spark.catalog.tableExists("vec_index__ivf_centroids")


def test_stream_ivf_ingest_end_to_end(spark, tmp_path):
    """Streaming sibling: two availableNow drains — batch 1 trains the
    centroids and bootstraps the cell-partitioned target, batch 2 appends
    against the PINNED model, the checkpoint prevents reprocessing, and a
    direct batch replay is a no-op (anti-join idempotence)."""
    import uuid

    from dbt_analytics_spark.streaming import stream_ivf_ingest
    from dbt_analytics_spark.plans.ingest import ivf_ingest

    tbl = f"ivfstream_{uuid.uuid4().hex[:8]}"
    src, ckpt = str(tmp_path / "land"), str(tmp_path / "ckpt")

    spark.createDataFrame(
        _rows(range(20)), ["vec_id", "embedding", "payload"]
    ).write.mode("overwrite").parquet(src)
    stream_ivf_ingest(spark, src, tbl, ckpt, n_cells=4, kmeans_iters=1)
    assert spark.table(tbl).count() == 20
    cent = [
        list(r["centroid"])
        for r in spark.table(f"{tbl}__ivf_centroids").orderBy("cell").collect()
    ]

    spark.createDataFrame(
        _rows(range(20, 35)), ["vec_id", "embedding", "payload"]
    ).write.mode("append").parquet(src)
    stream_ivf_ingest(spark, src, tbl, ckpt, n_cells=4, kmeans_iters=1)
    assert sorted(r["vec_id"] for r in spark.table(tbl).collect()) == list(range(35))
    cent2 = [
        list(r["centroid"])
        for r in spark.table(f"{tbl}__ivf_centroids").orderBy("cell").collect()
    ]
    assert cent2 == cent  # model pinned, not retrained by later batches

    # checkpoint: re-drain with no new files is a no-op
    stream_ivf_ingest(spark, src, tbl, ckpt, n_cells=4, kmeans_iters=1)
    assert spark.table(tbl).count() == 35

    # at-least-once replay of an already-committed batch: no duplicates
    replay = spark.createDataFrame(
        _rows(range(20, 35)), ["vec_id", "embedding", "payload"]
    )
    ivf_ingest(spark, tbl, replay, "vec_id", "embedding", n_cells=4, kmeans_iters=1)
    assert spark.table(tbl).count() == 35

    # stored cells follow the shared rule for streamed rows too
    C = np.asarray(cent)
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-300)
    for r in spark.table(tbl).filter("vec_id in (3, 27)").collect():
        v = np.asarray(list(r["embedding"]))[None, :]
        vn = v / np.maximum(np.linalg.norm(v), 1e-300)
        assert r["__ivf_cell"] == int(cosine_cells(vn, Cn, 1)[0, 0])


def test_stream_ivf_reingest_after_drop_clears_stale_markers(spark):
    """Stale __ingest_commits markers must not survive a target rebuild:
    if a user follows the recovery instruction (drop the target,
    re-ingest) WITHOUT dropping the commits table, every replayed batch
    whose key set matches an old marker would be fast-path-skipped — its
    rows silently never written. Every path that creates the target drops
    the marker table first. (A bootstrap records no marker: the corpus it
    creates is the batch, so its replay anti-join is batch-sized.)"""
    import uuid

    from dbt_analytics_spark.plans.ingest import ivf_ingest

    tbl = f"ivfdrop_{uuid.uuid4().hex[:8]}"
    first = spark.createDataFrame(
        _rows(range(6)), ["vec_id", "embedding", "payload"]
    )
    batch = spark.createDataFrame(
        _rows(range(6, 12)), ["vec_id", "embedding", "payload"]
    )
    ivf_ingest(spark, tbl, first, "vec_id", "embedding", n_cells=3, kmeans_iters=1)
    ivf_ingest(spark, tbl, batch, "vec_id", "embedding", n_cells=3, kmeans_iters=1)
    assert spark.table(tbl).count() == 12
    assert spark.table(f"{tbl}__ingest_commits").count() == 1

    # Scenario 1: drop the TARGET only (centroids stay pinned) and
    # re-ingest the marked batch — the pinned-model rebuild path.
    spark.sql(f"DROP TABLE {tbl}")
    ivf_ingest(spark, tbl, batch, "vec_id", "embedding", n_cells=3, kmeans_iters=1)
    assert spark.table(tbl).count() == 6, "stale marker skipped the batch"

    # Scenario 2: drop target AND centroids (full re-index) but not the
    # commits table — the bootstrap path must also clear markers.
    ivf_ingest(spark, tbl, first, "vec_id", "embedding", n_cells=3, kmeans_iters=1)
    spark.sql(f"DROP TABLE {tbl}")
    spark.sql(f"DROP TABLE {tbl}__ivf_centroids")
    ivf_ingest(spark, tbl, first, "vec_id", "embedding", n_cells=3, kmeans_iters=1)
    assert spark.table(tbl).count() == 6

    # And the steady state still fast-paths: a replay of a committed
    # batch inserts nothing.
    ivf_ingest(spark, tbl, batch, "vec_id", "embedding", n_cells=3, kmeans_iters=1)
    ivf_ingest(spark, tbl, batch, "vec_id", "embedding", n_cells=3, kmeans_iters=1)
    assert spark.table(tbl).count() == 12
    assert spark.table(f"{tbl}__ingest_commits").count() == 1
    for t in (tbl, f"{tbl}__ivf_centroids", f"{tbl}__ingest_commits"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_ivf_insert_configurable_from_sql_model(spark, tmp_path):
    # The strategy must be reachable from the reference user's surface: a
    # models/*.sql file whose config() header declares ivf_insert.
    import uuid

    from dbt_analytics_spark.plans.sql_models import register_sql_model

    name = f"sql_ivf_{uuid.uuid4().hex[:8]}"
    for t in (name, f"{name}__ivf_centroids"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    p = Project(spark, name="ivfsql")
    p.source_table(
        "raw_vecs",
        spark.createDataFrame(_rows(range(30)), ["vec_id", "embedding", "payload"]),
    )
    sql = (
        "{{ config(materialized='incremental', "
        "incremental_strategy='ivf_insert', unique_key='vec_id', "
        "ivf_kwargs={'n_cells': 4, 'kmeans_iters': 1}) }}\n"
        "SELECT * FROM {{ ref('raw_vecs') }}"
    )
    register_sql_model(p, sql, name)
    p.run(select=name)
    assert spark.table(name).count() == 30
    assert spark.catalog.tableExists(f"{name}__ivf_centroids")
    assert "__ivf_cell" in spark.table(name).columns


def test_ivf_index_compaction_preserves_cells_and_pruning(spark, ivf_project):
    # Many small appends -> many files per cell partition; compact_table
    # must shrink the file count WITHOUT disturbing cell membership or
    # the partition layout the probe prunes on.
    from dbt_analytics_spark.plans.compaction import compact_table, table_file_stats

    p, state = ivf_project
    p.run(select="vec_index")
    for lo in range(40, 80, 10):  # four small appends
        state["rows"] = _rows(range(lo, lo + 10))
        _rerun(spark, p, state)
    before = {
        (r["vec_id"], r["__ivf_cell"])
        for r in spark.table("vec_index").collect()
    }
    files_before, _ = table_file_stats(spark, "vec_index")
    report = compact_table(
        spark, "vec_index", target_file_bytes=64 * 1024 * 1024
    )
    assert report["compacted"], report
    files_after, _ = table_file_stats(spark, "vec_index")
    assert files_after < files_before
    after = {
        (r["vec_id"], r["__ivf_cell"])
        for r in spark.table("vec_index").collect()
    }
    assert after == before
    # Partition pruning still applies post-compaction.
    plan = (
        spark.table("vec_index")
        .filter(F.col("__ivf_cell") == 1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "__ivf_cell" in plan


def test_ivf_bootstrap_crash_between_centroids_and_target_heals(
    spark, ivf_project, monkeypatch
):
    # Durability order: centroids commit BEFORE the target. A crash in
    # between must leave a state the retry simply overwrites — training
    # is deterministic, so the healed centroids are identical and the
    # corpus indexes consistently.
    from dbt_analytics_spark.plans import ingest

    p, state = ivf_project
    real = ingest.ivf_ingest
    calls = {"n": 0}

    def boom(spark, target, df, key, vec_col, **kw):
        # let the centroid write happen, then die before the target write
        import numpy as np

        from dbt_analytics_spark.operators import similarity as _sim

        calls["n"] += 1
        vecs = df.filter(F.col(vec_col).isNotNull())
        C, _ = _sim.kmeans_fit(vecs, key, vec_col, n_cells=4, max_iter=2)
        spark.createDataFrame(
            [(i, [float(x) for x in row]) for i, row in enumerate(np.asarray(C))],
            "cell int, centroid array<double>",
        ).write.mode("overwrite").saveAsTable(f"{target}__ivf_centroids")
        raise RuntimeError("injected crash after centroids, before target")

    monkeypatch.setattr(ingest, "ivf_ingest", boom)
    res = {r.node: r for r in p.run(select="vec_index")}
    assert res["vec_index"].status == "error"
    assert spark.catalog.tableExists("vec_index__ivf_centroids")
    assert not spark.catalog.tableExists("vec_index")
    crashed_cents = [
        list(r["centroid"])
        for r in spark.table("vec_index__ivf_centroids").orderBy("cell").collect()
    ]

    # Retry with the real path: target missing -> full initial build;
    # deterministic training rewrites the SAME centroids.
    monkeypatch.setattr(ingest, "ivf_ingest", real)
    p2 = Project(spark, name="ivfp")
    p2.nodes = p.nodes
    res2 = {r.node: r for r in p2.run(select="vec_index")}
    assert res2["vec_index"].status == "success"
    assert spark.table("vec_index").count() == 40
    healed_cents = [
        list(r["centroid"])
        for r in spark.table("vec_index__ivf_centroids").orderBy("cell").collect()
    ]
    assert healed_cents == crashed_cents
    # And every stored cell matches the healed model.
    C = np.asarray(healed_cents)
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-300)
    for r in spark.table("vec_index").limit(5).collect():
        v = np.asarray(list(r["embedding"]))[None, :]
        vn = v / np.maximum(np.linalg.norm(v), 1e-300)
        assert r["__ivf_cell"] == int(cosine_cells(vn, Cn, 1)[0, 0])


def test_ivf_insert_within_batch_duplicate_ids_collapse(spark, ivf_project):
    p, state = ivf_project
    p.run(select="vec_index")
    state["rows"] = _rows([40, 41]) + _rows([41])  # 41 twice in one batch
    _rerun(spark, p, state)
    got = [r["vec_id"] for r in spark.table("vec_index").filter("vec_id >= 40").collect()]
    assert sorted(got) == [40, 41]


def test_stream_ivf_ingest_empty_first_batch_defers_bootstrap(spark, tmp_path):
    import uuid

    from dbt_analytics_spark.plans.ingest import ivf_ingest

    tbl = f"ivfdefer_{uuid.uuid4().hex[:8]}"
    empty = spark.createDataFrame([], "vec_id bigint, embedding array<double>, payload string")
    ivf_ingest(spark, tbl, empty, "vec_id", "embedding", n_cells=4, kmeans_iters=0)
    assert not spark.catalog.tableExists(tbl)  # no degenerate model pinned
    ivf_ingest(
        spark, tbl,
        spark.createDataFrame(_rows(range(10)), ["vec_id", "embedding", "payload"]),
        "vec_id", "embedding", n_cells=4, kmeans_iters=0,
    )
    assert spark.table(tbl).count() == 10
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    spark.sql(f"DROP TABLE IF EXISTS {tbl}__ivf_centroids")


def test_stream_ivf_ingest_all_null_first_batch_is_staged_not_dropped(
    spark, tmp_path
):
    """Pre-bootstrap batches whose rows ALL lack embeddings are data: the
    checkpoint commits the batch either way, so the rows must be staged
    as cell -1 (the batch ivf_insert contract), not silently discarded.
    The first vector-bearing batch then trains and pins the model without
    disturbing the staged rows."""
    import uuid

    from dbt_analytics_spark.streaming import stream_ivf_ingest

    tbl = f"ivfnull_{uuid.uuid4().hex[:8]}"
    src, ckpt = str(tmp_path / "land"), str(tmp_path / "ckpt")
    # vec_id LONG to match the inferred type of the later _rows() write —
    # mixed INT32/INT64 parquet files under one stream schema fail the
    # read on whichever files disagree with the pinned schema.
    schema = "vec_id long, embedding array<double>, payload string"

    spark.createDataFrame(
        [(i, None, f"doc{i}") for i in range(3)], schema
    ).write.mode("overwrite").parquet(src)
    stream_ivf_ingest(spark, src, tbl, ckpt, n_cells=4, kmeans_iters=1)
    assert spark.table(tbl).count() == 3
    assert (
        spark.table(tbl).filter(F.col("__ivf_cell") != -1).count() == 0
    )
    # No degenerate model pinned by an all-NULL batch.
    assert not spark.catalog.tableExists(f"{tbl}__ivf_centroids")

    # Re-drain with no new files: checkpoint no-op, staged rows intact.
    stream_ivf_ingest(spark, src, tbl, ckpt, n_cells=4, kmeans_iters=1)
    assert spark.table(tbl).count() == 3

    # First vector-bearing batch trains the model; staged rows stay -1.
    spark.createDataFrame(
        _rows(range(3, 23)), ["vec_id", "embedding", "payload"]
    ).write.mode("append").parquet(src)
    stream_ivf_ingest(spark, src, tbl, ckpt, n_cells=4, kmeans_iters=1)
    got = spark.table(tbl)
    assert got.count() == 23
    assert spark.catalog.tableExists(f"{tbl}__ivf_centroids")
    assert got.filter(F.col("__ivf_cell") == -1).count() == 3
    assert got.filter(F.col("__ivf_cell") >= 0).count() == 20
    for t in (tbl, f"{tbl}__ivf_centroids", f"{tbl}__ingest_commits"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_ivf_insert_replay_marker_fast_path_and_fallback(spark, ivf_project):
    """Committed batches record a content fingerprint in __ingest_commits;
    a replayed batch fast-paths on the marker BEFORE the corpus-id
    anti-join. The marker is an optimization only: with it deleted
    (crash between append and marker commit), the replay falls back to
    the guarded anti-join, inserts nothing, and re-writes the marker.
    A fresh batch must never match an old marker."""
    p, state = ivf_project
    p.run(select="vec_index")  # bootstrap (40 rows)
    state["rows"] = _rows(range(40, 50))
    _rerun(spark, p, state)
    assert spark.catalog.tableExists("vec_index__ingest_commits")
    markers = spark.table("vec_index__ingest_commits").collect()
    assert len(markers) == 1 and markers[0]["n"] == 10

    # Replay (marker hit): no dupes, no second marker row.
    _rerun(spark, p, state)
    assert spark.table("vec_index").count() == 50
    assert spark.table("vec_index__ingest_commits").count() == 1

    # Crash window: append committed, marker lost. Replay takes the
    # guarded path — still no dupes — and restores the marker.
    spark.sql("DROP TABLE vec_index__ingest_commits")
    _rerun(spark, p, state)
    assert spark.table("vec_index").count() == 50
    assert spark.table("vec_index__ingest_commits").count() == 1

    # A genuinely new batch misses the marker and appends.
    state["rows"] = _rows(range(50, 55))
    _rerun(spark, p, state)
    assert spark.table("vec_index").count() == 55
    assert spark.table("vec_index__ingest_commits").count() == 2

    # Full refresh drops the markers with the corpus (a stale marker
    # could fast-path-skip a matching future batch).
    state["rows"] = _rows(range(10))
    p2 = Project(spark, name="ivfp", full_refresh=True)
    p2.nodes = p.nodes
    p2.run(select="vec_index")
    assert not spark.catalog.tableExists("vec_index__ingest_commits")
