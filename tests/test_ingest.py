"""One ingest core per strategy (plans/ingest.py): the batch
materialization and the streaming ingest run the same code, so the same
batches give the same table — and the batch path appends in place."""

from __future__ import annotations

import uuid

import pytest

from dbt_analytics_spark.plans import Project
from dbt_analytics_spark.plans.fingerprint import data_listing
from dbt_analytics_spark.plans.materialize import materialize
from dbt_analytics_spark.streaming import stream_dedup_ingest, stream_ivf_ingest

BASE = "the quick brown fox jumps over the lazy dog again and again today " * 4
OTHER = "tokenizer corpora need unique vocabulary spread wide apart today " * 4
SKY = "astronomy telescopes galaxies spectra and deep sky surveys tonight " * 4
SEA = "oceanography currents salinity thermoclines and deep trenches now " * 4

DOC_BATCHES = [
    [(1, BASE), (2, OTHER), (3, BASE)],  # 3 repeats 1's text exactly
    [(10, BASE), (11, OTHER.replace("wide", "far")), (12, SKY)],
    [(20, SKY.replace("deep", "wide")), (21, SEA), (22, SEA)],
]
DOC_SCHEMA = "doc_id long, text string"


def _vec(i: int, dim: int = 6) -> list[float] | None:
    if i % 7 == 5:
        return None  # NULL embeddings stage in cell -1
    return [float((i * 2654435761 + d * 40503) % 997) / 997.0 - 0.5 for d in range(dim)]


VEC_BATCHES = [
    [(i, _vec(i), f"p{i}") for i in ids]
    for ids in ([*range(0, 24), 3], range(24, 36), range(36, 44))  # 3 twice
]
VEC_SCHEMA = "vec_id long, embedding array<double>, payload string"


def _run_batches(spark, name, batches, schema, **config):
    """Feed each batch to an incremental model ``name`` in its own run."""
    state = {}
    p = Project(spark, name=f"p_{name}")

    @p.model(materialized="incremental", name=name, **config)
    def _model(ctx):
        return ctx.spark.createDataFrame(state["rows"], schema)

    for rows in batches:
        state["rows"] = rows
        pn = Project(spark, name=f"p_{name}")
        pn.nodes = p.nodes
        res = {r.node: r for r in pn.run(select=name)}
        assert res[name].status == "success", res[name].message


def _stream_batches(spark, tmp_path, batches, schema, drain):
    """Land each batch as new files and drain the stream once per batch."""
    src = str(tmp_path / "land")
    for rows in batches:
        spark.createDataFrame(rows, schema).write.mode("append").parquet(src)
        drain(src, str(tmp_path / "ckpt"))


def _rows(spark, table, *cols):
    spark.catalog.refreshTable(table)
    return sorted(tuple(r) for r in spark.table(table).select(*cols).collect())


def test_dedup_insert_and_stream_dedup_ingest_agree(spark, tmp_path):
    batch_t = f"ddpar_b_{uuid.uuid4().hex[:8]}"
    stream_t = f"ddpar_s_{uuid.uuid4().hex[:8]}"
    _run_batches(
        spark,
        batch_t,
        DOC_BATCHES,
        DOC_SCHEMA,
        incremental_strategy="dedup_insert",
        unique_key="doc_id",
        dedup_kwargs={"threshold": 0.4},
    )
    _stream_batches(
        spark,
        tmp_path,
        DOC_BATCHES,
        DOC_SCHEMA,
        lambda src, ckpt: stream_dedup_ingest(
            spark, src, stream_t, ckpt, threshold=0.4
        ),
    )
    rows = _rows(spark, batch_t, "doc_id", "text")
    assert [r[0] for r in rows] == [1, 2, 12, 21]
    assert _rows(spark, stream_t, "doc_id", "text") == rows
    for t in (batch_t, stream_t):
        bands = spark.table(f"{t}__lsh_bands").select("doc").distinct()
        assert sorted(r[0] for r in bands.collect()) == [1, 2, 12, 21]
        assert spark.table(f"{t}__dedup_fps").count() == 4


def test_ivf_insert_and_stream_ivf_ingest_agree(spark, tmp_path):
    batch_t = f"ivfpar_b_{uuid.uuid4().hex[:8]}"
    stream_t = f"ivfpar_s_{uuid.uuid4().hex[:8]}"
    _run_batches(
        spark,
        batch_t,
        VEC_BATCHES,
        VEC_SCHEMA,
        incremental_strategy="ivf_insert",
        unique_key="vec_id",
        ivf_kwargs={"n_cells": 4, "kmeans_iters": 1},
    )
    _stream_batches(
        spark,
        tmp_path,
        VEC_BATCHES,
        VEC_SCHEMA,
        lambda src, ckpt: stream_ivf_ingest(
            spark, src, stream_t, ckpt, n_cells=4, kmeans_iters=1
        ),
    )
    cols = ("vec_id", "payload", "__ivf_cell")
    rows = _rows(spark, batch_t, *cols)
    assert [r[0] for r in rows] == list(range(44))
    assert {r[2] for r in rows if r[0] % 7 == 5} == {-1}
    assert _rows(spark, stream_t, *cols) == rows


def _dedup_project(spark, name, state, **config):
    p = Project(spark, name=f"p_{name}")

    @p.model(
        materialized="incremental",
        incremental_strategy="dedup_insert",
        unique_key="doc_id",
        dedup_kwargs={"threshold": 0.4},
        name=name,
        **config,
    )
    def _model(ctx):
        return state["df"]

    res = {r.node: r for r in p.run(select=name)}[name]
    assert res.status == "success", res.message
    return p


def test_dedup_insert_appends_without_rewriting(spark):
    name = f"ddapp_{uuid.uuid4().hex[:8]}"
    state = {"df": spark.createDataFrame(DOC_BATCHES[0], DOC_SCHEMA)}
    p = _dedup_project(spark, name, state)
    before = data_listing(spark.table(name))
    state["df"] = spark.createDataFrame(DOC_BATCHES[1], DOC_SCHEMA)
    p2 = Project(spark, name=p.name)
    p2.nodes = p.nodes
    assert p2.run(select=name)[0].status == "success"
    spark.catalog.refreshTable(name)
    after = data_listing(spark.table(name))
    assert set(before) < set(after)  # every old file unchanged, new ones added
    assert not spark.catalog.tableExists(f"{name}__dbt_tmp")


@pytest.mark.parametrize("policy", ["append_new_columns", "sync_all_columns"])
def test_dedup_insert_widening_policy_needs_full_refresh(spark, policy):
    name = f"ddwide_{uuid.uuid4().hex[:8]}"
    state = {"df": spark.createDataFrame(DOC_BATCHES[0], DOC_SCHEMA)}
    p = _dedup_project(spark, name, state, on_schema_change=policy)
    wider = spark.createDataFrame([(12, SKY, "en")], DOC_SCHEMA + ", lang string")
    with pytest.raises(ValueError, match="full refresh"):
        materialize(p, p.nodes[name], wider)
    assert spark.table(name).count() == 2
