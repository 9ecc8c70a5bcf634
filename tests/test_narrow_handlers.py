"""The registry and docs-site fallbacks catch only the errors they expect:
a missing relation, a table without DESCRIBE DETAIL, a catalog that needs
a live session. Any other error is a defect and must propagate instead of
turning into a silent False / empty stats / missing catalog.json."""

from __future__ import annotations

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession
from pyspark.sql.catalog import Catalog

from dbt_analytics_spark.plans import Project
from dbt_analytics_spark.plans.docs_site import write_docs_site


def _raise_key_error(*_a, **_kw):
    raise KeyError("defect")


@pytest.fixture()
def tiny(spark):
    p = Project(spark, name="narrow")

    @p.model(name="narrow_t")
    def narrow_t(ctx):
        return ctx.spark.createDataFrame([(1, "a")], ["id", "v"])

    p.run()
    return p


def test_temp_view_probe_only_swallows_missing_relation(tiny, monkeypatch):
    assert tiny._temp_view_exists("no_such_view_anywhere") is False
    monkeypatch.setattr(Catalog, "getTable", _raise_key_error)
    with pytest.raises(KeyError):
        tiny._temp_view_exists("narrow_t")


def test_write_catalog_only_swallows_analysis_errors(tiny, tmp_path, monkeypatch):
    tiny.write_catalog(str(tmp_path / "ok.json"))  # no DESCRIBE DETAIL: no stats
    real_sql = SparkSession.sql

    def sql(self, query, *a, **kw):
        if query.startswith("DESCRIBE DETAIL"):
            raise KeyError("defect")
        return real_sql(self, query, *a, **kw)

    monkeypatch.setattr(SparkSession, "sql", sql)
    with pytest.raises(KeyError):
        tiny.write_catalog(str(tmp_path / "catalog.json"))


def test_docs_site_only_swallows_session_errors(tiny, tmp_path, monkeypatch):
    def dead(_path):
        raise AnalysisException("no live session")

    monkeypatch.setattr(tiny, "write_catalog", dead)
    write_docs_site(tiny, str(tmp_path / "a"))  # expected error: page still written
    assert (tmp_path / "a" / "index.html").exists()
    monkeypatch.setattr(tiny, "write_catalog", _raise_key_error)
    with pytest.raises(KeyError):
        write_docs_site(tiny, str(tmp_path / "b"))
