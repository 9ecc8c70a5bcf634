"""The query profiler's schema on a real query, and its metric parsing."""

from __future__ import annotations

import pytest

from dbt_analytics_spark.profile import _metric_total, profile

KEYS = {
    "build_s", "action_s", "plan_s", "job_s", "unattributed_s", "catalyst",
    "build_jobs", "jobs", "stages", "tasks", "task_s", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "operators",
}


@pytest.mark.parametrize(
    "text, value",
    [
        ("6,001,215", 6001215),
        ("0.0 B", 0),
        ("64.0 MiB", 64 * 2**20),
        ("502 ms", 0.502),
        ("total (min, med, max (stageId: taskId))\n1.5 s (0 ms, 1 ms, "
         "1.2 s (stage 3.0: task 17))", 1.5),
    ],
)
def test_metric_total_reads_spark_formats(text, value):
    assert _metric_total(text) == pytest.approx(value)


def test_profile_schema_on_q1(spark, sf_dir):
    from dbt_analytics_spark.queries import REGISTRY
    from dbt_analytics_spark.sources.readers import load_testdata

    builder = REGISTRY["q1_pricing_summary"][0]
    out = profile(spark, lambda: builder(spark, sf_dir))

    assert set(out) == KEYS
    assert set(out["catalyst"]) == {"analysis_s", "optimization_s", "planning_s"}
    assert out["operators"]
    for op in out["operators"]:
        assert set(op) == {"name", "rows", "time_s", "peak_memory_bytes"}
    n_lineitem = load_testdata(spark, sf_dir)["lineitem"].count()
    scans = [op for op in out["operators"] if op["name"].startswith("Scan parquet")]
    assert [op["rows"] for op in scans] == [n_lineitem]
    assert out["jobs"] >= 1
    assert out["tasks"] >= out["stages"] >= 1
    assert out["unattributed_s"] >= 0
    assert out["plan_s"] + out["job_s"] + out["unattributed_s"] == pytest.approx(
        out["action_s"], abs=1e-3
    )
