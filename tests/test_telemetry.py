"""The query runner (``telemetry.run_query``): Spark jobs counted per
phase, and the caller's job group left as it was."""

from __future__ import annotations

from types import SimpleNamespace

import pytest

from ngram_analytics_spark import queries, telemetry
from tests.conftest import SF_SMOKE


def test_scan_key_fires_no_construction_job(spark):
    # the first load of a table infers its schema, in a job, and the
    # first spread load writes the table's cores-wide copy
    for key in ("q_filter_pred", "q_ngram_topk"):
        telemetry.run_query(spark, key, SF_SMOKE)
        rec = telemetry.run_query(spark, key, SF_SMOKE)
        assert rec["construct_jobs"] == 0, key
        assert rec["construct_jobs_s"] == 0, key
        assert rec["stages"]["construct"] == [], key
        assert rec["exec_jobs"] >= 1, key
        assert sum(s["tasks"] for s in rec["stages"]["exec"]) >= 1, key
        assert rec["streams"] == [], key


def test_checkpointing_key_fires_construction_jobs(spark):
    """q_sample_coreset checkpoints each greedy round eagerly while it
    is built; the census counts 21 construction jobs at sf0.01."""
    rec = telemetry.run_query(spark, "q_sample_coreset", SF_SMOKE)
    assert rec["construct_jobs"] > 0
    assert sum(s["tasks"] for s in rec["stages"]["construct"]) > 0
    assert 0 < rec["construct_jobs_s"] <= rec["construct_s"]


def _raises_in_construct(spark, sf_dir):
    raise ValueError("boom")


def _raises_in_exec(spark, sf_dir):
    return spark.range(1).selectExpr("raise_error('boom') AS x")


@pytest.mark.parametrize("build", [_raises_in_construct, _raises_in_exec])
@pytest.mark.parametrize("caller", ["caller-group", None])
def test_caller_job_group_restored_after_a_query_raises(
    spark, monkeypatch, build, caller
):
    monkeypatch.setattr(
        queries, "build_registry",
        lambda: SimpleNamespace(queries={"q_raises": build}),
    )
    sc = spark.sparkContext
    if caller:
        sc.setJobGroup(caller, "caller's description")
    try:
        with pytest.raises(Exception, match="boom"):
            telemetry.run_query(spark, "q_raises", SF_SMOKE)
        assert sc.getLocalProperty("spark.jobGroup.id") == caller
        assert sc.getLocalProperty("spark.job.description") == (
            caller and "caller's description"
        )
    finally:
        sc._jsc.clearJobGroup()
