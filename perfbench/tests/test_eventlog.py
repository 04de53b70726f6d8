"""The event-log reader and job attribution, on a tiny canned log."""

import os

import pytest

from perfbench import eventlog, harness

LOG = os.path.join(os.path.dirname(__file__), "data", "tiny_eventlog.json")


@pytest.fixture(scope="module")
def log():
    return eventlog.read(LOG)


def test_jobs_carry_their_description(log):
    jobs, _ = log
    assert sorted(jobs) == [0, 1, 2]
    assert jobs[0].description == "run0|collect|_survivors@curation.py:104"
    assert jobs[2].description == ""


def test_shared_stage_belongs_to_first_job(log):
    jobs, stages = log
    assert jobs[0].stage_ids == [0, 1]
    assert jobs[1].stage_ids == [2]     # stage 1 was reused, not re-run
    assert stages[0].run_ms == [100, 300]


def test_task_without_metrics_is_skipped(log):
    _, stages = log
    assert stages[2].run_ms == [50]


def test_summarize_totals(log):
    jobs, stages = log
    s = eventlog.summarize(jobs, stages, harness.tagged("run0"))
    assert s["jobs"] == 2 and s["tasks"] == 4
    assert s["executor_run_s"] == pytest.approx(0.65)
    assert s["gc_s"] == pytest.approx(0.005)
    assert s["shuffle_bytes"] == 1000
    assert s["spill_bytes"] == 96
    # max 300 ms over the median of (50, 100, 200, 300) = 150 ms
    assert s["task_skew"] == pytest.approx(2.0)


def test_summarize_empty_selection(log):
    jobs, stages = log
    s = eventlog.summarize(jobs, stages, lambda d: False)
    assert s["jobs"] == 0 and s["task_skew"] == 0.0


def test_tagged_selects_by_phase_action_caller_and_location():
    d = "run3|collect|lr_train@dataset_queries.py:9"
    assert harness.tagged("run")(d)
    assert not harness.tagged("backfill")(d)
    assert harness.tagged("run", actions={"collect"}, callers={"lr_train"})(d)
    assert not harness.tagged("run", actions={"parquet"})(d)
    assert not harness.tagged("run", callers={"_survivors"})(d)
    assert harness.tagged("run", where="@dataset_queries.py:")(d)
    assert not harness.tagged("run", where="@curation.py:")(d)
    assert not harness.tagged("")("untagged description")


def test_summarize_attributes_jobs_by_caller(log):
    jobs, stages = log
    s = eventlog.summarize(jobs, stages, harness.tagged(
        "run", actions={"collect"}, callers={"_survivors"}))
    assert s["jobs"] == 1 and s["tasks"] == 3
