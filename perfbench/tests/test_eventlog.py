"""The event-log reader against a tiny recorded log (make_tiny_eventlog.py)."""

import json
import os

import pytest

from perfbench import eventlog

LOG = os.path.join(os.path.dirname(__file__), "data", "tiny_eventlog.jsonl")
AGG, COUNT, FAIL = "perfbench:0.agg", "perfbench:1.count", "perfbench:2.fail"


@pytest.fixture(scope="module")
def by_desc():
    with open(LOG) as fh:
        return eventlog.counters_by_desc(eventlog.parse_lines(fh))


def _raw_tasks():
    with open(LOG) as fh:
        events = [json.loads(line) for line in fh]
    return [e for e in events if e["Event"] == "SparkListenerTaskEnd"]


def test_every_job_lands_under_its_span(by_desc):
    assert set(by_desc) == {AGG, COUNT, FAIL}
    assert by_desc[AGG].jobs == 2
    assert by_desc[COUNT].jobs == 2
    assert by_desc[FAIL].jobs == 1


def test_aggregation_shuffle_counters(by_desc):
    agg = by_desc[AGG]
    # 2 map tasks each pre-aggregate 500 ids into 10 groups
    assert agg.shuffle_write_records == 20
    assert agg.shuffle_read_bytes == agg.shuffle_write_bytes > 0
    assert agg.failed_tasks == 0


def test_failed_tasks_are_counted(by_desc):
    assert by_desc[FAIL].failed_tasks >= 1


def test_totals_match_the_raw_task_events(by_desc):
    tasks = _raw_tasks()
    assert sum(c.tasks for c in by_desc.values()) == len(tasks)
    cpu = sum(t["Task Metrics"]["Executor CPU Time"] for t in tasks)
    assert sum(c.cpu_ns for c in by_desc.values()) == cpu
    stages = {t["Stage ID"] for t in tasks}
    assert sum(c.stages for c in by_desc.values()) == len(stages)


def test_rollup_and_metrics(by_desc):
    both = eventlog.rollup(by_desc, [AGG, COUNT, "perfbench:missing"])
    assert both.jobs == 4
    assert both.tasks == by_desc[AGG].tasks + by_desc[COUNT].tasks
    m = both.metrics(wall_s=2.0, cores=4)
    assert m["spark.jobs"] == 4
    assert m["spark.shuffle_write_mb"] == pytest.approx(both.shuffle_write_bytes / 1e6)
    assert m["spark.cpu_util"] == pytest.approx(both.cpu_ns / 1e9 / 8.0)
    assert m["spark.task_skew"] >= 1.0


def test_unwanted_events_are_skipped_without_parsing():
    lines = ['{"Event":"SparkListenerEnvironmentUpdate", not json', ""]
    log = eventlog.parse_lines(lines)
    assert not log.tasks and not log.job_desc


def test_stage_without_properties_takes_its_first_job():
    lines = [
        '{"Event":"SparkListenerJobStart","Job ID":0,"Stage IDs":[0,1],'
        '"Properties":{"spark.job.description":"perfbench:0.a"}}',
        '{"Event":"SparkListenerJobStart","Job ID":1,"Stage IDs":[1,2],'
        '"Properties":{"spark.job.description":"perfbench:1.b"}}',
        '{"Event":"SparkListenerTaskEnd","Stage ID":1,"Task Info":{"Failed":false},'
        '"Task Metrics":{"Executor Run Time":5}}',
        '{"Event":"SparkListenerTaskEnd","Stage ID":2,"Task Info":{"Failed":false},'
        '"Task Metrics":{"Executor Run Time":7}}',
    ]
    by = eventlog.counters_by_desc(eventlog.parse_lines(lines))
    assert by["perfbench:0.a"].run_ms == 5
    assert by["perfbench:1.b"].run_ms == 7
