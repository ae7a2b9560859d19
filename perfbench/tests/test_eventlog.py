"""Event-log parser and the per-span table built from it."""

import os

import pytest

from perfbench import eventlog, layers

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog.jsonl")


@pytest.fixture()
def log():
    with open(FIXTURE) as f:
        return eventlog.parse(f)


def test_jobs_tags_and_stage_owner(log):
    assert sorted(log.jobs) == [0, 1, 2]
    assert log.jobs[0].tags == {"pbspan0", "pbspan1", "spark-session-x"}
    assert log.jobs[2].tags == frozenset()
    # stage 0 is listed by jobs 0 and 1 but ran (has tasks) in job 0 only
    assert log.stage_job == {0: 0, 1: 1, 2: 2}
    assert log.stages[0].tasks == 2
    assert log.stages[2].tasks == 1  # a task with null metrics still counts


def test_work_by_tag_counts_each_stage_once(log):
    outer = log.work_by_tag("pbspan0")
    assert outer["jobs"] == 2
    assert outer["tasks"] == 3
    assert outer["executor_cpu_s"] == pytest.approx(1.6)  # 1.0 + 0.25 + 0.25 + 0.1
    assert outer["shuffle_bytes"] == 150
    assert outer["intervals"] == [(1000.0, 1001.5), (1002.0, 1003.0)]
    inner = log.work_by_tag("pbspan1")
    assert (inner["jobs"], inner["tasks"]) == (1, 2)
    assert log.work_by_tag("nope")["jobs"] == 0


def test_work_between_window(log):
    w = log.work_between(999.0, 1005.0)  # jobs 0 and 1, not job 2
    assert w.tasks == 3
    assert w.gc_ms == 50
    assert w.spill == 96
    assert log.work_between(1008.0, 1010.0).tasks == 1


def test_span_table_driver_time_and_per_op(log):
    spans = [
        {"id": 0, "name": "cli.etl", "parent": None, "tag": "pbspan0",
         "start": 999.0, "end": 1004.0},
        {"id": 1, "name": "etl.run", "parent": 0, "tag": "pbspan1",
         "start": 999.5, "end": 1002.0},
    ]
    table = layers.span_table(spans, log, ops=2)
    # cli.etl: wall 5 s, jobs cover [1000, 1001.5] and [1002, 1003]
    assert table["cli.etl.wall_s"] == pytest.approx(2.5)
    assert table["cli.etl.driver_s"] == pytest.approx((5.0 - 2.5) / 2)
    assert table["cli.etl.self_s"] == pytest.approx((5.0 - 2.5) / 2)
    assert table["cli.etl.jobs"] == pytest.approx(1.0)
    assert table["cli.etl.tasks"] == pytest.approx(1.5)
    # etl.run: wall 2.5 s, its one job covers 1.5 s
    assert table["etl.run.driver_s"] == pytest.approx(0.5)
    assert table["etl.run.executor_cpu_s"] == pytest.approx(0.75)
    # spans the run never opened are present and zero
    assert table["cli.query.wall_s"] == 0.0
    assert layers.uncovered(spans, 998.0, 1005.0) == pytest.approx(2.0)
