"""Tests of the event-log reader against testdata/eventlog_small.jsonl.

    python3 -m pytest perfbench/test_eventlog.py

The log holds three jobs: job 0 in job group w/1/a/build (stages 0 and
1), job 1 in w/1/a/exec (lists stage 1 again, which it skips, and runs
stage 2, where one of its two tasks fails), and job 2 with no job group,
submitted while the exec span was open (stage 3).
"""

from __future__ import annotations

import os

import pytest

import eventlog
from spans import Span

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata", "eventlog_small.jsonl")


def _spans() -> list[Span]:
    op = Span(0, None, "w", 1, "a", "op", 1000.5, 1005.0)
    build = Span(1, 0, "w", 1, "a", "build", 1000.8, 1002.5)
    execute = Span(2, 0, "w", 1, "a", "exec", 1002.8, 1004.5)
    return [op, build, execute]


def test_load_reads_jobs_stages_and_tasks():
    jobs = eventlog.load(LOG)
    assert [j.id for j in jobs] == [0, 1, 2]
    assert [j.group for j in jobs] == ["w/1/a/build", "w/1/a/exec", None]
    # stage 1 belongs to job 0, which ran it; job 1 only lists it
    assert [[s.id for s in j.stages] for j in jobs] == [[0, 1], [2], [3]]
    assert [len(s.tasks) for j in jobs for s in j.stages] == [2, 1, 2, 1]
    assert (jobs[0].submit, jobs[0].end) == (1001.0, 1002.0)


def test_rolling_directory_reads_files_in_index_order(tmp_path):
    lines = open(LOG).read().splitlines(keepends=True)
    d = tmp_path / "eventlog_v2_local-test"
    d.mkdir()
    # events_10 must sort after events_2: numeric, not lexical, order
    (d / "events_1_local-test").write_text("".join(lines[:8]))
    (d / "events_2_local-test").write_text("".join(lines[8:15]))
    (d / "events_10_local-test").write_text("".join(lines[15:]))
    (d / "appstatus_local-test").write_text("")
    assert eventlog.load(str(d)) == eventlog.load(LOG)


def test_attribute_by_group_then_by_open_span():
    jobs = eventlog.load(LOG)
    spans = _spans()
    got = {sid: [j.id for j in js] for sid, js in eventlog.attribute(jobs, spans).items()}
    # job 2 has no group: it goes to the innermost span open at 1004.2
    assert got == {1: [0], 2: [1, 2]}
    # a job submitted outside every span is left out
    assert eventlog.attribute(jobs, spans[1:2]) == {1: [jobs[0]]}


def test_spark_metrics():
    jobs = eventlog.load(LOG)
    m = eventlog.spark_metrics(jobs, [(1000.5, 1005.0)], slots=4)
    assert m["spark.jobs"] == 3
    assert m["spark.stages"] == 4
    assert m["spark.tasks"] == 6
    assert m["spark.failed_tasks"] == 1
    assert m["spark.task_run_s"] == pytest.approx(1.4)
    assert m["spark.task_cpu_s"] == pytest.approx(0.9)
    assert m["spark.task_gc_s"] == pytest.approx(0.035)
    assert m["spark.task_deser_s"] == pytest.approx(0.16)
    # launch minus stage submission: 0.1 + 0.3 + 0 + 0.2 + 0.2 + 0
    assert m["spark.task_wait_s"] == pytest.approx(0.8)
    assert m["spark.shuffle_write_bytes"] == 1500
    assert m["spark.shuffle_read_bytes"] == 1500
    assert m["spark.spill_bytes"] == 4096
    assert m["spark.input_bytes"] == 8000
    # jobs ran 1.0 + 0.5 + 0.2 s of the 4.5 s window
    assert m["spark.driver_only_s"] == pytest.approx(2.8)
    # 1.9 task-seconds over 1.7 s of job time on 4 slots
    assert m["spark.slot_busy_share"] == pytest.approx(1.9 / (1.7 * 4))


def test_spark_metrics_clips_jobs_to_windows():
    jobs = eventlog.load(LOG)
    m = eventlog.spark_metrics(jobs[:1], [(1001.5, 1003.0)], slots=4)
    # job 0 ran 1001.0-1002.0; only its last 0.5 s is inside the window
    assert m["spark.driver_only_s"] == pytest.approx(1.0)


def test_empty_window_has_no_busy_share():
    assert eventlog.spark_metrics([], [(0.0, 1.0)], slots=4)["spark.slot_busy_share"] == 0.0
