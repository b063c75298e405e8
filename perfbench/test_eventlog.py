"""Tests of the event-log reader on a trimmed real log.

``testdata/eventlog_excerpt.jsonl`` is the event log of one Spark 4.1.2
application that ran two ops, each under its own job group, and then two
jobs outside every op:

- ``p0o0`` built and wrote ``agg_forecast_revenue``: jobs 0-2;
- ``p0o1`` drained ``stream_tumbling``: job 3 came from the stream's own
  thread and carries the stream's run id as its job group, jobs 4-5 carry
  the op's group;
- jobs 6-7 ran under the group ``perfbench-outside-ops``.

Run with:  python3 -m pytest perfbench/test_eventlog.py
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import eventlog  # noqa: E402

EXCERPT = os.path.join(HERE, "testdata", "eventlog_excerpt.jsonl")
SPANS = [
    {"id": "p0o0", "start_ms": 1792206676113.8032, "end_ms": 1792206682508.2734},
    {"id": "p0o1", "start_ms": 1792206682511.4258, "end_ms": 1792206687224.6648},
]


def test_excerpt_parses_jobs_stages_and_tasks():
    app = eventlog.load(EXCERPT)
    assert sorted(app.jobs) == list(range(8))
    assert app.jobs[3].group not in ("p0o0", "p0o1")  # the stream's run id
    assert sum(m["tasks"] for m in app.stage_metrics.values()) == 19


def test_stream_jobs_with_a_foreign_group_are_attributed_by_time():
    work = eventlog.attribute(eventlog.load(EXCERPT), SPANS)
    assert (work["p0o0"].jobs, work["p0o0"].stages, work["p0o0"].tasks) == (3, 3, 3)
    # job 3 (foreign group, stages 4-5) plus jobs 4-5 (stages 6, 7)
    assert (work["p0o1"].jobs, work["p0o1"].stages, work["p0o1"].tasks) == (3, 4, 13)
    assert work["p0o1"].shuffle_write_bytes > 0
    assert work["p0o1"].task_skew > 1.0


def test_work_outside_every_op_is_dropped():
    app = eventlog.load(EXCERPT)
    work = eventlog.attribute(app, SPANS)
    assert sum(w.jobs for w in work.values()) == 6
    assert sum(w.tasks for w in work.values()) < 19


def test_gap_and_busy_time_split_each_op():
    work = eventlog.attribute(eventlog.load(EXCERPT), SPANS)
    for span in SPANS:
        w = work[span["id"]]
        assert w.stage_busy_s > 0 and w.sched_gap_s > 0
        wall = (span["end_ms"] - span["start_ms"]) / 1e3
        assert abs(w.stage_busy_s + w.sched_gap_s - wall) < 1e-6


def test_job_group_wins_over_submission_time():
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 150,
         "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "a"}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 0, "Submission Time": 150, "Completion Time": 160}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 500,
         "Stage IDs": [1], "Properties": {"spark.jobGroup.id": "elsewhere"}},
    ]
    spans = [{"id": "a", "start_ms": 0, "end_ms": 100}, {"id": "b", "start_ms": 100, "end_ms": 200}]
    work = eventlog.attribute(eventlog.parse(events), spans)
    assert (work["a"].jobs, work["b"].jobs) == (1, 0)
    assert work["a"].stages == 1
    # the stage ran outside span a, so a's whole interval is gap
    assert work["a"].stage_busy_s == 0 and work["a"].sched_gap_s == 0.1


def test_union_merges_overlapping_intervals():
    assert eventlog._union_ms([(0, 10), (5, 20), (30, 40)]) == 30
    assert eventlog._union_ms([]) == 0
