"""Span bookkeeping and the event-log fold on a hand-written log."""

import json

import pytest

from tracing import EventLog, Tracer, union_length


def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 4), (1, 2)]) == 4
    assert union_length([]) == 0


def test_spans_nest_and_share_the_op_id():
    tr = Tracer(True)
    with tr.op("q-1"):
        with tr.span("outer") as outer:
            with tr.span("inner") as inner:
                pass
        tr.record("read", 1.0, 2.0, outer)
    assert inner["parent"] == outer["id"]
    kids = tr.children()[outer["id"]]
    assert sorted(k["name"] for k in kids) == ["inner", "read"]
    assert {s["op"] for s in tr.spans} == {"q-1"}
    with Tracer(False).span("x") as off:
        assert off is None


def test_fold_clips_jobs_to_the_span(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],
         "Submission Time": 1000, "Properties": {"spark.jobGroup.id": "span-7"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor CPU Time": 2_000_000_000, "Executor Run Time": 1500,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 3_000_000},
            "Disk Bytes Spilled": 0}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 0, "Submission Time": 1000, "Completion Time": 2500}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2600},
        # a job of another span is not counted
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [],
         "Submission Time": 1100, "Properties": {"spark.jobGroup.id": "span-8"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1200},
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events))
    log = EventLog(str(tmp_path))
    f = log.fold({"id": 7, "start": 1.2, "end": 2.2})
    assert f["jobs"] == 1
    assert f["in_job_s"] == pytest.approx(1.0)  # 1.0-2.6 clipped to 1.2-2.2
    assert f["outside_job_s"] == pytest.approx(0.0)
    assert f["task_cpu_s"] == pytest.approx(2.0)
    assert f["max_task_s"] == pytest.approx(1.5)
    assert f["largest_stage_s"] == pytest.approx(1.5)
    assert f["shuffle_write_mb"] == pytest.approx(3.0)
