"""Span bookkeeping and event-log attribution on a synthetic log."""

import json

import pytest

from perfbench.trace import (
    Span,
    Tracer,
    attribute,
    innermost,
    parse_event_log,
    self_ms,
    spark_layer_metrics,
    union_ms,
)


def _job(jid, start, end, stages):
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": start,
         "Stage IDs": stages},
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": end},
    ]


def _stage(sid, submit, complete):
    info = {"Stage ID": sid, "Submission Time": submit}
    return [
        {"Event": "SparkListenerStageSubmitted", "Stage Info": info},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {**info, "Completion Time": complete}},
    ]


def _task(sid, launch, finish, run, cpu_ns, py_run=0):
    acc = [{"Name": "time to run Python workers", "Update": str(py_run), "Value": "999"}]
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": sid,
        "Task Info": {"Launch Time": launch, "Finish Time": finish, "Accumulables": acc},
        "Task Metrics": {
            "Executor Run Time": run,
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": 1,
            "Memory Bytes Spilled": 0,
            "Disk Bytes Spilled": 0,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 10,
                                     "Fetch Wait Time": 0},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 20},
            "Input Metrics": {"Bytes Read": 100},
            "Output Metrics": {"Bytes Written": 0},
        },
    }


@pytest.fixture
def log_lines():
    events = [
        # job 0 inside op A's child span, job 1 inside op A itself,
        # job 2 inside op B, job 3 outside every span
        *_job(0, 110, 150, [0, 1]), *_stage(0, 111, 130), *_stage(1, 131, 150),
        _task(0, 112, 129, 17, 10_000_000), _task(1, 135, 149, 14, 5_000_000, py_run=7),
        *_job(1, 160, 180, [2]), *_stage(2, 161, 180), _task(2, 162, 179, 17, 2_000_000),
        *_job(2, 310, 330, [3, 4]), *_stage(3, 311, 330),  # stage 4 skipped
        _task(3, 312, 329, 17, 1_000_000),
        *_job(3, 500, 510, [5]), *_stage(5, 501, 510), _task(5, 502, 509, 7, 0),
    ]
    return [json.dumps(e) for e in events]


@pytest.fixture
def spans():
    return [
        Span(1, None, "op", "A", 100.0, 200.0),
        Span(2, 1, "writers", "sink", 105.0, 155.0),
        Span(3, None, "op", "B", 300.0, 400.0),
    ]


def test_parse_event_log(log_lines):
    jobs, stages, tasks = parse_event_log(log_lines)
    assert sorted(jobs) == [0, 1, 2, 3]
    assert jobs[0].stages == [0, 1] and jobs[0].end_ms == 150
    assert sorted(stages) == [0, 1, 2, 3, 5]  # 4 was skipped, never submitted
    assert len(tasks) == 5
    assert tasks[0].cpu_ms == pytest.approx(10.0)
    assert tasks[1].python == {"python_run_ms": 7.0}  # the task's Update, not Value


def test_innermost_picks_the_deepest_open_span(spans):
    assert innermost(spans, 110).id == 2
    assert innermost(spans, 170).id == 1
    assert innermost(spans, 350).id == 3
    assert innermost(spans, 250) is None


def test_attribution_and_layer_metrics(log_lines, spans):
    att = attribute(spans, *parse_event_log(log_lines))
    assert [j.id for j in att.jobs[2]] == [0]
    assert [j.id for j in att.jobs[1]] == [1]
    assert [j.id for j in att.jobs[3]] == [2]
    assert [j.id for j in att.jobs[None]] == [3]
    assert [t.stage for t in att.tasks[2]] == [0, 1]
    m = spark_layer_metrics(spans, att, [spans[0]])  # op A and its child
    assert m["spark.jobs"] == 2 and m["spark.stages"] == 3 and m["spark.tasks"] == 3
    # op A lasts 100 ms; jobs cover 110-150 and 160-180
    assert m["spark.driver_ms"] == pytest.approx(100 - 40 - 20)
    assert m["spark.task_run_ms"] == 48
    assert m["spark.task_cpu_ms"] == pytest.approx(17.0)
    assert m["spark.task_wait_ms"] == (112 - 111) + (135 - 131) + (162 - 161)
    assert m["spark.python_run_ms"] == 7
    assert m["spark.input_bytes"] == 300
    b = spark_layer_metrics(spans, att, [spans[2]])
    assert b["spark.jobs"] == 1 and b["spark.stages"] == 1  # skipped stage not counted


def test_self_time_and_union():
    assert union_ms([(0, 10), (5, 15), (20, 30)]) == 25
    assert union_ms([]) == 0
    spans = [
        Span(1, None, "op", "A", 0.0, 100.0),
        Span(2, 1, "x", "", 10.0, 40.0),
        Span(3, 1, "y", "", 30.0, 60.0),
        Span(4, 2, "z", "", 15.0, 20.0),
    ]
    got = self_ms(spans)
    assert got[1] == 50 and got[2] == 25 and got[3] == 30 and got[4] == 5


def test_tracer_nests_and_disables():
    tr = Tracer(True)
    with tr.span("op", "a"):
        with tr.span("inner", "b"):
            pass
    inner, outer = tr.spans
    assert inner.parent == outer.id and outer.parent is None
    assert outer.start_ms <= inner.start_ms <= inner.end_ms <= outer.end_ms
    off = Tracer(False)
    with off.span("op", "a") as sp:
        assert sp is None
    assert off.spans == []
