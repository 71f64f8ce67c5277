"""The rules the benchmark reports by: the op_tail_s percentile, job-group
attribution and self-time arithmetic.  No Spark session needed:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import tracing as tr  # noqa: E402


def test_tail_percentile_keeps_ten_ops_beyond():
    assert tr.tail_percentile(19) == 100.0  # not even the median qualifies
    assert tr.tail_percentile(20) == 50.0
    assert tr.tail_percentile(39) == 50.0
    assert tr.tail_percentile(40) == 75.0
    assert tr.tail_percentile(100) == 90.0
    assert tr.tail_percentile(200) == 95.0
    assert tr.tail_percentile(1000) == 99.0
    assert tr.tail_percentile(10_000) == 99.9
    for n in range(20, 3000, 7):
        p = tr.tail_percentile(n)
        assert round(n * (100 - p), 6) >= tr.TAIL_BEYOND * 100


def test_op_tail_reads_the_chosen_percentile():
    lat = [float(i) for i in range(1, 41)]  # 40 ops -> p75
    value, p = tr.op_tail(lat)
    assert p == 75.0
    assert value == tr.percentile(lat, 75.0) == 30.25
    assert sum(x > value for x in lat) == 10
    assert tr.op_tail([3.0, 1.0, 2.0]) == (3.0, 100.0)  # few ops: the slowest


def _span(name, start, end, parent=None, op=None):
    return tr.Span(name, start, end, parent, op)


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span("op", 0.0, 10.0, op="p0:a"),
        _span("operators.build", 1.0, 4.0, parent=0, op="p0:a"),
        _span("operators.exec", 3.0, 6.0, parent=0, op="p0:a"),  # overlaps build
        _span("operators.plan", 9.0, 12.0, parent=0, op="p0:a"),  # ends past parent
        _span("inner", 1.5, 2.0, parent=1, op="p0:a"),
    ]
    assert tr.self_time(spans, 0) == 10.0 - (5.0 + 1.0)  # [1,6] and [9,10]
    assert tr.self_time(spans, 1) == 3.0 - 0.5
    assert tr.self_time(spans, 4) == 0.5
    totals = tr.self_times(spans)
    assert totals["op"] == 4.0
    assert totals["operators.build"] == 2.5
    assert tr.self_times(spans, {"p1:b"}) == {}


def test_tracer_nests_spans_and_inherits_the_op():
    t = tr.Tracer()
    with t.span("op", op="p0:q1"):
        with t.span("operators.build"):
            pass
    with t.span("session.warmup"):
        pass
    op, build, warm = t.spans
    assert build.parent == 0 and build.op == "p0:q1"
    assert warm.parent is None and warm.op is None
    assert op.start <= build.start <= build.end <= op.end
    json.dumps(t.dump())


def _job(jid, group, submit, end=None, name="collect at x.py:1"):
    return tr.Job(jid, group, submit, submit + 0.1 if end is None else end, [jid], name)


def test_jobs_attribute_by_group_then_by_time():
    spans = [
        _span("op", 0.0, 10.0, op="p0:s05"),
        _span("streaming.drain", 1.0, 6.0, parent=0, op="p0:s05"),
        _span("operators.exec", 6.5, 9.0, parent=0, op="p0:s05"),
        _span("op", 10.0, 20.0, op="p0:q02"),
        _span("operators.exec", 11.0, 19.0, parent=3, op="p0:q02"),
    ]
    jobs = [
        _job(1, "p0:s05", 0.5),  # own group, before any layer span
        _job(2, "6f1c-run-uuid", 2.0),  # micro-batch: its query's group
        _job(3, "p0:s05", 7.0),
        _job(4, "p0:q02", 12.0),
        _job(5, "p0:q02", 3.0),  # group wins over time
        _job(6, None, 25.0),  # outside every op
        _job(7, "", 15.0),  # cleared group: by time
    ]
    owner = tr.attribute_jobs(jobs, spans, ("operators.", "streaming."))
    assert owner == {
        1: ("p0:s05", None),
        2: ("p0:s05", "streaming.drain"),
        3: ("p0:s05", "operators.exec"),
        4: ("p0:q02", "operators.exec"),
        5: ("p0:q02", None),
        7: ("p0:q02", "operators.exec"),
    }


def test_until_first_job_measures_a_jobless_collector():
    # jobs at 1 (before the collector) and 5, 7 (after it started at 2)
    assert tr.until_first_job(2.0, [1.0, 7.0, 5.0], 9.0) == 3.0
    assert tr.until_first_job(2.0, [2.0], 9.0) == 0.0
    assert tr.until_first_job(2.0, [1.0, 10.0], 9.0) == 7.0  # none in time: span end


def test_union_and_clip():
    assert tr.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert tr.union_length([]) == 0
    assert tr.clip([(0, 2), (3, 9)], 1, 4) == [(1, 2), (3, 4)]


def test_event_log_parsing(tmp_path):
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1],
         "Stage Infos": [{"Stage ID": 1, "Stage Name": "localCheckpoint at io.py:1"},
                         {"Stage ID": 0, "Stage Name": "parquet at x:0"}],
         "Properties": {"spark.jobGroup.id": "p0:x82"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Metrics": {"Executor Run Time": 200, "Executor CPU Time": 1e8,
                          "JVM GC Time": 5, "Disk Bytes Spilled": 7,
                          "Shuffle Read Metrics": {"Remote Bytes Read": 1, "Local Bytes Read": 2},
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 3}},
         "Task Info": {"Accumulables": [
             {"Name": "time to start Python workers", "Update": "40"},
             {"Name": "time to initialize Python workers", "Update": "60"},
             {"Name": "time to run Python workers", "Update": "300"},
             {"Name": "data sent to Python workers", "Update": "11"},
             {"Name": "data returned from Python workers", "Update": "13"}]}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500},
        {"Event": "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent",
         "progress": {"id": "q", "timestamp": "2024-01-01T00:00:00.500Z"}},
    ]
    (d / "events_1_app").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    log = tr.read_event_log(str(tmp_path))
    (job,) = log.jobs
    assert (job.id, job.group, job.submit, job.end) == (0, "p0:x82", 1.0, 1.5)
    assert job.name.startswith("localCheckpoint")
    assert log.completed_stages == {0: 2}
    t = log.job_tasks[0]
    assert (t.tasks, t.run_s, t.cpu_s, t.gc_s) == (1, 0.2, 0.1, 0.005)
    assert (t.shuffle_read_bytes, t.shuffle_write_bytes, t.spill_bytes) == (3, 3, 7)
    assert (t.py_start_s, t.py_run_s, t.py_sent_bytes, t.py_returned_bytes) == (0.1, 0.3, 11, 13)
    assert tr.progress_time(log.progress[0]) == 1704067200.5
