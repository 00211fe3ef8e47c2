import json

import pytest

from perfbench.eventlog import Span, read_events, span_totals

MB = 1024 * 1024


def _task(stage, run_ms, cpu_ns, gc_ms, shuffle=0, out=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Output Metrics": {"Bytes Written": out},
        },
    }


def _job(jid, stages, t_ms, group=None):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": jid,
            "Submission Time": t_ms, "Stage IDs": stages, "Properties": props}


def _end(jid, t_ms):
    return {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": t_ms}


EVENTS = [
    {"Event": "SparkListenerApplicationStart"},
    _job(0, [0, 1], 100_000, "g-a"), _task(0, 200, 100_000_000, 10, shuffle=MB),
    _task(1, 300, 200_000_000, 0), _end(0, 101_000),
    _job(1, [2], 101_500, "g-a"), _task(2, 500, 400_000_000, 5), _end(1, 102_000),
    # no group: attributed to the span whose interval holds its submission
    _job(2, [3], 105_000), _task(3, 1000, 0, 0, out=2 * MB), _end(2, 105_500),
    # outside every span: ignored
    _job(3, [4], 200_000, "elsewhere"), _task(4, 999, 0, 0), _end(3, 200_100),
]
SPANS = [Span("g-a", "x.build", 99.5, 103.0), Span("g-b", "x.query", 104.0, 106.0)]


def test_known_totals(tmp_path):
    log = tmp_path / "events"
    log.write_text("\n".join(json.dumps(e) for e in EVENTS) + "\n")
    t = span_totals(read_events(str(log)), SPANS)
    a, b = t["x.build"], t["x.query"]
    assert (a.calls, a.jobs, a.tasks) == (1, 2, 3)
    assert a.exec_run_s == pytest.approx(1.0)
    assert a.exec_cpu_s == pytest.approx(0.7)
    assert a.jvm_gc_s == pytest.approx(0.015)
    assert a.shuffle_write_mb == pytest.approx(1.0)
    # 3.5 s wall, jobs cover [100, 101] and [101.5, 102]
    assert a.driver_gap_s == pytest.approx(2.0)
    assert (b.jobs, b.tasks) == (1, 1)
    assert b.output_mb == pytest.approx(2.0)
    assert b.driver_gap_s == pytest.approx(1.5)
    assert b.wall_s == pytest.approx(2.0)


def test_overlapping_jobs_are_not_double_counted(tmp_path):
    events = [_job(0, [0], 1_000, "g"), _job(1, [1], 1_500, "g"),
              _end(0, 3_000), _end(1, 2_000)]
    t = span_totals(events, [Span("g", "s", 0.0, 4.0)])
    assert t["s"].driver_gap_s == pytest.approx(2.0)
