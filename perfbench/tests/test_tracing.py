import json

import pytest

from tracing import Tracer, _covered, parse_event_log, spark_layer


def _ev(**kw):
    return json.dumps(kw)


def _log():
    """Two jobs of op-1 (overlapping), one of op-2, one untagged job."""
    task = lambda stage, run_ms, sw=0, sr=0, out=0: _ev(**{
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": run_ms * 500_000,
            "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 5,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": sr},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": sw},
            "Output Metrics": {"Bytes Written": out},
        }})
    start = lambda job, t, stages, group: _ev(**{
        "Event": "SparkListenerJobStart", "Job ID": job, "Submission Time": t,
        "Stage IDs": stages,
        "Properties": {"spark.jobGroup.id": group} if group else {}})
    end = lambda job, t, ok=True: _ev(**{
        "Event": "SparkListenerJobEnd", "Job ID": job, "Completion Time": t,
        "Job Result": {"Result": "JobSucceeded" if ok else "JobFailed"}})
    return [
        _ev(Event="SparkListenerApplicationStart"),
        start(0, 1000, [0, 1], "op-1"), task(0, 100, sw=40), task(1, 50, sr=40),
        start(1, 1200, [2], "op-1"), task(2, 30, out=7), end(0, 1400), end(1, 1500),
        "",
        start(2, 2000, [3], "op-2"), task(3, 20), end(2, 2100, ok=False),
        start(3, 3000, [4], None), task(4, 999), end(3, 3500),
    ]


def test_parse_event_log_attributes_tasks_to_jobs():
    jobs = parse_event_log(_log())
    assert sorted(jobs) == [0, 1, 2, 3]
    j0 = jobs[0]
    assert (j0.group, j0.tasks, j0.run_ms, j0.shuffle_write, j0.shuffle_read) == (
        "op-1", 2, 150, 40, 40)
    assert (j0.start_ms, j0.end_ms) == (1000, 1400)
    assert jobs[1].output == 7 and jobs[1].spill == 5
    assert jobs[3].group is None


def test_covered_merges_overlapping_jobs():
    jobs = parse_event_log(_log())
    assert _covered([jobs[0], jobs[1]]) == pytest.approx(0.5)  # [1000, 1500]
    assert _covered([jobs[0], jobs[2]]) == pytest.approx(0.5)  # 0.4 + 0.1


def test_spark_layer_per_op_means():
    jobs = parse_event_log(_log())
    tr = Tracer()
    with tr.op("q"):
        pass
    with tr.op("q"):
        pass
    ops = tr.spans
    ops[0].end, ops[1].end = ops[0].start + 1.0, ops[1].start + 0.5
    m = spark_layer(jobs, ops, cores=2)
    assert m["spark.jobs"] == 1.5  # 3 tagged jobs over 2 ops; untagged ignored
    assert m["spark.tasks"] == 2.0
    assert m["spark.job_s"] == pytest.approx((0.5 + 0.1) / 2)
    assert m["spark.busy_ratio"] == pytest.approx(0.2 / (1.5 * 2))
    assert m["spark.shuffle_write_bytes"] == 20
    assert m["driver.overhead_s"] == pytest.approx(0.5)  # median of 0.5, 0.4


def test_spans_nest_share_op_id_and_mark_failures():
    tr = Tracer()
    with tr.op("tick"):
        with tr.span("sources.to_df"):
            pass
    with pytest.raises(RuntimeError):
        with tr.op("tick"):
            raise RuntimeError("boom")
    top, child, failed = tr.spans
    assert child.parent == top.id and child.op == top.op == "op-1"
    assert failed.op == "op-2" and not failed.ok
    assert tr.durations("tick") == [top.seconds]
    assert tr.durations("tick", ok_only=False) == [top.seconds, failed.seconds]
