"""Event-log attribution and span arithmetic on hand-written inputs."""

import json

import pytest

from perfbench import eventlog
from perfbench.run import job_spans, layer_breakdown


def _job_start(job, group, desc, t):
    props = {"spark.jobGroup.id": group, "spark.job.description": desc} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": job, "Submission Time": t,
            "Stage IDs": [job], "Properties": props}


def _stage(stage, group, desc, t):
    props = {"spark.jobGroup.id": group, "spark.job.description": desc} if group else {}
    return {"Event": "SparkListenerStageSubmitted", "Properties": props,
            "Stage Info": {"Stage ID": stage, "Stage Attempt ID": 0, "Submission Time": t}}


def _task(stage, launch, finish, py_run_ms=None, py_init_ms=None):
    acc = [{"ID": 1, "Name": "number of output rows", "Update": "5", "Metadata": "sql"}]
    if py_run_ms is not None:
        acc += [
            {"ID": 2, "Name": "time to run Python workers", "Update": str(py_run_ms), "Metadata": "sql"},
            {"ID": 3, "Name": "data sent to Python workers", "Update": "64", "Metadata": "sql"},
        ]
    if py_init_ms is not None:
        acc.append({"ID": 4, "Name": "time to initialize Python workers",
                    "Update": str(py_init_ms), "Metadata": "sql"})
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
        "Task Info": {"Launch Time": launch, "Finish Time": finish, "Accumulables": acc},
        "Task Metrics": {
            "Executor CPU Time": 50_000_000, "JVM GC Time": 10,
            "Input Metrics": {"Bytes Read": 100, "Records Read": 5},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 7},
        },
    }


def _job_end(job, t):
    return {"Event": "SparkListenerJobEnd", "Job ID": job, "Completion Time": t,
            "Job Result": {"Result": "JobSucceeded"}}


@pytest.fixture
def log(tmp_path):
    events = [
        _job_start(0, "engine", "s2", 1000), _stage(0, "engine", "s2", 1000),
        _task(0, 1010, 1110), _task(0, 1020, 1220), _job_end(0, 1300),
        # an untraced job: no group, never attributed
        _job_start(1, None, None, 1400), _stage(1, None, None, 1400),
        _task(1, 1400, 1500), _job_end(1, 1500),
        _job_start(2, "operators.multimodal", "s5", 2000),
        _stage(2, "operators.multimodal", "s5", 2000),
        _task(2, 2100, 2600, py_run_ms=400, py_init_ms=60),
        # a reused worker: Spark's init figure holds 8 s of idle time
        _task(2, 2100, 2400, py_run_ms=250, py_init_ms=8000), _job_end(2, 2700),
    ]
    path = tmp_path / "app"
    path.write_text("".join(json.dumps(e) + "\n" for e in events))
    return path


def test_jobs_are_attributed_to_their_group(log):
    jobs, _ = eventlog.parse(log)
    assert [(j["id"], j["group"], j["desc"]) for j in jobs] == [
        (0, "engine", "s2"), (2, "operators.multimodal", "s5")]
    assert jobs[0]["start"] == 1.0 and jobs[0]["end"] == 1.3 and jobs[0]["ok"]


def test_task_and_python_metrics_sum_per_group(log):
    _, m = eventlog.parse(log)
    assert set(m) == {("engine", "s2"), ("operators.multimodal", "s5")}
    e = m[("engine", "s2")]
    assert e["tasks"] == 2
    assert e["task_s"] == pytest.approx(0.1 + 0.2)
    assert e["sched_wait_s"] == pytest.approx(0.01 + 0.02)
    assert e["cpu_s"] == pytest.approx(0.1)
    assert e["gc_s"] == pytest.approx(0.02)
    assert e["input_bytes"] == 200 and e["shuffle_write_bytes"] == 14
    assert "py_run_s" not in e
    mm = m[("operators.multimodal", "s5")]
    assert mm["py_run_s"] == pytest.approx(0.4 + 0.25)
    assert mm["py_sent_bytes"] == 2 * 64
    assert mm["sched_wait_s"] == pytest.approx(0.1 + 0.1)


def test_python_init_is_capped_at_the_task_less_its_run(log):
    _, m = eventlog.parse(log)
    # 60 ms fits in its 500 ms task; 8000 ms is cut to 300 - 250 ms
    assert m[("operators.multimodal", "s5")]["py_init_s"] == pytest.approx(0.06 + 0.05)


def test_rolled_log_directory_reads_parts_in_order(tmp_path, log):
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    lines = log.read_text().splitlines(keepends=True)
    (d / "events_10_app").write_text("".join(lines[8:]))
    (d / "events_2_app").write_text("".join(lines[:8]))
    assert eventlog.parse(d) == eventlog.parse(log)


def _span(id, parent, kind, name, start, end):
    return {"id": id, "parent": parent, "kind": kind, "name": name,
            "start": start, "end": end, "attrs": {}}


def test_breakdown_splits_nested_layers_jobs_and_remainder():
    spans = [
        _span("s0", None, "run", "w", 0.0, 10.0),
        _span("s1", "s0", "layer", "engine", 0.0, 4.0),
        _span("s2", "s1", "build", "build", 0.0, 1.0),
        _span("s3", "s1", "exec", "exec", 1.0, 4.0),
        _span("s4", "s0", "layer", "checkpoint", 4.0, 9.0),
        _span("s5", "s4", "build", "build", 4.0, 9.0),
        _span("s6", "s5", "layer", "sources.tables", 5.0, 6.0),
        _span("s7", "s6", "build", "build", 5.0, 6.0),
    ]
    jobs = [{"id": 0, "group": "engine", "desc": "s3", "start": 1.5, "end": 3.5, "ok": True},
            {"id": 1, "group": "engine", "desc": "elsewhere", "start": 0, "end": 1, "ok": True}]
    spans += job_spans(spans, jobs)
    assert [s["id"] for s in spans[-1:]] == ["job0"]
    (row,) = layer_breakdown(spans, {("engine", "s3"): {"tasks": 3}})
    assert row["engine.build_s"] == 1.0 and row["engine.exec_s"] == 3.0
    assert row["engine.self_s"] == 2.0  # 1 s of exec ran no job
    assert row["engine.jobs"] == 1 and row["engine.tasks"] == 3
    assert row["checkpoint.build_s"] == 4.0  # nested sources.tables excluded
    assert row["sources.tables.build_s"] == 1.0
    assert row["trace.run_s"] == 10.0 and row["trace.unattributed_s"] == 1.0
