"""The traced run's code path on a tiny seeded table: the output check,
and the event-log attribution checked against a raw scan of the log.
Two traced runs share the session and its event log, as in a traced
invocation."""

import copy
import json
import os
from types import SimpleNamespace

import pytest

from perfbench import eventlog
from perfbench.run import LAYERS, Bench, job_spans, layer_breakdown
from perfbench.spans import ATTRIBUTION_BOUND, Tracer, Untraced

ROWS = 400


@pytest.fixture(scope="module")
def traced(tmp_path_factory):
    env = dict(os.environ)
    bench = Bench("suite_decode", seed=5, work=tmp_path_factory.mktemp("bench"), trace=True, rows=ROWS)
    try:
        _, warm = bench.run(Untraced(), "warm")
        tracers = [Tracer(bench.spark.sparkContext) for _ in range(2)]
        errs = [e for k, tr in enumerate(tracers) for e in bench.run(tr, f"traced{k}")[1]]
        right = bench.ctx.expect
        wrong = copy.deepcopy(right)
        n, f, ok = wrong["verdicts"][("image", "image:decode")]
        wrong["verdicts"][("image", "image:decode")] = (n, f + 1, False)
        bench.ctx.expect = wrong
        _, wrong_errs = bench.run(Untraced(), "wrong")
        bench.ctx.expect = right
    finally:
        bench.stop()
        os.environ.clear()
        os.environ.update(env)
    log = eventlog.find_log(bench.event_dir)
    jobs, metrics = eventlog.parse(log)
    spans = [s for tr in tracers for s in tr.dump()]
    spans += job_spans(spans, jobs)
    rows = layer_breakdown(spans, metrics)
    # the span ids each traced run opened, in the rows' order
    runs = [{s["id"] for s in tr.dump()} for tr in tracers]
    raw = [json.loads(line) for line in open(log)]
    return SimpleNamespace(warm=warm, errs=errs, wrong_errs=wrong_errs, spans=spans,
                           jobs=jobs, rows=rows, runs=runs, raw=raw)


def test_runs_pass_the_output_check(traced):
    assert traced.warm == [] and traced.errs == []


def test_check_rejects_a_wrong_expectation(traced):
    assert len(traced.wrong_errs) == 1
    assert "image:decode" in traced.wrong_errs[0]


def _props(e):
    p = e.get("Properties") or {}
    return p.get("spark.jobGroup.id"), p.get("spark.job.description")


def test_every_grouped_job_belongs_to_its_layer_phase(traced):
    by_id = {s["id"]: s for s in traced.spans}
    starts = [e for e in traced.raw if e["Event"] == "SparkListenerJobStart" and _props(e)[0]]
    assert starts
    for e in starts:
        group, desc = _props(e)
        phase = by_id[desc]
        assert phase["kind"] in ("build", "exec")
        assert by_id[phase["parent"]]["name"] == group
    assert len(traced.rows) == 2
    for row, ids in zip(traced.rows, traced.runs):
        for layer in LAYERS:
            n = sum(_props(e)[0] == layer and _props(e)[1] in ids for e in starts)
            assert row.get(f"{layer}.jobs", 0) == n, layer


def test_tasks_follow_their_stage_group(traced):
    stage = {}
    for e in traced.raw:
        if e["Event"] == "SparkListenerStageSubmitted":
            stage[e["Stage Info"]["Stage ID"]] = _props(e)
    ends = [stage.get(e["Stage ID"], (None, None))
            for e in traced.raw if e["Event"] == "SparkListenerTaskEnd"]
    for row, ids in zip(traced.rows, traced.runs):
        for layer in LAYERS:
            n = sum(group == layer and desc in ids for group, desc in ends)
            assert row.get(f"{layer}.tasks", 0) == n, layer
        assert row["operators.multimodal.tasks"] > 0


def test_python_metrics_land_on_the_decode_layer_only(traced):
    for row in traced.rows:
        assert row["operators.multimodal.py_run_s"] > 0
        assert row["operators.multimodal.py_sent_bytes"] > 0
        assert row["operators.multimodal.py_recv_bytes"] > 0
        assert not [k for k in row if ".py_" in k and not k.startswith("operators.multimodal.")]


def test_layer_spans_account_for_the_run(traced):
    for row in traced.rows:
        assert row["trace.unattributed_s"] <= ATTRIBUTION_BOUND * row["trace.run_s"]
        assert row["pipeline.build_s"] > 0 and row["operators.drift.exec_s"] > 0
