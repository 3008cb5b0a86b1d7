"""Attribute Spark's own event log to the layers of a traced run.

Spark writes one JSON event per line. Every job and stage carries the
local properties of the thread that submitted it; the traced run sets the
job group to the layer's name and the job description to the id of the
open build/exec span (``spans.py``), so

- each job becomes a child span of the phase that caused it, and
- each task's metrics, and the Python SQL metrics of the UDF boundary,
  add up under that phase's ``(layer, span id)``.

Jobs and stages with no job group (set-up, untraced runs) are skipped.
"""

from __future__ import annotations

import json
from collections import Counter, defaultdict
from pathlib import Path
from typing import Iterator

GROUP = "spark.jobGroup.id"
DESC = "spark.job.description"

# SQL metric name in the task accumulables -> (metric, scale to unit)
PYTHON_METRICS = {
    "time to start Python workers": ("py_boot_s", 1e-3),
    "time to initialize Python workers": ("py_init_s", 1e-3),
    "time to run Python workers": ("py_run_s", 1e-3),
    "data sent to Python workers": ("py_sent_bytes", 1),
    "data returned from Python workers": ("py_recv_bytes", 1),
}
TASK_METRICS = (
    "tasks", "task_s", "cpu_s", "gc_s", "sched_wait_s", "input_bytes",
    "shuffle_write_bytes",
)


def event_files(path: Path) -> list[Path]:
    """The log of one application: a plain file, or the ``events_*``
    parts of a ``eventlog_v2_*`` directory in index order."""
    path = Path(path)
    if path.is_file():
        return [path]
    parts = [p for p in path.iterdir() if p.name.startswith("events_")]
    return sorted(parts, key=lambda p: int(p.name.split("_")[1]))


def find_log(event_dir: Path) -> Path:
    logs = [p for p in Path(event_dir).iterdir() if not p.name.startswith(".")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {event_dir}, found {len(logs)}")
    return logs[0]


def events(path: Path) -> Iterator[dict]:
    for f in event_files(path):
        with open(f) as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def parse(path: Path) -> tuple[list[dict], dict[tuple[str, str], Counter]]:
    """Return ``(jobs, metrics)``.

    ``jobs``: one dict per grouped job — ``id, group, desc, start, end,
    ok`` with times in epoch seconds. ``metrics``: per ``(group, desc)``,
    the summed task metrics (:data:`TASK_METRICS`, times in seconds) and
    the Python SQL metrics (:data:`PYTHON_METRICS`).
    """
    jobs: dict[int, dict] = {}
    stage_key: dict[tuple[int, int], tuple[str, str]] = {}
    stage_submit: dict[tuple[int, int], float] = {}
    metrics: dict[tuple[str, str], Counter] = defaultdict(Counter)
    for e in events(path):
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            if props.get(GROUP):
                jobs[e["Job ID"]] = {
                    "id": e["Job ID"],
                    "group": props[GROUP],
                    "desc": props.get(DESC),
                    "start": e["Submission Time"] / 1000.0,
                    "end": None,
                    "ok": None,
                }
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(e["Job ID"])
            if job is not None:
                job["end"] = e["Completion Time"] / 1000.0
                job["ok"] = e["Job Result"]["Result"] == "JobSucceeded"
        elif kind == "SparkListenerStageSubmitted":
            props = e.get("Properties") or {}
            info = e["Stage Info"]
            sk = (info["Stage ID"], info["Stage Attempt ID"])
            if props.get(GROUP):
                stage_key[sk] = (props[GROUP], props.get(DESC))
                stage_submit[sk] = info.get("Submission Time", 0) / 1000.0
        elif kind == "SparkListenerTaskEnd":
            sk = (e["Stage ID"], e["Stage Attempt ID"])
            key = stage_key.get(sk)
            if key is None:
                continue
            m = metrics[key]
            info = e["Task Info"]
            tm = e.get("Task Metrics") or {}
            launch, finish = info["Launch Time"] / 1000.0, info["Finish Time"] / 1000.0
            m["tasks"] += 1
            m["task_s"] += finish - launch
            m["sched_wait_s"] += max(0.0, launch - stage_submit[sk])
            m["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            m["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
            m["input_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
            m["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            py = {}
            for acc in info.get("Accumulables") or []:
                spec = PYTHON_METRICS.get(acc.get("Name"))
                if spec is not None and acc.get("Update") is not None:
                    py[spec[0]] = float(acc["Update"]) * spec[1]
            if "py_init_s" in py:
                # a reused worker starts its init clock when it ends its
                # previous task, so Spark's figure includes the idle time
                # between tasks; the init after this task's launch fits in
                # the task less its run time
                room = max(0.0, finish - launch - py.get("py_run_s", 0.0))
                py["py_init_s"] = min(py["py_init_s"], room)
            for name, v in py.items():
                m[name] += v
    return list(jobs.values()), dict(metrics)
