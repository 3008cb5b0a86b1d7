#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload suite_decode --seed 1 --seconds 12 --trace 0

Set-up generates the seeded table, starts a ``local[nproc]`` Spark
session, prepares the workload and runs it twice to warm up. Runs then go
back to back (one closed-loop client) until ``--seconds`` have passed;
every run's output is checked against values derived without the engine.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
untraced and traced runs, attributes the traced runs' Spark jobs to
layers through the event log and prints the per-layer metrics; the spans,
per-layer self times and the event log are kept under
``.bench_build/perfbench/trace/``. The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed``, ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

LAYERS = (
    "spec", "engine", "pipeline", "operators.stats", "operators.uniqueness",
    "operators.referential", "operators.drift", "operators.multimodal",
    "checkpoint", "sources.tables", "submit_job",
)
COMMON = (
    ("build_s", "s"), ("exec_s", "s"), ("jobs", "count"), ("tasks", "count"),
    ("task_s", "s"), ("cpu_s", "s"), ("gc_s", "s"), ("sched_wait_s", "s"),
    ("input_bytes", "bytes"), ("shuffle_write_bytes", "bytes"),
)
EXTRA = {
    "operators.multimodal": (
        ("py_boot_s", "s"), ("py_init_s", "s"), ("py_run_s", "s"),
        ("py_sent_bytes", "bytes"), ("py_recv_bytes", "bytes"),
    ),
    "engine": (("rows_out", "rows"),),
}
TRACE_METRICS = (("trace.unattributed_s", "s"), ("trace.overhead_ratio", "ratio"))
# the JVM keeps speeding up for several runs (suite_decode: 7.7 s, 6.2 s,
# 5.7 s, 5.6 s after one warm-up run); a second warm-up run moves the timed
# runs onto the flatter part of that curve
WARMUP_RUNS = 2


def per_layer_units() -> dict[str, str]:
    units = {}
    for layer in LAYERS:
        for name, unit in COMMON + EXTRA.get(layer, ()):
            units[f"{layer}.{name}"] = unit
    units.update(TRACE_METRICS)
    return units


def job_spans(spans: list[dict], jobs: list[dict]) -> list[dict]:
    """The event log's jobs as child spans of the phase that ran them."""
    ids = {s["id"] for s in spans}
    return [
        {"id": f"job{j['id']}", "parent": j["desc"], "kind": "job", "name": f"job {j['id']}",
         "start": j["start"], "end": j["end"] or j["start"],
         "attrs": {"group": j["group"], "ok": j["ok"]}}
        for j in jobs if j["desc"] in ids
    ]


def layer_breakdown(spans: list[dict], metrics: dict) -> list[dict]:
    """One dict per traced run of ``<layer>.<metric>`` sums, plus
    ``<layer>.self_s`` (driver time with no Spark job running),
    ``trace.run_s`` and ``trace.unattributed_s`` (run time outside every
    layer call). ``spans`` includes the job spans.

    ``build_s``/``exec_s`` exclude nested layer calls, so the layers of a
    run add up to its attributed wall time.
    """
    from perfbench.spans import children, covered, self_time

    by_id = {s["id"]: s for s in spans}
    kids = children(spans)
    out = []
    for run in (s for s in spans if s["kind"] == "run"):
        row: dict[str, float] = dict(run["attrs"].get("counts", {}))

        def add(key: str, v: float) -> None:
            row[key] = row.get(key, 0) + v

        todo = [run]
        while todo:
            s = todo.pop()
            todo.extend(kids.get(s["id"], []))
            if s["kind"] not in ("build", "exec"):
                continue
            layer = by_id[s["parent"]]["name"]
            add(f"{layer}.{s['kind']}_s", self_time(s, kids, {"layer"}))
            add(f"{layer}.self_s", self_time(s, kids, {"layer", "job"}))
            add(f"{layer}.jobs", sum(c["kind"] == "job" for c in kids.get(s["id"], [])))
            for name, v in metrics.get((layer, s["id"]), {}).items():
                add(f"{layer}.{name}", v)
        top = [(c["start"], c["end"]) for c in kids.get(run["id"], []) if c["kind"] == "layer"]
        row["trace.run_s"] = run["end"] - run["start"]
        row["trace.unattributed_s"] = row["trace.run_s"] - covered(run["start"], run["end"], top)
        out.append(row)
    return out


class Bench:
    """One workload's set-up, and its runs, in one Spark session."""

    def __init__(self, workload: str, seed: int, work: Path, trace: bool, rows: int | None = None):
        from perfbench import expected, host, table
        from perfbench.workloads import WORKLOADS, Ctx

        self.name, self.wl, self.work = workload, WORKLOADS[workload], work
        self.rows = rows or table.ROWS
        self.event_dir = work / "eventlog" if trace else None
        self.setup: dict[str, float] = {}
        host.prepare_environment(work)
        t0 = time.perf_counter()
        table.generate(seed, work / "images", host.cores(), self.rows)
        host.stop_semaphore_tracker()
        self.setup["table"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        self.spark = host.build_session(work, self.event_dir)
        self.setup["session"] = time.perf_counter() - t0
        try:
            self.ctx = Ctx(self.spark, seed, work, work / "images")
            t0 = time.perf_counter()
            if self.wl.prepare is not None:
                self.wl.prepare(self.ctx)
            self.setup["prepare"] = time.perf_counter() - t0
            self.ctx.data = expected.load_table(self.ctx.table)
            self.ctx.expect = self.wl.expect(self.ctx)
        except BaseException:
            self.stop()
            raise

    def run(self, tr, label: str) -> tuple[float | None, list[str]]:
        """One run and its check: ``(wall seconds or None if it raised,
        mismatches)``."""
        out = self.work / f"run-{label}"
        try:
            with tr.run(self.name):
                t0 = time.perf_counter()
                got = self.wl.run(self.ctx, tr, out)
                wall = time.perf_counter() - t0
            errs, counts = self.wl.check(self.ctx, got, out)
            for key, v in counts.items():
                layer, name = key.rsplit(".", 1)
                tr.count(layer, name, v)
            return wall, errs
        except Exception as exc:  # noqa: BLE001 - a failed run is counted, not fatal
            traceback.print_exc()
            return None, [f"run raised {exc!r}"]
        finally:
            shutil.rmtree(out, ignore_errors=True)

    def stop(self) -> None:
        from perfbench import host

        host.stop_session(self.spark)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    if not (ROOT / "jsonschema_validator_spark").is_dir():
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    from perfbench import eventlog, host
    from perfbench.spans import ATTRIBUTION_BOUND, Tracer, Untraced
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    base = ROOT / ".bench_build" / "perfbench"
    work = base / f"work-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)

    fp = host.fingerprint()
    print("host", json.dumps(fp), flush=True)

    bench = Bench(args.workload, args.seed, work, bool(args.trace))
    walls: dict[bool, list[float]] = {False: [], True: []}
    tracers: list[Tracer] = []
    attempted = failed = 0
    try:
        t0 = time.perf_counter()
        warm = Untraced(split=bool(args.trace))
        warm_errs = [e for k in range(WARMUP_RUNS) for e in bench.run(warm, f"warm{k}")[1]]
        bench.setup["warm-up"] = time.perf_counter() - t0
        for e in warm_errs[:20]:
            print(f"check (warm-up): {e}", file=sys.stderr)

        peak = host.PeakRss()
        peak.start()
        deadline = time.perf_counter() + args.seconds
        k = 1
        while True:
            traced = bool(args.trace) and k % 2 == 0
            # a traced invocation's untraced runs take the traced plan too
            tr = Tracer(bench.spark.sparkContext) if traced else Untraced(split=bool(args.trace))
            wall, errs = bench.run(tr, str(k))
            for e in errs[:20]:
                print(f"check (run {k}): {e}", file=sys.stderr)
            attempted += 1
            failed += bool(errs)
            if wall is not None:
                walls[traced].append(wall)
                if traced:
                    tracers.append(tr)
            k += 1
            if time.perf_counter() >= deadline and (not args.trace or k > 2):
                break
        peak_mb = peak.stop()
    finally:
        bench.stop()

    # a traced invocation needs a traced and an untraced run to report
    correct = not warm_errs and failed == 0 and bool(walls[False]) and (bool(walls[True]) or not args.trace)
    setup_s = sum(bench.setup.values())
    print(f"workload {args.workload} seed {args.seed} rows {bench.rows}: {attempted} runs, "
          f"{failed} failed; warm-up {'ok' if not warm_errs else 'FAILED'}")
    print("setup_s %.3f s (%s)" % (setup_s, ", ".join(f"{k} {v:.3f}" for k, v in bench.setup.items())))
    metrics: dict[str, dict] = {}
    if not args.trace:
        rps = bench.rows / statistics.median(walls[False]) if walls[False] else 0.0
        ok_ratio = (attempted - failed) / attempted
        metrics["rows_per_s"] = {"value": rps, "unit": "rows/s"}
        metrics["setup_s"] = {"value": setup_s, "unit": "s"}
        metrics["peak_rss_mb"] = {"value": peak_mb, "unit": "MB"}
        metrics["ok_run_ratio"] = {"value": ok_ratio, "unit": "ratio"}
        print(f"rows_per_s {rps:.1f} rows/s (median of {len(walls[False])} runs: "
              + " ".join(f"{w:.3f}" for w in walls[False]) + " s)")
        print(f"peak_rss_mb {peak_mb:.1f} MB")
        print(f"ok_run_ratio {ok_ratio:.3f} ratio ({attempted - failed} of {attempted} runs correct)")
    elif correct:
        log = eventlog.find_log(bench.event_dir)
        jobs, task_metrics = eventlog.parse(log)
        spans = [s for tr in tracers for s in tr.dump()]
        spans += job_spans(spans, jobs)
        rows = layer_breakdown(spans, task_metrics)
        overhead = statistics.median(walls[True]) / statistics.median(walls[False]) - 1
        for key, unit in per_layer_units().items():
            v = overhead if key == "trace.overhead_ratio" else statistics.median(r.get(key, 0) for r in rows)
            metrics[key] = {"value": v, "unit": unit}
        share = max(r["trace.unattributed_s"] / r["trace.run_s"] for r in rows)
        correct = share <= ATTRIBUTION_BOUND
        trace_dir = base / "trace" / f"{args.workload}-seed{args.seed}"
        shutil.rmtree(trace_dir, ignore_errors=True)
        trace_dir.mkdir(parents=True)
        (trace_dir / "spans.json").write_text(json.dumps(spans))
        (trace_dir / "layers.json").write_text(json.dumps(
            {"host": fp, "workload": args.workload, "seed": args.seed, "runs": rows,
             "untraced_walls": walls[False], "traced_walls": walls[True]}, indent=1))
        shutil.move(str(log), str(trace_dir / "eventlog"))
        print_layers(rows)
        print(f"traced runs {len(rows)}: unattributed share {share:.4f} "
              f"({'within' if share <= ATTRIBUTION_BOUND else 'OVER'} the {ATTRIBUTION_BOUND} bound), "
              f"tracing overhead {overhead:+.3f} (traced vs untraced run wall, same plan)")
        print(f"trace written to {trace_dir.relative_to(ROOT)}")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


def print_layers(rows: list[dict]) -> None:
    """Median per-layer table; ``share`` is the layer's build_s + exec_s
    over the traced run's wall time."""
    cols = ("build_s", "exec_s", "self_s", "jobs", "tasks", "task_s", "cpu_s", "sched_wait_s")
    print(f"{'layer':22s}{'share':>8s}" + "".join(f"{c:>13s}" for c in cols))
    for layer in LAYERS:
        share = statistics.median(
            (r.get(f"{layer}.build_s", 0) + r.get(f"{layer}.exec_s", 0)) / r["trace.run_s"] for r in rows
        )
        vals = [statistics.median(r.get(f"{layer}.{c}", 0) for r in rows) for c in cols]
        print(f"{layer:22s}{share:8.3f}" + "".join(f"{v:13.3f}" for v in vals))


if __name__ == "__main__":
    sys.path.insert(0, str(ROOT))
    sys.exit(main())
