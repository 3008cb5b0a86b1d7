"""The workloads: set-up, one run, and the check of its output.

All of them read one synthetic image+caption table that ``sources.synth``
generates from the benchmark's seed (``table.py``); the engine receives
only those files. A run is one complete
validation job, driven through the calls a user makes, each call wrapped
by the tracer as a call into the layer named first.
"""

from __future__ import annotations

import math
from collections import Counter
from dataclasses import dataclass, field
from pathlib import Path
from typing import Callable

import pyarrow.parquet as pq

from jsonschema_validator_spark import Spec, Validator
from jsonschema_validator_spark.checkpoint import CheckpointStore, validate_resumable
from jsonschema_validator_spark.pipeline import IMAGES_SPEC, ImageValidationSuite
from jsonschema_validator_spark.sources import synth
from jsonschema_validator_spark.sources.tables import SnapshotTable

from perfbench import expected
from perfbench.table import parquet_files

SNAPSHOTS = 4  # the backfill's increments: FILES / SNAPSHOTS files each
DRIFT_THRESHOLD = 0.2  # ImageValidationSuite.suite_verdicts' default
# the backfill's spec: its snapshots hold no payload column
META_SPEC = {**IMAGES_SPEC, "required": [c for c in IMAGES_SPEC["required"] if c != "bytes"]}
SKETCH_COLUMNS = ["image_id", "phash"]
TDIGEST_COLUMNS = ["w", "h"]


@dataclass
class Ctx:
    spark: object
    seed: int
    work: Path
    table: Path
    data: object = None  # pandas frame of the table, for expected values
    expect: dict = field(default_factory=dict)
    snapshots: SnapshotTable | None = None


# ---- suite_decode: the flagship suite, plus the stats profile -----------------


def _verdict(family: str | None):
    """Row of a family's verdict frame -> ``((family, rule_id), (n_checked,
    n_failed, pass))``, labelled the way ``suite_verdicts`` labels it."""

    def row(r):
        fam = family or r["family"]
        if fam == "image" and r["rule_id"].startswith("required:"):
            fam = "keyword"  # the bytes-null check rides the decode pass
        return (fam, r["rule_id"]), (r["n_checked"], r["n_failed"], r["pass"])

    return row


def _drift_verdict(r):
    return ("drift", f"drift:{r['column']}"), (None, None, r["ks"] <= DRIFT_THRESHOLD)


def _stats_row(r):
    return r["column"], (r["n_rows"], r["n_null"], r["min_value"], r["max_value"], r["n_distinct"])


def _run_suite(ctx: Ctx, tr, out: Path) -> dict:
    spark = ctx.spark
    tr.call("spec", lambda: Spec(IMAGES_SPEC))

    def build():
        df = spark.read.parquet(str(ctx.table))
        suite = ImageValidationSuite(
            df,
            dim_formats=synth.dim_formats(spark),
            baseline=df,  # same table: drift is the no-drift control
            source_path=str(ctx.table),
            cache_metadata=True,
        )
        return suite, suite.suite_verdicts()

    suite, union = tr.call("pipeline", build)
    if tr.split:
        # each family runs on its own, so its Spark jobs carry its layer
        verdicts = {}
        for layer, fn, row in (
            ("engine", suite.keyword_verdicts, _verdict("keyword")),
            ("operators.uniqueness", suite.uniqueness_verdicts, _verdict("uniqueness")),
            ("operators.referential", suite.referential_verdict, _verdict("referential")),
            ("operators.drift", suite.drift, _drift_verdict),
            ("operators.multimodal", suite.decode_verdict, _verdict("image")),
        ):
            verdicts.update(tr.call(layer, fn, lambda df, row=row: dict(map(row, df.collect()))))
    else:
        verdicts = tr.call("pipeline", lambda: union, lambda df: dict(map(_verdict(None), df.collect())))
    stats = tr.call("operators.stats", suite.stats, lambda df: dict(map(_stats_row, df.collect())))
    # a user's job pays the metadata cache fill every time
    tr.call("pipeline", spark.catalog.clearCache)
    return {"verdicts": verdicts, "stats": stats}


def _expect_suite(ctx: Ctx) -> dict:
    return {
        "verdicts": expected.suite_verdicts(ctx.data, ctx.seed, IMAGES_SPEC["required"]),
        "stats": expected.column_stats(ctx.data),
    }


def _check_suite(ctx: Ctx, got: dict, out: Path) -> tuple[list[str], dict]:
    errs = expected.diff(ctx.expect["verdicts"], got["verdicts"], "suite_verdicts")
    errs += expected.diff_stats(ctx.expect["stats"], got["stats"])
    return errs, {}


# ---- the submit_job.py body in-process ----------------------------------------


def _run_submit(ctx: Ctx, tr, out: Path) -> dict:
    spec = tr.call("spec", lambda: Spec(IMAGES_SPEC))

    def build():
        res = Validator(spec).validate(ctx.spark.read.parquet(str(ctx.table)))
        return res, res.verdicts(partition_by="fmt"), res.violations(include=["image_id"])

    res, verdicts, violations = tr.call("engine", build)

    def write(frames):
        frames[0].write.mode("overwrite").parquet(str(out / "verdicts"))
        frames[1].write.mode("overwrite").parquet(str(out / "violations"))

    tr.call("submit_job", lambda: (verdicts, violations), write)
    return {"summary": tr.call("engine", res.summary)}


def _expect_submit(ctx: Ctx) -> dict:
    masks = expected.keyword_masks(ctx.data, IMAGES_SPEC["required"])
    return {
        "verdicts": expected.verdicts_by(ctx.data, masks, "fmt"),
        "violations": expected.violations(ctx.data, masks),
        "summary": expected.summary(ctx.data, masks),
    }


def _check_submit(ctx: Ctx, got: dict, out: Path) -> tuple[list[str], dict]:
    v = pq.read_table(out / "verdicts").to_pylist()
    verdicts = {
        (r["fmt"], r["rule_id"], r["tag"]): (r["n_checked"], r["n_failed"], r["pass"]) for r in v
    }
    rows = pq.read_table(out / "violations", columns=["image_id", "tag", "path"]).to_pylist()
    viol = Counter((r["image_id"], f"{r['tag']}:{r['path']}") for r in rows)
    errs = expected.diff(ctx.expect["verdicts"], verdicts, "verdicts")
    errs += expected.diff(ctx.expect["violations"], viol, "violations")
    errs += expected.diff(ctx.expect["summary"], got["summary"], "summary")
    return errs, {"engine.rows_out": len(rows)}


# ---- the checkpointed backfill over many small snapshots ---------------------


def _prepare_resume(ctx: Ctx) -> None:
    files = [str(f) for f in parquet_files(ctx.table)]
    per = math.ceil(len(files) / SNAPSHOTS)
    table = SnapshotTable(str(ctx.work / "snapshots"))
    for k in range(0, len(files), per):
        table.append(ctx.spark.read.parquet(*files[k : k + per]).drop("bytes"))
    ctx.snapshots = table


def _run_resume(ctx: Ctx, tr, out: Path) -> dict:
    spec = tr.call("spec", lambda: Spec(META_SPEC))
    table = tr.wrap(ctx.snapshots, "sources.tables")
    store = tr.call("checkpoint", lambda: CheckpointStore(str(out / "store")))

    def backfill():
        return validate_resumable(
            ctx.spark, table, spec, store,
            sketch_columns=SKETCH_COLUMNS, tdigest_columns=TDIGEST_COLUMNS,
            partition_by="fmt",
        )

    first = tr.call("checkpoint", backfill)
    second = tr.call("checkpoint", backfill)
    merged = tr.call(
        "checkpoint",
        lambda: store.merged_verdicts(ctx.spark, partition_by=["fmt"]),
        lambda df: {
            (r["fmt"], r["rule_id"], r["tag"]): (r["n_checked"], r["n_failed"], r["pass"])
            for r in df.collect()
        },
    )
    return {"first": first["validated_snapshots"], "second": second["validated_snapshots"], "merged": merged}


def _expect_resume(ctx: Ctx) -> dict:
    masks = expected.keyword_masks(ctx.data, META_SPEC["required"])
    return {"merged": expected.verdicts_by(ctx.data, masks, "fmt")}


def _check_resume(ctx: Ctx, got: dict, out: Path) -> tuple[list[str], dict]:
    errs = expected.diff(ctx.expect["merged"], got["merged"], "merged_verdicts")
    if got["first"] != ctx.snapshots.snapshots():
        errs.append(f"backfill validated {got['first']}, expected every snapshot")
    if got["second"]:
        errs.append(f"second call validated {got['second']}, expected none")
    return errs, {}


# ---- resume_submit: checkpointed backfill, then the submit_job.py body -------


def _run_resume_submit(ctx: Ctx, tr, out: Path) -> dict:
    return {**_run_resume(ctx, tr, out), **_run_submit(ctx, tr, out)}


def _expect_resume_submit(ctx: Ctx) -> dict:
    return {**_expect_resume(ctx), **_expect_submit(ctx)}


def _check_resume_submit(ctx: Ctx, got: dict, out: Path) -> tuple[list[str], dict]:
    errs, _ = _check_resume(ctx, got, out)
    more, counts = _check_submit(ctx, got, out)
    return errs + more, counts


# ---- registry -----------------------------------------------------------------


@dataclass(frozen=True)
class Workload:
    run: Callable
    expect: Callable
    check: Callable
    prepare: Callable | None = None


WORKLOADS = {
    "suite_decode": Workload(_run_suite, _expect_suite, _check_suite),
    "resume_submit": Workload(
        _run_resume_submit, _expect_resume_submit, _check_resume_submit, _prepare_resume
    ),
}
