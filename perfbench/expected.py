"""Expected outputs, derived without the engine.

Every expected value comes from pandas/pyarrow over the generated parquet
files, or, for the decode family, from the generator's own injection
schedules in ``sources.synth`` (FIXTURES.md §1: a truncated payload every
500th row, an encoded size that disagrees with ``(w, h)`` every 500th
row). Nothing here reads an earlier output of the engine.

The comparison helpers return a list of mismatch messages; an empty list
means the output is correct.
"""

from __future__ import annotations

import math
import re
from collections import Counter
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from jsonschema_validator_spark.sources import synth
from perfbench.table import parquet_files

FMT_ENUM = ("png", "jpeg", "webp")
ID_PATTERN = re.compile(r"^img-[0-9]{12}$")
DIM_RANGE = (1, 16384)
CAPTION_LEN = (1, 200)
DRIFT_COLUMNS = ("w", "h", "phash")
STATS_COLUMNS = ("image_id", "w", "h", "fmt", "caption", "phash")
UNIQUE_KEYS = ("image_id", "phash")
# HyperLogLog++ at rsd 0.02: 10 % is five standard errors
DISTINCT_TOLERANCE = 0.10
# keep nullable ints integral, so min/max print the way Spark casts them
_NULLABLE_INTS = {pa.int32(): pd.Int32Dtype(), pa.int64(): pd.Int64Dtype()}


def load_table(path: Path) -> pd.DataFrame:
    frames = []
    for f in parquet_files(path):
        t = pq.read_table(f)
        d = t.drop(["bytes"]).to_pandas(types_mapper=_NULLABLE_INTS.get)
        d["bytes_null"] = pc.is_null(t.column("bytes")).to_numpy(zero_copy_only=False)
        frames.append(d)
    d = pd.concat(frames, ignore_index=True)
    d["i"] = np.arange(len(d))
    return d


def keyword_masks(d: pd.DataFrame, required: list[str]) -> dict[str, np.ndarray]:
    """Failure mask per keyword rule of IMAGES_SPEC, in the engine's rule
    order (required first, then properties in spec order). A rule other
    than ``required`` never fails on a null value."""
    zeros = np.zeros(len(d), dtype=bool)
    out = {}
    for col in required:
        out[f"required:$.{col}"] = (
            d["bytes_null"].to_numpy() if col == "bytes" else d[col].isna().to_numpy()
        )
    ids = d["image_id"]
    out["type:$.image_id"] = zeros
    out["pattern:$.image_id"] = (
        ids.notna() & ~ids.fillna("").map(lambda s: bool(ID_PATTERN.search(s)))
    ).to_numpy()
    for col in ("w", "h"):
        v = d[col]
        out[f"type:$.{col}"] = zeros
        out[f"minimum:$.{col}"] = (v.notna() & (v < DIM_RANGE[0])).fillna(False).to_numpy(bool)
        out[f"maximum:$.{col}"] = (v.notna() & (v > DIM_RANGE[1])).fillna(False).to_numpy(bool)
    out["enum:$.fmt"] = (d["fmt"].notna() & ~d["fmt"].isin(FMT_ENUM)).to_numpy()
    n = d["caption"].str.len()
    out["type:$.caption"] = zeros
    out["minLength:$.caption"] = (n.notna() & (n < CAPTION_LEN[0])).to_numpy(bool)
    out["maxLength:$.caption"] = (n.notna() & (n > CAPTION_LEN[1])).to_numpy(bool)
    return out


def image_masks(d: pd.DataFrame, seed: int) -> dict[str, np.ndarray]:
    """Decode-family failures from the generator's schedules: a truncated
    payload never decodes; otherwise the encoded size is the row's true
    size (grown by 3×2 px on a dims-mismatch row) and fails when the
    ``(w, h)`` columns disagree with it."""
    i = d["i"].to_numpy()
    trunc_mod, trunc_res = synth._TRUNC_BYTES
    dim_mod, dim_res = synth._DIM_MISMATCH
    decode_fail = (i % trunc_mod) == trunc_res
    enc = np.array([synth.true_dims(seed, int(k)) for k in i]).reshape(-1, 2)
    grown = (i % dim_mod) == dim_res
    enc[grown] += (3, 2)
    w, h = d["w"], d["h"]
    known = (w.notna() & h.notna()).to_numpy()
    wv = w.fillna(-1).to_numpy(np.int64)
    hv = h.fillna(-1).to_numpy(np.int64)
    dims_fail = known & ~decode_fail & ((wv != enc[:, 0]) | (hv != enc[:, 1]))
    return {"image:decode": decode_fail, "image:dims": dims_fail}


def _dup_rows(values: pd.Series) -> int:
    counts = values.astype("string").value_counts(dropna=False)
    return int(counts[counts > 1].sum())


def suite_verdicts(d: pd.DataFrame, seed: int, required: list[str]) -> dict:
    """``{(family, rule_id): (n_checked, n_failed, pass)}`` for
    ``ImageValidationSuite.suite_verdicts`` with every family on and the
    table as its own drift baseline."""
    n = len(d)
    out = {}
    # with decode on, `required: bytes` is checked in the decode pass
    for rule, m in keyword_masks(d, [c for c in required if c != "bytes"]).items():
        out[("keyword", rule)] = (n, int(m.sum()), not m.any())
    for key in UNIQUE_KEYS:
        f = _dup_rows(d[key])
        out[("uniqueness", f"unique:{key}")] = (n, f, f == 0)
    bad_fmt = int((~d["fmt"].isin(FMT_ENUM)).sum())
    out[("referential", "ref:fmt->dim_formats.fmt")] = (n, bad_fmt, bad_fmt == 0)
    for col in DRIFT_COLUMNS:
        # the baseline is the table itself, so every KS statistic is 0
        out[("drift", f"drift:{col}")] = (None, None, True)
    if "bytes" in required:
        f = int(d["bytes_null"].sum())
        out[("keyword", "required:$.bytes")] = (n, f, f == 0)
    for rule, m in image_masks(d, seed).items():
        out[("image", rule)] = (n, int(m.sum()), not m.any())
    return out


def column_stats(d: pd.DataFrame) -> dict:
    """``{column: (n_rows, n_null, min, max, n_distinct)}`` as
    ``operators.stats.column_profile`` reports them (min/max as strings)."""
    out = {}
    for col in STATS_COLUMNS:
        v = d[col].dropna()
        lo, hi = (str(v.min()), str(v.max())) if len(v) else (None, None)
        out[col] = (len(d), int(d[col].isna().sum()), lo, hi, int(v.nunique()))
    return out


def verdicts_by(d: pd.DataFrame, masks: dict[str, np.ndarray], by: str) -> dict:
    """``{(by_value, rule_id, tag): (n_checked, n_failed, pass)}`` — the
    engine's ``verdicts(partition_by=by)`` rows."""
    out = {}
    keys = d[by].to_numpy()
    for value in pd.unique(keys):
        sel = keys == value
        for rule, m in masks.items():
            f = int(m[sel].sum())
            out[(value, rule, rule.split(":", 1)[0])] = (int(sel.sum()), f, f == 0)
    return out


def violations(d: pd.DataFrame, masks: dict[str, np.ndarray]) -> Counter:
    """Multiset of ``(image_id, rule_id)`` over every violation row."""
    ids = d["image_id"].to_numpy()
    return Counter((ids[k], rule) for rule, m in masks.items() for k in np.flatnonzero(m))


def summary(d: pd.DataFrame, masks: dict[str, np.ndarray]) -> dict:
    bad = np.zeros(len(d), dtype=bool)
    for m in masks.values():
        bad |= m
    return {
        "valid": not bad.any(),
        "n_rows": len(d),
        "n_invalid_rows": int(bad.sum()),
        "n_rules": len(masks),
    }


# ---- comparison -------------------------------------------------------------


def diff(expected: dict, got: dict, what: str) -> list[str]:
    errs = []
    for k in sorted(set(expected) | set(got), key=repr):
        if k not in got:
            errs.append(f"{what}: missing {k!r}")
        elif k not in expected:
            errs.append(f"{what}: unexpected {k!r} = {got[k]!r}")
        elif expected[k] != got[k]:
            errs.append(f"{what}: {k!r} expected {expected[k]!r}, got {got[k]!r}")
    return errs


def diff_stats(expected: dict, got: dict) -> list[str]:
    """Exact on counts and min/max; ``n_distinct`` (an HLL estimate)
    within :data:`DISTINCT_TOLERANCE` of the exact distinct count."""
    exact = {c: v[:4] for c, v in expected.items()}
    errs = diff(exact, {c: v[:4] for c, v in got.items()}, "stats")
    for c, v in expected.items():
        if c in got and not math.isclose(got[c][4], v[4], rel_tol=DISTINCT_TOLERANCE):
            errs.append(f"stats: n_distinct({c}) expected ~{v[4]}, got {got[c][4]}")
    return errs
