"""The seeded input table: ``ROWS`` rows from ``sources.synth`` in
``FILES`` parquet files, written by a pool of worker processes."""

from __future__ import annotations

import multiprocessing as mp
from concurrent.futures import ProcessPoolExecutor
from pathlib import Path

ROWS = 8_000
FILES = 8  # one decode work unit per file, two per core on a 4-core host


def _write_part(seed: int, k: int, path: str, rows: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from jsonschema_validator_spark.sources import synth

    start, end = k * rows // FILES, (k + 1) * rows // FILES
    d = synth.generate_pandas(end - start, seed=seed, start=start)
    pq.write_table(pa.Table.from_pandas(d, preserve_index=False), f"{path}/part-{k:05d}.parquet")


def generate(seed: int, path: Path, workers: int, rows: int = ROWS) -> None:
    """Part ``k`` holds rows ``[k*rows/FILES, (k+1)*rows/FILES)`` of
    ``synth.generate_pandas(rows, seed)``."""
    path.mkdir(parents=True)
    with ProcessPoolExecutor(workers, mp_context=mp.get_context("spawn")) as ex:
        for f in [ex.submit(_write_part, seed, k, str(path), rows) for k in range(FILES)]:
            f.result()


def parquet_files(path: Path) -> list[Path]:
    """The table's files in row order: position in this list's
    concatenation is the row index the generator used."""
    return sorted(Path(path).glob("*.parquet"))
