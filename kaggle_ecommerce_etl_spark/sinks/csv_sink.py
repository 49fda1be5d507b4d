"""CSV sink (SURVEY.md §2a op 3).

Reference: re-serialize cleaned frames to headered CSV under
``kaggle/cleaned/<name>_<ts>.csv`` (ecommerce_s3_to_pg.py:637-685).

``single_file=True`` mirrors the reference's one-object-per-table
output (coalesce(1)); leave False at scale so each task writes its own
part file."""

from __future__ import annotations

import datetime as _dt
import glob as _glob
import os as _os
import shutil as _shutil

from pyspark.sql import DataFrame

TS_FMT = "%Y-%m-%d_%H-%M-%S"  # reference naming (pg.py:645, 659)


def timestamped_name(base: str, now: _dt.datetime | None = None) -> str:
    now = now or _dt.datetime.now(_dt.timezone.utc)
    return f"{base}_{now.strftime(TS_FMT)}"


def write_csv(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    single_file: bool = False,
) -> None:
    out = df.coalesce(1) if single_file else df
    out.write.option("header", True).mode(mode).csv(path)


def write_csv_file(df: DataFrame, file_path: str) -> None:
    """ONE exact CSV file at ``file_path`` — the reference's
    one-object-per-table S3 put (pg.py:659-671), and the one writer of
    every single-file CSV in the engine. Spark writes directories, so:
    a single-partition write to a staging directory private to this
    process, then a driver-side move of the part file (two processes
    writing the same file each stage apart, and the last move wins
    with a complete file either way). Cell whitespace is kept as
    written, as pandas ``to_csv`` keeps it (Spark's CSV writer trims
    it by default). Local/NFS paths only (an object store would use
    its own rename API); use :func:`write_csv` for the scale path
    where each task writes its own part."""
    _write_single_file(
        df,
        file_path,
        "csv",
        header=True,
        ignoreLeadingWhiteSpace=False,
        ignoreTrailingWhiteSpace=False,
    )


def _write_single_file(df: DataFrame, file_path: str, fmt: str, **options) -> None:
    """Stage-then-move behind :func:`write_csv_file` and the parquet
    stream fixtures: a single-partition ``fmt`` write (with
    ``options``) to a staging directory private to this process, then
    a driver-side move of its one part file to ``file_path``."""
    tmp = f"{file_path}.__tmp__{_os.getpid()}"
    df.coalesce(1).write.format(fmt).options(**options).mode("overwrite").save(tmp)
    part = _glob.glob(tmp + "/part-*")[0]
    _os.makedirs(_os.path.dirname(file_path) or ".", exist_ok=True)
    _os.replace(part, file_path)
    _shutil.rmtree(tmp, ignore_errors=True)
