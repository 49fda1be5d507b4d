"""Row filters / projection alignment / audit columns
(SURVEY.md §2b ops 10-13).

Reference behavior re-expressed:
- mostly-null row filter: keep rows <50% NA (ecommerce_s3_to_pg.py:253)
- critical-column dropna (pg.py:225, 268-270)
- fixed-target column alignment with NULL fill (pg.py:584-589)
- data_source / loaded_at audit columns (pg.py:537-608)

All pure narrow expressions — no shuffle, fully codegen'd, filters
push toward the scan where the source format allows.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kaggle_ecommerce_etl_spark.normalize.sqltext import ident


def filter_mostly_null_rows(
    df: DataFrame, threshold: float = 0.5, cols: Sequence[str] | None = None
) -> DataFrame:
    """Keep rows whose NULL fraction across ``cols`` (default: all
    columns) is < threshold. One SQL predicate, one JVM call."""
    cols = df.columns if cols is None else list(cols)
    null_count = "".join(f" + CAST({ident(c)} IS NULL AS INT)" for c in cols)
    return df.filter(f"(0{null_count}) / {float(len(cols))!r}D < {float(threshold)!r}D")


def drop_missing_critical(df: DataFrame, critical: Sequence[str]) -> DataFrame:
    """Drop rows with NULL in any present critical column."""
    present = [c for c in critical if c in df.columns]
    return df.na.drop(subset=present) if present else df


def align_columns(
    df: DataFrame, target: Sequence[tuple[str, str]]
) -> DataFrame:
    """Project to the target (name, sql_type) list; absent columns are
    NULL-typed literals. Output column order == target order."""
    present = set(df.columns)
    return df.selectExpr(
        *[
            f"CAST({ident(name) if name in present else 'NULL'} AS {sql_type}) AS {ident(name)}"
            for name, sql_type in target
        ]
    )


def add_audit_columns(
    df: DataFrame, data_source: str | None = None, loaded_at: bool = True
) -> DataFrame:
    """Append the reference's lineage columns."""
    out = df
    if data_source is not None:
        out = out.withColumn("data_source", F.lit(data_source))
    if loaded_at:
        out = out.withColumn("loaded_at", F.current_timestamp())
    return out
