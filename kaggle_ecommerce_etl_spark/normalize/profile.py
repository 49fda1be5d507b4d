"""Profiling aggregations & data-dependent plan gates
(SURVEY.md §2d ops 18-22, §2e op 31).

Reference behavior re-expressed:
- per-column null counts (ecommerce_s3_to_pg.py:42-43)
- describe() summary (ecommerce_s3_to_pg.py:39-40)
- numeric-cast gate: apply iff ≥90% of rows parse (pg.py:178-181)
- month/datetime gate: iff ANY value parses (pg.py:159-161)
- drop all-null columns (pg.py:202-204)

Scale design: ALL gates for one table — including the post-coercion
null counts that decide the drop-all-null-columns projection — are
batched into ONE aggregation job (single scan, map-side partial
aggregation, one tiny result row). A naive implementation profiles
once to pick coercions and scans again to find dead columns; here the
per-branch success counts collected up front make the second scan
unnecessary. At 100 TB, each profiling scan IS the cost of the
pipeline, so the count matters.

Per-column work is role-aware (role derived from the column name, as
in the reference): date columns only pay the date-parse probe, month
columns the date+prefix probes, everything else the numeric probe —
instead of every column paying every probe.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kaggle_ecommerce_etl_spark.normalize.casts import (
    month_prefix_sql,
    numeric_sql,
    tolerant_date_sql,
)
from kaggle_ecommerce_etl_spark.normalize.sqltext import ident
from kaggle_ecommerce_etl_spark.normalize.tokens import na_token_to_null_sql
from kaggle_ecommerce_etl_spark.util import qcol


def null_counts(df: DataFrame) -> DataFrame:
    """One-row DataFrame: per-column null count (op 18)."""
    return df.agg(
        *[
            F.sum(qcol(c).isNull().cast("long")).alias(c)
            for c in df.columns
        ]
    )


def summary_stats(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """describe()-style summary (op 19): count/mean/stddev/min/25%/50%/75%/max."""
    return df.summary() if cols is None else df.select(*cols).summary()


def summary_stats_exact(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Exact twin of :func:`summary_stats` (op 19), long format: one row
    per column with count/mean/stddev/min/quartiles/max. ``percentile``
    is the EXACT aggregate (per-group sort) — the oracle-checkable
    correctness twin; ``summary()``'s approx-percentile path is the
    100 TB path. Stats rounded to 6 so fp summation order can't leak
    into comparisons.

    Shape: unpivot via ``stack`` (narrow projection, no shuffle) then
    ONE groupBy over n_cols groups — a single exchange regardless of
    column count."""
    stack_args = ", ".join(f"'{c}', CAST(`{c}` AS DOUBLE)" for c in cols)
    long = df.select(
        F.expr(f"stack({len(cols)}, {stack_args}) AS (col_name, value)")
    )
    pct = [
        F.round(F.expr(f"percentile(value, {q})"), 6).alias(name)
        for q, name in ((0.25, "p25"), (0.5, "p50"), (0.75, "p75"))
    ]
    return long.groupBy("col_name").agg(
        F.count("value").alias("cnt"),
        F.round(F.avg("value"), 6).alias("mean"),
        F.round(F.stddev_samp("value"), 6).alias("stddev"),
        F.round(F.min("value"), 6).alias("min_v"),
        *pct,
        F.round(F.max("value"), 6).alias("max_v"),
    )


def column_role(name: str) -> str:
    """Name-driven coercion role, mirroring the reference's heuristics."""
    n = name.lower()
    if "date" in n:
        return "date"
    if "month" in n:
        return "month"
    return "candidate"


def column_profile(df: DataFrame, string_cols: Sequence[str] | None = None) -> dict:
    """ONE job computing every gate the transform layer needs.

    Returns ``{"__rows__": n, col: {"nulls", "numeric_ok", "date_ok",
    "prefix_ok", "role"}}`` — per-branch SUCCESS COUNTS, so the caller
    can both pick the coercion and know the post-coercion null count
    without a second scan. Each count is the non-null count of the
    very rule text the transform applies, and the whole aggregate is
    one ``selectExpr``.
    """
    if string_cols is None:
        string_cols = [
            f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)
        ]
    roles = {c: column_role(c) for c in string_cols}

    def nonnull(rule_sql: str, key: str) -> str:
        return f"sum(CAST({rule_sql} IS NOT NULL AS BIGINT)) AS {ident(key)}"

    aggs = ["count(1) AS __rows__"]
    for c in df.columns:
        aggs.append(f"sum(CAST({ident(c)} IS NULL AS BIGINT)) AS {ident('nulls__' + c)}")
    for c in string_cols:
        q, role = ident(c), roles[c]
        if role in ("date", "month"):
            aggs.append(nonnull(tolerant_date_sql(q), f"dateok__{c}"))
        if role == "month":
            aggs.append(nonnull(month_prefix_sql(q), f"prefixok__{c}"))
        if role == "candidate":
            aggs.append(nonnull(numeric_sql(q), f"numok__{c}"))
            # non-null AFTER NA-token canonicalization + trim (the
            # else-branch's post-transform null count)
            aggs.append(nonnull(na_token_to_null_sql(q), f"keepok__{c}"))
    row = df.selectExpr(*aggs).collect()[0].asDict()

    out: dict = {"__rows__": row["__rows__"]}
    for c in df.columns:
        out[c] = {
            "nulls": row[f"nulls__{c}"],
            "numeric_ok": row.get(f"numok__{c}"),
            "keep_ok": row.get(f"keepok__{c}"),
            "date_ok": row.get(f"dateok__{c}"),
            "prefix_ok": row.get(f"prefixok__{c}"),
            "role": roles.get(c),
        }
    return out


def categorical_profile(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Categorical half of ``describe(include='all')`` (op 19; reference
    ecommerce_s3_to_pg.py:39-40): per column, the distinct-value count,
    the modal value and its frequency. One row per profiled column:
    ``(col_name, n_unique, top, top_freq)``.

    Tiebreak: lexicographically smallest value among the max-frequency
    ones (pandas' ``top`` pick is arbitrary; ours is total-ordered so
    results are reproducible and oracle-checkable).

    Scale: melts only the PROFILED columns (explode of a k-wide struct
    array — k× row multiply of a k-column projection, not the full
    table), then ONE shuffle on (col_name, value) with map-side combine;
    the per-column top/unique reductions run on the already-aggregated
    (col, value, cnt) set, which is small (≤ distinct values)."""
    from pyspark.sql.window import Window

    structs = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"), qcol(c).cast("string").alias("value")
            )
            for c in cols
        ]
    )
    long = (
        df.select(F.explode(structs).alias("p"))
        .select("p.col_name", "p.value")
        .filter(F.col("value").isNotNull())
    )
    counts = long.groupBy("col_name", "value").agg(F.count(F.lit(1)).alias("cnt"))
    # ONE downstream chain (not separate uniq/top branches joined —
    # that plan scanned the source twice): window-rank on the already
    # aggregated counts, then a groupBy that REUSES the window's
    # hash(col_name) partitioning, so the source is scanned once and
    # the col_name exchange happens once.
    w = Window.partitionBy("col_name").orderBy(F.desc("cnt"), F.asc("value"))
    ranked = counts.withColumn("__rn", F.row_number().over(w))
    return (
        ranked.groupBy("col_name")
        .agg(
            F.count(F.lit(1)).alias("n_unique"),
            # exactly one row has __rn == 1; max over {struct, NULLs}
            F.max(F.when(F.col("__rn") == 1, F.struct("value", "cnt"))).alias("__top"),
        )
        .select(
            "col_name",
            "n_unique",
            F.col("__top.value").alias("top"),
            F.col("__top.cnt").alias("top_freq"),
        )
    )


def drop_all_null_columns(df: DataFrame, profile: dict | None = None) -> DataFrame:
    """Drop columns whose values are all NULL (op 31). Data-dependent
    projection: needs a profile pass (reused if supplied)."""
    if profile is None:
        counts = null_counts(df).collect()[0].asDict()
        total = df.count()
        dead = [c for c in df.columns if counts[c] == total]
    else:
        total = profile["__rows__"]
        dead = [c for c in df.columns if c in profile and profile[c]["nulls"] == total]
    return df.drop(*dead) if dead else df
