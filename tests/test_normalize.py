"""Unit + property tests for the normalization layer (SURVEY.md §5.3)."""

from __future__ import annotations

from pyspark.sql import functions as F

from kaggle_ecommerce_etl_spark.normalize import (
    NA_TOKENS,
    canonicalize_na,
    drop_all_null_columns,
    normalize_column_names,
    normalize_name,
    transform,
)
from kaggle_ecommerce_etl_spark.normalize.casts import (
    date_to_iso,
    normalize_month_expr_datetime,
    normalize_month_expr_prefix,
    tolerant_numeric,
)


def test_normalize_name():
    assert normalize_name("  Ship - Postal  Code ") == "ship_postal_code"
    assert normalize_name("GROSS AMT") == "gross_amt"
    assert normalize_name("design_no.") == "design_no."  # '.' survives


def test_normalize_column_names(spark):
    df = spark.createDataFrame([(1, 2)], ["Order ID", "ship-state"])
    assert normalize_column_names(df).columns == ["order_id", "ship_state"]


def test_na_tokens_all_null(spark):
    """Property: every NA token spelling maps to NULL, others survive."""
    rows = [(t,) for t in NA_TOKENS] + [("keep",), ("NAture",)]
    df = spark.createDataFrame(rows, ["v"])
    out = canonicalize_na(df).collect()
    nulls = [r.v for r in out if r.v is None]
    kept = sorted(r.v for r in out if r.v is not None)
    assert len(nulls) == len(NA_TOKENS)
    assert kept == ["NAture", "keep"]


def test_tolerant_numeric(spark):
    df = spark.createDataFrame(
        [("$1,234.567",), ("(12.3)",), (" 42 ",), ("abc",), (None,)], ["v"]
    )
    out = [r.n for r in df.select(tolerant_numeric(F.col("v")).alias("n")).collect()]
    assert out == [1234.57, 12.3, 42.0, None, None]


def test_date_to_iso(spark):
    df = spark.createDataFrame(
        [("04-30-22",), ("2022-04-30",), ("04/30/2022",), ("junk",)], ["v"]
    )
    out = [r.d for r in df.select(date_to_iso(F.col("v")).alias("d")).collect()]
    assert out == ["2022-04-30", "2022-04-30", "2022-04-30", None]


def test_month_branches(spark):
    df = spark.createDataFrame(
        [("2022-03-15",), ("jan",), ("FEB ",), ("garbage",)], ["v"]
    )
    dt = [r.m for r in df.select(normalize_month_expr_datetime(F.col("v")).alias("m")).collect()]
    assert dt == ["March", None, None, None]
    pfx = [r.m for r in df.select(normalize_month_expr_prefix(F.col("v")).alias("m")).collect()]
    # '202' (datetime prefix) and 'gar' are unmapped in the prefix branch
    assert pfx == [None, "January", "February", None]


def test_transform_gates(spark):
    """≥90% numeric → cast; 50% → string; all-null col dropped."""
    rows = []
    for i in range(100):
        rows.append(
            (
                str(i) if i != 0 else "xx",          # 99% numeric
                str(i) if i % 2 == 0 else "yy",      # 50% numeric
                None,                                 # all null
                "2022-01-%02d" % (i % 28 + 1),       # date by name
            )
        )
    df = spark.createDataFrame(
        rows, "`Amount` string, `Mixed Col` string, `Dead` string, `Order Date` string"
    )
    out = transform(df)
    assert "dead" not in out.columns
    schema = {f.name: f.dataType.simpleString() for f in out.schema.fields}
    assert schema["amount"] == "double"
    assert schema["mixed_col"] == "string"
    assert schema["order_date"] == "string"
    sample = out.filter(F.col("order_date").isNotNull()).first()
    assert sample.order_date.startswith("2022-01-")


def test_drop_all_null_columns(spark):
    df = spark.createDataFrame([(1, None), (2, None)], "a int, b string")
    assert drop_all_null_columns(df).columns == ["a"]


def test_summary_stats_contract(spark, sf_dir):
    """Local correctness anchor for the rows-only `summary_stats`
    registry entry (no SQL oracle can restate summary()'s
    Greenwald-Khanna approximate percentiles): schema is pinned, exact
    stats (count/mean/min/max) match the oracle-checked exact twin,
    and approximate quartiles land within 1% relative tolerance of the
    exact percentiles."""
    from kaggle_ecommerce_etl_spark.normalize.profile import (
        summary_stats,
        summary_stats_exact,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    cols = ["l_quantity", "l_extendedprice"]
    wide = summary_stats(li, cols)
    assert wide.columns == ["summary"] + cols
    stats = {r["summary"]: r for r in wide.collect()}
    assert set(stats) == {"count", "mean", "stddev", "min", "25%", "50%", "75%", "max"}

    exact = {
        r["col_name"]: r for r in summary_stats_exact(li, cols).collect()
    }
    for c in cols:
        assert int(stats["count"][c]) == exact[c]["cnt"]
        assert abs(float(stats["mean"][c]) - exact[c]["mean"]) <= 1e-4 * abs(exact[c]["mean"])
        assert float(stats["min"][c]) == exact[c]["min_v"]
        assert float(stats["max"][c]) == exact[c]["max_v"]
        for pct, name in (("25%", "p25"), ("50%", "p50"), ("75%", "p75")):
            approx, ex = float(stats[pct][c]), exact[c][name]
            assert abs(approx - ex) <= max(0.01 * abs(ex), 1e-9), (c, pct, approx, ex)


def _messy_wide_frame(spark):
    """~20 all-string columns over a Range scan: numeric-with-noise
    candidates plus date- and month-named columns."""
    exprs = [
        f"CASE WHEN id % 7 = 0 THEN 'NA' ELSE concat('$', CAST(id AS STRING)) END AS `c {i}`"
        for i in range(16)
    ]
    exprs += [
        "'2022-01-05' AS order_date", "'05-01-22' AS ship_date",
        "'jan' AS month", "'2022-03-01' AS Months",
    ]
    return spark.range(200).selectExpr(*exprs)


def test_transform_py4j_round_trip_budget(spark):
    """Building the 20-column transform (profile job included) stays a
    few JVM calls per column: the rules are spliced as SQL text into
    one aggregate and one projection. Measured 123-125 round trips;
    the Column-chain builders this replaced made ~10k."""
    from py4j.protocol import MEMORY_COMMAND_NAME

    df = _messy_wide_frame(spark)
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = [0]

    def counting(command, *args, **kwargs):
        # garbage-collection notices for earlier tests' objects are not
        # round trips this build made
        if not command.startswith(MEMORY_COMMAND_NAME):
            calls[0] += 1
        return send(command, *args, **kwargs)

    client.send_command = counting
    try:
        out = transform(df)
    finally:
        client.send_command = send
    assert len(out.columns) == 20
    assert calls[0] <= 160, calls[0]


def test_column_profile_is_one_aggregate_job(spark):
    """Every gate of every column comes from ONE aggregation: the same
    job count as a bare ``count(1)`` over the frame (AQE submits the
    aggregate's map stage as a job of its own)."""
    from kaggle_ecommerce_etl_spark.normalize.profile import column_profile

    df = _messy_wide_frame(spark)
    sc = spark.sparkContext

    def jobs(group, action):
        sc.setJobGroup(group, group)
        try:
            action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    baseline = jobs("profile-baseline", lambda: df.selectExpr("count(1)").collect())
    assert jobs("profile-all-gates", lambda: column_profile(df)) == baseline


def test_column_helpers_match_frame_rules(spark):
    """The Column helpers apply the same rule text the frame builders
    splice, whatever Column they wrap."""
    df = spark.createDataFrame(
        [(" $1,234.5 ",), ("n/a",), ("05-01-22",), ("feb",)], "v string"
    )
    via_col = df.select(
        tolerant_numeric(F.concat(F.col("v"), F.lit(""))).alias("n"),
        date_to_iso(F.col("v")).alias("d"),
        normalize_month_expr_prefix(F.col("v")).alias("m"),
    ).collect()
    assert [tuple(r) for r in via_col] == [
        (1234.5, None, None),
        (None, None, None),
        (None, "2022-05-01", None),
        (None, None, "February"),
    ]
