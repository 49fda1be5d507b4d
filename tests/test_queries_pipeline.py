"""Invariant tests for the pipeline-layer oracle queries
(queries_pipeline.py). Exact value equality vs DuckDB is covered by
scripts/check_oracle.py / the driver gate; these assert the structural
properties that must hold at any scale factor."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from kaggle_ecommerce_etl_spark.queries import REGISTRY
from kaggle_ecommerce_etl_spark.queries_common import _format_fixture
from kaggle_ecommerce_etl_spark.queries_pipeline import (
    q_audit_columns,
    q_categorical_profile,
    q_csv_roundtrip,
    q_ddl_roundtrip,
    q_pipeline_amazon_clean,
    q_pipeline_amazon_flagged,
    q_pipeline_international,
    q_pipeline_sale,
    q_upsert_roundtrip,
)
from kaggle_ecommerce_etl_spark.normalize.tokens import NA_TOKENS


def test_pipeline_sale_shape(spark, sf_dir):
    out = q_pipeline_sale(spark, sf_dir)
    assert set(out.columns) == {
        "sku_code", "design_no", "category", "stock_qty", "ship_date"
    }  # index + ghost_col gone
    assert dict(out.dtypes)["stock_qty"] == "double"
    # NA tokens canonicalized, dates ISO
    bad = out.filter(
        F.col("category").isin([t for t in NA_TOKENS if t.strip()])
        | ~F.col("ship_date").rlike(r"^\d{4}-\d{2}-\d{2}$")
    )
    assert bad.count() == 0
    # full-row dedup happened: sku_code unique (one row per source key)
    assert out.count() == out.select("sku_code").distinct().count()


def test_pipeline_amazon_split_invariants(spark, sf_dir):
    clean = q_pipeline_amazon_clean(spark, sf_dir)
    flagged = q_pipeline_amazon_flagged(spark, sf_dir)
    # clean keys unique; flagged keys all multi; sides disjoint
    assert clean.count() == clean.select("order_id").distinct().count()
    multi = (
        flagged.groupBy("order_id").count().filter(F.col("count") < 2).count()
    )
    assert multi == 0
    assert clean.join(flagged, "order_id", "inner").count() == 0
    # criticals non-null on both sides
    for side in (clean, flagged):
        assert side.filter(F.col("amount").isNull() | F.col("date").isNull()).count() == 0


def test_pipeline_international_parts(spark, sf_dir):
    out = q_pipeline_international(spark, sf_dir)
    tags = {r["data_source"] for r in out.select("data_source").distinct().collect()}
    assert tags == {"part1", "part2"}
    # part2 lost its stock column in the split → NULL-filled by align
    assert out.filter((F.col("data_source") == "part2") & F.col("stock").isNotNull()).count() == 0
    assert out.filter((F.col("data_source") == "part1") & F.col("stock").isNull()).count() == 0
    assert dict(out.dtypes)["pcs"] == "double"
    assert dict(out.dtypes)["gross_amount"] == "double"


#: construction jobs of a rebuild at sf0.001, once the raw report CSV
#: is published (writing it takes 2 jobs more)
RAW_REPORT_REBUILD_JOBS = {
    "pipeline_sale": 2,
    "pipeline_amazon_clean": 2,
    "pipeline_amazon_flagged": 2,
    "pipeline_international": 4,
}


def test_raw_reports_are_published_once(spark, sf_dir, construction_jobs):
    """The raw report CSVs are the pipelines' inputs, not the operation
    under test: the first build publishes each once per source tag,
    and no later build of a query that reads one writes it again."""
    for name in RAW_REPORT_REBUILD_JOBS:
        REGISTRY[name][0](spark, sf_dir)
    files = [
        f"{_format_fixture(sf_dir, n, 'orders')}/{n}.csv"
        for n in ("sale_report", "amazon_sale", "international_sale")
    ]
    before = {f: (os.stat(f).st_ino, os.stat(f).st_mtime_ns) for f in files}
    got = {name: construction_jobs(name) for name in RAW_REPORT_REBUILD_JOBS}
    REGISTRY["pipeline_jdbc_load"][0](spark, sf_dir)
    assert got == RAW_REPORT_REBUILD_JOBS
    assert {f: (os.stat(f).st_ino, os.stat(f).st_mtime_ns) for f in files} == before


def test_upsert_roundtrip_idempotent(spark, sf_dir):
    out = q_upsert_roundtrip(spark, sf_dir)
    # double-delivered batch with in-batch dup keys → exactly one row/key
    assert out.count() == out.select("uk").distinct().count()


def test_csv_roundtrip_timestamp(spark, sf_dir):
    out = q_csv_roundtrip(spark, sf_dir)
    ts = out.select("file_ts").distinct().collect()
    assert len(ts) == 1 and str(ts[0]["file_ts"]) == "2024-01-02 03:04:05"


def test_ddl_roundtrip_idempotent_and_typed(spark, sf_dir):
    first = q_ddl_roundtrip(spark, sf_dir)
    n = first.count()
    assert n > 0
    assert dict(first.dtypes)["stock"] == "int"
    assert dict(first.dtypes)["loaded_at"] == "timestamp"
    # current database untouched (create_tables must not USE)
    assert spark.catalog.currentDatabase() == "default"
    # re-run in the SAME session: INSERT OVERWRITE keeps it idempotent
    assert q_ddl_roundtrip(spark, sf_dir).count() == n


def test_audit_columns_contract(spark, sf_dir):
    out = q_audit_columns(spark, sf_dir)
    assert out.filter(~F.col("loaded_at_set")).count() == 0
    tags = out.select("data_source").distinct().collect()
    assert [r["data_source"] for r in tags] == ["amazon_sale"]


def test_summary_stats_exact_vs_known(spark):
    from kaggle_ecommerce_etl_spark.normalize.profile import summary_stats_exact

    df = spark.createDataFrame(
        [(float(v),) for v in (1, 2, 3, 4)], ["x"]
    )
    row = summary_stats_exact(df, ["x"]).collect()[0]
    assert row["cnt"] == 4 and row["mean"] == 2.5
    assert row["min_v"] == 1.0 and row["max_v"] == 4.0
    # exact linear-interpolated quartiles of {1,2,3,4}
    assert (row["p25"], row["p50"], row["p75"]) == (1.75, 2.5, 3.25)
    assert abs(row["stddev"] - 1.290994) < 1e-6


def test_categorical_profile_values(spark, sf_dir):
    rows = {r["col_name"]: r for r in q_categorical_profile(spark, sf_dir).collect()}
    assert set(rows) == {"o_orderpriority", "o_orderstatus"}
    assert rows["o_orderstatus"]["n_unique"] == 3  # O/F/P
    assert rows["o_orderpriority"]["n_unique"] == 5
    for r in rows.values():
        assert r["top_freq"] >= 1 and r["top"] is not None
