"""Pipeline-layer oracle queries (SURVEY.md §2 ops 1, 3, 5, 7, 8, 16,
19, 33-37): the reference's actual product — the three per-file
cleaning pipelines (ecommerce_s3_to_pg.py:216-296, 298-335, 337-421),
the embedded-header row-group split (pg.py:364-413), the CSV sink and
DO-NOTHING upsert (pg.py:537-685) and the categorical describe
(pg.py:39-40) — exposed on the driver's DuckDB-oracle surface.

Method: each query SYNTHESIZES a deterministic messy CSV from the
``orders`` parquet table (noise built with pure CASE logic on
``o_orderkey``: duplicate rows, NA-token spellings, ``$1,234.56``
amounts, an embedded second header, mostly-null rows — the exact noise
classes the reference handles), publishes it once per source tag as a
cached fixture (``queries_common._format_fixture``), reads it back
through the REAL ingest path (``read_csv_with_encoding_fallback`` →
``with_file_order``) and runs the REAL pipeline. The oracle SQL
reproduces the expected CLEANED output directly from ``orders`` with
the same CASE logic, so a green driver row proves the whole chain
end-to-end: CSV scan, drop/rename, dedup, mostly-null filter,
rule-driven transform, critical dropna, conflict/row-group split,
alignment and source tags.

Scale note: the CSV round-trip exists only to exercise the CSV ingest
operator at test scale; the pipelines themselves are lazy DataFrame
chains whose plans are identical when pointed at a 100 TB file listing.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kaggle_ecommerce_etl_spark.normalize.profile import (
    categorical_profile,
    summary_stats_exact,
)
from kaggle_ecommerce_etl_spark.operators.filters import add_audit_columns
from kaggle_ecommerce_etl_spark.operators.structural import with_file_order
from kaggle_ecommerce_etl_spark.sinks.ddl import create_tables
from kaggle_ecommerce_etl_spark.pipelines.amazon import clean_amazon_sale
from kaggle_ecommerce_etl_spark.pipelines.international import (
    clean_international_sale,
)
from kaggle_ecommerce_etl_spark.pipelines.sale import clean_sale
from kaggle_ecommerce_etl_spark.queries_common import (
    _fixture_tag,
    _format_fixture,
    _publish_fixture_dir,
    _t,
)
from kaggle_ecommerce_etl_spark.sinks.csv_sink import timestamped_name, write_csv_file
from kaggle_ecommerce_etl_spark.sinks.jdbc import write_upsert
from kaggle_ecommerce_etl_spark.sources.csv_source import (
    read_csv_with_encoding_fallback,
    read_recent_csv,
    with_filename_timestamp,
)

def _raw_report(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    fixture: Callable[[SparkSession, str], DataFrame],
) -> str:
    """Path of the raw report CSV ``name``: the rows of
    ``fixture(spark, sf_dir)`` in ``__ord`` order as ONE headered file,
    the raw-file shape the reference ingests. The file is an input, not
    the operation under test, so it is published once per source tag
    and later builds only read it. The single-partition sort is correct
    for a per-file report (tens of MB), not a bulk path."""
    src_dir = _format_fixture(sf_dir, name, "orders")

    def _build(stage: str) -> None:
        rows = fixture(spark, sf_dir).repartition(1).sortWithinPartitions("__ord")
        write_csv_file(rows.drop("__ord"), f"{stage}/{name}.csv")

    _publish_fixture_dir(src_dir, _build)
    return f"{src_dir}/{name}.csv"


# --------------------------------------------------------------------------
# op 37b — Sale Report pipeline (reference pg.py:298-335)
# --------------------------------------------------------------------------

def _sale_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    mostly = k % 31 == 5  # >50%-NA rows: 4 of 6 data cells empty

    def n(c):
        return F.when(mostly, F.lit(None)).otherwise(c)

    dec = F.concat(
        (k % 500).cast("string"), F.lit("."),
        F.lpad((k % 100).cast("string"), 2, "0"),
    )
    cat = (
        F.when(k % 29 == 0, F.lit("NA"))
        .when(k % 29 == 1, F.lit("null"))
        .when(k % 29 == 2, F.lit("N/A"))
        .otherwise(F.col("o_orderpriority"))
    )
    base = o.filter(k % 4 == 0).select(
        k.cast("string").alias("index"),
        F.concat(F.lit("SK-"), k.cast("string")).alias("SKU Code"),
        F.concat(F.lit("D"), (k % 97).cast("string")).alias("Design No."),
        n(cat).alias("Category"),
        n(dec).alias("Stock Qty"),
        n(F.date_format("o_orderdate", "MM/dd/yyyy")).alias("Ship Date"),
        n(F.lit("NA")).alias("Ghost Col"),  # all-NA → dropped column
        k.alias("__k"),
    )
    dups = base.filter(F.col("__k") % 7 == 0).withColumn(
        "index", F.concat(F.lit("d"), F.col("index"))
    )
    return (
        base.withColumn("__ord", F.col("__k") * 2)
        .unionByName(dups.withColumn("__ord", F.col("__k") * 2 + 1))
        .drop("__k")
    )


def q_pipeline_sale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full clean_sale chain over a synthesized messy CSV: drop index →
    full-row dedup → mostly-null filter → transform (numeric/date
    coercion, NA canonicalization, dead-column drop) → rename."""
    path = _raw_report(spark, sf_dir, "sale_report", _sale_fixture)
    raw = read_csv_with_encoding_fallback(spark, path)
    return clean_sale(raw)


ORACLE_PIPELINE_SALE = """
WITH src AS (
  SELECT o_orderkey AS k, o_orderpriority AS prio, o_orderdate AS d
  FROM orders WHERE o_orderkey % 4 = 0 AND o_orderkey % 31 <> 5
)
SELECT 'SK-' || CAST(k AS VARCHAR)      AS sku_code,
       'D'   || CAST(k % 97 AS VARCHAR) AS design_no,
       CASE WHEN k % 29 IN (0, 1, 2) THEN NULL ELSE prio END AS category,
       round(CAST(CAST(k % 500 AS VARCHAR) || '.' ||
                  lpad(CAST(k % 100 AS VARCHAR), 2, '0') AS DOUBLE), 2) AS stock_qty,
       strftime(d, '%Y-%m-%d') AS ship_date
FROM src
"""


# --------------------------------------------------------------------------
# op 37a — Amazon Sale Report pipeline (reference pg.py:216-296)
# --------------------------------------------------------------------------

_STATES = ["Maharashtra", "Karnataka", "DELHI", "Tamil Nadu", "Gujarat", "West Bengal"]


def _amazon_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    mostly = k % 19 == 7  # 7 of 11 post-drop cells empty → row filtered

    def n(c):
        return F.when(mostly, F.lit(None)).otherwise(c)

    v4 = (1000 + (k % 9000)).cast("string")  # 4-digit magnitude
    amount = F.when(mostly | (k % 17 == 5), F.lit(None)).otherwise(
        F.concat(
            F.lit("$"), F.substring(v4, 1, 1), F.lit(","), F.substring(v4, 2, 3),
            F.lit("."), F.lpad((k % 100).cast("string"), 2, "0"),
        )
    )
    status = (
        F.when(k % 5 == 0, F.lit("Shipped"))
        .when(k % 5 == 1, F.lit("Cancelled"))
        .when(k % 5 == 2, F.lit("SHIPPED"))
        .when(k % 5 == 3, F.lit("Pending"))
        .otherwise(F.lit("Delivered to buyer"))
    )
    courier = (
        F.when(k % 4 == 0, F.lit("On the Way"))
        .when(k % 4 == 1, F.lit("Shipped"))
        .when(k % 4 == 2, F.lit("NA"))  # NA token → NULL post-transform
        .otherwise(F.lit("Delivered"))
    )
    state = F.when(k % 6 == 0, F.lit(_STATES[0]))
    for i, s in enumerate(_STATES[1:], start=1):
        state = state.when(k % 6 == i, F.lit(s))
    state = state.otherwise(F.lit(None))

    base = o.filter(k % 3 == 0).select(
        k.cast("string").alias("index"),
        F.when(k % 50 == 0, F.concat(F.lit("ORD-"), (k - 3).cast("string")))
        .otherwise(F.concat(F.lit("ORD-"), k.cast("string")))
        .alias("Order ID"),
        n(F.date_format("o_orderdate", "MM/dd/yyyy")).alias("Date"),
        n(status).alias("Status"),
        F.when(k % 2 == 0, F.lit("Amazon")).otherwise(F.lit("Merchant")).alias("Fulfilment"),
        n(courier).alias("Courier Status"),
        (1 + k % 7).cast("string").alias("Qty"),
        amount.alias("Amount"),
        n(F.concat(F.lit("City "), (k % 50).cast("string"))).alias("ship-city"),
        n(state).alias("ship-state"),
        n(F.when(k % 2 == 0, F.lit("True")).otherwise(F.lit("False"))).alias("B2B"),
        F.concat(F.lit("SKU"), (k % 200).cast("string")).alias("SKU"),
        F.lit("INR").alias("currency"),          # dropped (op 7)
        F.lit(None).cast("string").alias("Unnamed: 22"),  # dropped (op 7)
        k.alias("__k"),
    )
    dups = base.filter(F.col("__k") % 23 == 1).withColumn(
        "index", F.concat(F.lit("d"), F.col("index"))
    )
    return (
        base.withColumn("__ord", F.col("__k") * 2)
        .unionByName(dups.withColumn("__ord", F.col("__k") * 2 + 1))
        .drop("__k")
    )


def _run_amazon(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    path = _raw_report(spark, sf_dir, "amazon_sale", _amazon_fixture)
    raw = read_csv_with_encoding_fallback(spark, path)
    return clean_amazon_sale(raw)


def q_pipeline_amazon_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """clean_amazon_sale end-to-end: drop noisy cols → lower/trim →
    rename → dedup → mostly-null filter → transform → critical dropna →
    order_id conflict split; unique-key side."""
    clean, _ = _run_amazon(spark, sf_dir)
    return clean


def q_pipeline_amazon_flagged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same chain; the version/audit side (every row of any order_id
    occurring more than once — reference amazon_sale_version)."""
    _, flagged = _run_amazon(spark, sf_dir)
    return flagged


def q_pipeline_jdbc_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's FULL production flow executed against a REAL
    database: raw CSV fixture → clean_amazon_sale (pg.py:216-296) →
    typed CREATE TABLE + idempotent DO-NOTHING upsert on
    (order_id, date) into embedded Derby (pg.py:450-533, 544-547).
    The same batch loads TWICE (README:119-123's duplicate-Lambda
    re-delivery); the table must equal ONE clean pass — oracle =
    the pipeline_amazon_clean oracle, read back through JDBC."""
    from kaggle_ecommerce_etl_spark.sinks.jdbc import (
        DERBY_DRIVER,
        derby_memory_url,
        write_upsert_jdbc,
    )

    clean, _ = _run_amazon(spark, sf_dir)
    url = derby_memory_url("pjl_" + _fixture_tag("pjl:v1", sf_dir, "orders"))
    props = {"driver": DERBY_DRIVER}
    # NO createTableColumnTypes: several string columns carry NULLs,
    # and Spark's DerbyDialect binds those as setNull(CLOB) — Derby
    # rejects that against VARCHAR columns, so the dialect's default
    # CLOB mapping must own the string columns (see jdbc_column_types;
    # Postgres TEXT in production has no such restriction)
    for _ in range(2):  # re-delivery: second pass must append zero rows
        write_upsert_jdbc(
            clean, url, "amazon_sale", ["order_id", "date"],
            properties=props,
        )
    return spark.read.jdbc(url, "amazon_sale", properties=props)


def _oracle_amazon(op: str) -> str:
    return f"""
WITH src AS (
  SELECT o_orderkey AS k, o_orderdate AS d
  FROM orders
  WHERE o_orderkey % 3 = 0 AND o_orderkey % 19 <> 7 AND o_orderkey % 17 <> 5
),
crit AS (
  SELECT CASE WHEN k % 50 = 0 THEN 'ORD-' || CAST(k - 3 AS VARCHAR)
              ELSE 'ORD-' || CAST(k AS VARCHAR) END AS order_id,
         strftime(d, '%Y-%m-%d') AS date,
         CASE CAST(k % 5 AS INT) WHEN 0 THEN 'shipped' WHEN 1 THEN 'cancelled'
              WHEN 2 THEN 'shipped' WHEN 3 THEN 'pending'
              ELSE 'delivered to buyer' END AS status,
         CASE WHEN k % 2 = 0 THEN 'amazon' ELSE 'merchant' END AS fulfillment,
         CASE CAST(k % 4 AS INT) WHEN 0 THEN 'on the way' WHEN 1 THEN 'shipped'
              WHEN 2 THEN NULL ELSE 'delivered' END AS courier_status,
         round(CAST(CAST(1 + k % 7 AS VARCHAR) AS DOUBLE), 2) AS quantity,
         round(CAST(CAST(1000 + k % 9000 AS VARCHAR) || '.' ||
                    lpad(CAST(k % 100 AS VARCHAR), 2, '0') AS DOUBLE), 2) AS amount,
         'city ' || CAST(k % 50 AS VARCHAR) AS ship_city,
         CASE CAST(k % 6 AS INT) WHEN 0 THEN 'maharashtra' WHEN 1 THEN 'karnataka'
              WHEN 2 THEN 'delhi' WHEN 3 THEN 'tamil nadu' WHEN 4 THEN 'gujarat'
              ELSE 'west bengal' END AS ship_state,
         CASE WHEN k % 2 = 0 THEN 'true' ELSE 'false' END AS b2b,
         'SKU' || CAST(k % 200 AS VARCHAR) AS sku
  FROM src
),
counted AS (SELECT *, count(*) OVER (PARTITION BY order_id) AS c FROM crit)
SELECT order_id, date, status, fulfillment, courier_status, quantity, amount,
       ship_city, ship_state, b2b, sku
FROM counted WHERE c {op} 1
"""


# --------------------------------------------------------------------------
# ops 35 + 37c — International pipeline w/ embedded-header split
# (reference pg.py:337-421, split at 364-413)
# --------------------------------------------------------------------------

_MONTH_SPELLINGS = [
    "jan", "FEB", "Mar", "apr", "MAY", "jun",
    "JUL", "aug", "sep", "OCT", "nov", "DEC",
]
_INTL_HEADERS = [
    "index", "CUSTOMER", "DATE", "Months", "Style", "SKU",
    "PCS", "RATE", "GROSS AMT", "Size", "Stock",
]


def _intl_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")

    months = F.when(k % 13 == 1, F.lit("NA"))
    for i, sp in enumerate(_MONTH_SPELLINGS):
        months = months.when((k % 13 != 1) & (k % 12 == i), F.lit(sp))
    months = months.otherwise(F.lit(None))

    v4 = (1000 + (k % 9000)).cast("string")
    gross = F.concat(
        F.lit("$"), F.substring(v4, 1, 1), F.lit(","), F.substring(v4, 2, 3),
        F.lit("."), F.lpad((k % 100).cast("string"), 2, "0"),
    )
    size = (
        F.when(k % 5 == 0, F.lit("s")).when(k % 5 == 1, F.lit("M"))
        .when(k % 5 == 2, F.lit("l")).when(k % 5 == 3, F.lit("XL"))
        .otherwise(F.lit("xxl"))
    )
    stock_p1 = (
        F.when(k % 3 == 0, F.lit("In Stock"))
        .when(k % 3 == 1, F.lit("Low"))
        .otherwise(F.lit("Out of stock"))
    )
    is_part2 = k % 10 == 0

    rows = o.filter(k % 5 == 0).select(
        k.cast("string").alias("index"),
        F.concat(F.lit("Cust-"), k.cast("string")).alias("CUSTOMER"),
        F.date_format("o_orderdate", "MM/dd/yyyy").alias("DATE"),
        months.alias("Months"),
        F.concat(F.lit("St-"), (k % 40).cast("string")).alias("Style"),
        F.concat(F.lit("intl-"), k.cast("string")).alias("SKU"),
        (1 + k % 9).cast("string").alias("PCS"),
        F.concat(F.lit("R-"), (k % 20).cast("string")).alias("RATE"),
        gross.alias("GROSS AMT"),
        size.alias("Size"),
        F.when(is_part2, F.lit(None)).otherwise(stock_p1).alias("Stock"),
        # part1 first (ordinals k*2), embedded header at 10^15, part2 after
        F.when(is_part2, k + F.lit(10**15) + 1).otherwise(k * 2).alias("__ord"),
        k.alias("__k"),
    )
    # exact duplicates INCLUDING index: the intl pipeline dedups BEFORE
    # dropping index (pg.py:344 precedes 350-353), so only fully
    # identical rows collapse
    dups = rows.filter(F.col("__k") % 20 == 15).withColumn(
        "__ord", F.col("__ord") + 1
    )
    header_vals = [
        "idx", "customer", "date", "months", "style", "sku",
        "pcs", "rate", "gross amt", "size", "stock",
    ]
    header = spark.createDataFrame(
        [tuple(header_vals) + (10**15, -1)], rows.schema
    )
    return rows.unionByName(dups).unionByName(header).drop("__k")


def q_pipeline_international(spark: SparkSession, sf_dir: str) -> DataFrame:
    """clean_international_sale end-to-end: order-preserving read →
    keep-first dedup → mostly-null filter → drop/rename → embedded-
    header row-group split (op 35) → per-part transform+standardize →
    align → part1/part2 union. loaded_at (current_timestamp) dropped
    for oracle determinism."""
    path = _raw_report(spark, sf_dir, "international_sale", _intl_fixture)
    raw = with_file_order(read_csv_with_encoding_fallback(spark, path))
    return clean_international_sale(raw).drop("loaded_at")


_INTL_MONTH_SQL = " ".join(
    f"WHEN {i} THEN '{full}'"
    for i, full in enumerate(
        ["January", "February", "March", "April", "May", "June", "July",
         "August", "September", "October", "November", "December"]
    )
)

ORACLE_PIPELINE_INTL = f"""
WITH src AS (
  SELECT o_orderkey AS k, o_orderdate AS d FROM orders WHERE o_orderkey % 5 = 0
),
vals AS (
  SELECT k,
         'CUST-' || CAST(k AS VARCHAR) AS customer,
         strftime(d, '%Y-%m-%d') AS date,
         CASE WHEN k % 13 = 1 THEN NULL
              ELSE CASE CAST(k % 12 AS INT) {_INTL_MONTH_SQL} END END AS months,
         'ST-' || CAST(k % 40 AS VARCHAR) AS style,
         'INTL-' || CAST(k AS VARCHAR) AS sku,
         round(CAST(CAST(1 + k % 9 AS VARCHAR) AS DOUBLE), 2) AS pcs,
         'R-' || CAST(k % 20 AS VARCHAR) AS rate,
         round(CAST(CAST(1000 + k % 9000 AS VARCHAR) || '.' ||
                    lpad(CAST(k % 100 AS VARCHAR), 2, '0') AS DOUBLE), 2) AS gross_amount,
         CASE CAST(k % 5 AS INT) WHEN 0 THEN 'S' WHEN 1 THEN 'M' WHEN 2 THEN 'L'
              WHEN 3 THEN 'XL' ELSE 'XXL' END AS size
  FROM src
)
SELECT customer, date, months, style, sku, pcs, rate, gross_amount, size,
       CASE CAST(k % 3 AS INT) WHEN 0 THEN 'In Stock' WHEN 1 THEN 'Low'
            ELSE 'Out of stock' END AS stock,
       'part1' AS data_source
FROM vals WHERE k % 10 <> 0
UNION ALL
SELECT customer, date, months, style, sku, pcs, rate, gross_amount, size,
       CAST(NULL AS VARCHAR) AS stock, 'part2' AS data_source
FROM vals WHERE k % 10 = 0
"""


# --------------------------------------------------------------------------
# ops 3 + 5 + 16 — upsert round-trip (idempotent DO-NOTHING sink)
# --------------------------------------------------------------------------

def q_upsert_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Writes the SAME batch twice through write_upsert into a fresh
    parquet-backed table and returns the final state. Green iff the
    upsert is idempotent across batches (second append = 0 rows,
    pg.py:544-547 ON CONFLICT DO NOTHING) AND dedups duplicate keys
    WITHIN a batch (rows sharing uk are constructed identical, so the
    kept-row choice is invisible to the oracle)."""
    path = _format_fixture(sf_dir, "upsert_table", "orders")
    shutil.rmtree(path, ignore_errors=True)

    o = _t(spark, sf_dir, "orders")
    uk = (F.col("o_orderkey") % 211).cast("long")
    batch = o.select(
        uk.alias("uk"),
        F.concat(F.lit("U-"), uk.cast("string")).alias("name"),
        (uk * 3).cast("long").alias("val"),
    )

    def append(df: DataFrame) -> None:
        df.write.mode("append").parquet(path)

    write_upsert(batch, None, ["uk"], append)                      # first load
    write_upsert(batch, spark.read.parquet(path), ["uk"], append)  # re-delivery
    return spark.read.parquet(path)


ORACLE_UPSERT = """
SELECT DISTINCT CAST(o_orderkey % 211 AS BIGINT) AS uk,
       'U-' || CAST(o_orderkey % 211 AS VARCHAR) AS name,
       CAST((o_orderkey % 211) * 3 AS BIGINT) AS val
FROM orders
"""


# --------------------------------------------------------------------------
# ops 3 + 33 + 34 — CSV sink round-trip w/ timestamped naming
# --------------------------------------------------------------------------

_FIXED_TS = "2024-01-02 03:04:05"


def q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """write_csv_file under a timestamped name (op 34, fixed timestamp
    for determinism) → read back through the encoding-fallback scan
    (op 1) → extract the filename timestamp (op 33, the corrected
    regex) → cast back. Proves the sink→source loop is lossless."""
    import datetime as dt

    fixed = dt.datetime(2024, 1, 2, 3, 4, 5)
    name = timestamped_name("sale_report", fixed) + ".csv"
    path = _format_fixture(sf_dir, f"cleaned/{name}", "orders")

    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    out = o.filter(k % 100 == 0).select(
        "o_orderkey", "o_orderstatus", F.round("o_totalprice", 2).alias("total"),
    )
    write_csv_file(out, path)

    back = with_filename_timestamp(read_csv_with_encoding_fallback(spark, path))
    return back.select(
        F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
        "o_orderstatus",
        F.col("total").cast("double").alias("total"),
        F.col("_file_ts").alias("file_ts"),
    )


ORACLE_CSV_ROUNDTRIP = f"""
SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS total,
       TIMESTAMP '{_FIXED_TS}' AS file_ts
FROM orders WHERE o_orderkey % 100 = 0
"""


# --------------------------------------------------------------------------
# op 4 — incremental file-listing source (reference pg.py:74-121)
# --------------------------------------------------------------------------

def q_incremental_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-window incremental scan: two raw files land with different
    mtimes; only the one inside the now-Δ window is read. The pruning
    happens at FILE-LISTING time via the scan's ``modifiedAfter``
    option (no data read for stale files — at 100 TB the listing prune
    IS the operator). Stale file gets a year-2000 mtime; the fresh
    file's mtime is its write time, always inside the 10-min window."""
    import time

    base = _format_fixture(sf_dir, "incremental", "orders")
    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    proj = ["o_orderkey", "o_orderstatus", "o_orderpriority"]
    old_p, new_p = f"{base}/old_batch.csv", f"{base}/new_batch.csv"
    write_csv_file(o.filter(k % 100 == 1).select(*proj), old_p)
    write_csv_file(o.filter(k % 100 == 2).select(*proj), new_p)
    os.utime(old_p, (946684800, 946684800))  # 2000-01-01: outside any window
    os.utime(new_p, (time.time(), time.time()))

    fresh = read_recent_csv(spark, base, minutes=10)
    return fresh.select(
        F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
        "o_orderstatus",
        "o_orderpriority",
    )


ORACLE_INCREMENTAL = """
SELECT o_orderkey, o_orderstatus, o_orderpriority
FROM orders WHERE o_orderkey % 100 = 2
"""


# --------------------------------------------------------------------------
# op 6 — DDL / catalog table round-trip (reference pg.py:450-533)
# --------------------------------------------------------------------------

def q_ddl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDL → catalog table → insert → read back. create_tables emits the
    reference's CREATE TABLE IF NOT EXISTS (pg.py:450-533) as a
    parquet-backed catalog table in a query-private database (fully
    qualified names — the shared session's current database is never
    touched); an INSERT OVERWRITE makes re-runs idempotent. Green iff
    the DDL schema, the writer, and the catalog read agree end-to-end.
    loaded_at is pinned to a literal so the oracle can reproduce it."""
    db = "graft_wh_" + _fixture_tag("ddl", sf_dir, "orders")
    loc = _format_fixture(sf_dir, "warehouse", "orders")
    # a FRESH session's catalog doesn't know the table, but the managed
    # location persists on disk → LOCATION_ALREADY_EXISTS on re-create.
    # Reset both sides so the query is idempotent across sessions.
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    shutil.rmtree(loc, ignore_errors=True)
    create_tables(spark, ["sale_report"], database=db, location=loc)

    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    batch = o.filter(k % 50 == 0).select(
        F.concat(F.lit("SK-"), k.cast("string")).alias("sku_code"),
        F.concat(F.lit("D"), (k % 97).cast("string")).alias("design_no"),
        (k % 500).cast("int").alias("stock"),
        F.col("o_orderpriority").alias("category"),
        F.when(k % 2 == 0, "M").otherwise("L").alias("size"),
        F.when(k % 3 == 0, "Red").otherwise("Blue").alias("color"),
        F.lit(_FIXED_TS).cast("timestamp").alias("loaded_at"),
    )
    batch.write.insertInto(f"{db}.sale_report", overwrite=True)
    return spark.table(f"{db}.sale_report")


ORACLE_DDL_ROUNDTRIP = f"""
SELECT 'SK-' || CAST(o_orderkey AS VARCHAR) AS sku_code,
       'D' || CAST(o_orderkey % 97 AS VARCHAR) AS design_no,
       CAST(o_orderkey % 500 AS INT) AS stock,
       o_orderpriority AS category,
       CASE WHEN o_orderkey % 2 = 0 THEN 'M' ELSE 'L' END AS size,
       CASE WHEN o_orderkey % 3 = 0 THEN 'Red' ELSE 'Blue' END AS color,
       TIMESTAMP '{_FIXED_TS}' AS loaded_at
FROM orders WHERE o_orderkey % 50 = 0
"""


# --------------------------------------------------------------------------
# op 13 — literal / audit lineage columns (reference pg.py:268,332,418)
# --------------------------------------------------------------------------

def q_audit_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lineage tagging through the real operator. ``loaded_at`` is
    ``current_timestamp()`` — wall-clock, un-oracle-able by value — so
    the projection checks its CONTRACT (set on every row) as a boolean
    while the deterministic ``data_source`` tag is value-checked."""
    o = _t(spark, sf_dir, "orders")
    base = o.filter(F.col("o_orderkey") % 40 == 0).select(
        "o_orderkey", "o_orderstatus"
    )
    tagged = add_audit_columns(base, data_source="amazon_sale")
    return tagged.select(
        "o_orderkey",
        "o_orderstatus",
        "data_source",
        F.col("loaded_at").isNotNull().alias("loaded_at_set"),
    )


ORACLE_AUDIT = """
SELECT o_orderkey, o_orderstatus, 'amazon_sale' AS data_source,
       TRUE AS loaded_at_set
FROM orders WHERE o_orderkey % 40 = 0
"""


# --------------------------------------------------------------------------
# op 19 — exact describe() twin (count/mean/stddev/min/quartiles/max)
# --------------------------------------------------------------------------

def q_summary_stats_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The oracle-checkable half of op 19: same stats as summary_stats
    but with EXACT percentiles, long format. (summary_stats stays
    registered rows-only as the approx 100 TB path.)"""
    li = _t(spark, sf_dir, "lineitem")
    return summary_stats_exact(
        li, ["l_quantity", "l_extendedprice", "l_discount"]
    )


ORACLE_SUMMARY_EXACT = """
WITH long AS (
  SELECT 'l_quantity' AS col_name, CAST(l_quantity AS DOUBLE) AS value FROM lineitem
  UNION ALL
  SELECT 'l_extendedprice', CAST(l_extendedprice AS DOUBLE) FROM lineitem
  UNION ALL
  SELECT 'l_discount', CAST(l_discount AS DOUBLE) FROM lineitem
)
SELECT col_name,
       COUNT(value) AS cnt,
       round(AVG(value), 6) AS mean,
       round(stddev_samp(value), 6) AS stddev,
       round(MIN(value), 6) AS min_v,
       round(quantile_cont(value, 0.25), 6) AS p25,
       round(quantile_cont(value, 0.50), 6) AS p50,
       round(quantile_cont(value, 0.75), 6) AS p75,
       round(MAX(value), 6) AS max_v
FROM long GROUP BY col_name
"""


# --------------------------------------------------------------------------
# schema drift — mergeSchema union read over evolving batches
# --------------------------------------------------------------------------

def q_schema_drift_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two parquet batches with DIFFERENT schemas (a column added, a
    column dropped — the schema-drift the reference's per-file pandas
    cleaning absorbs by hand) read back as ONE DataFrame via
    ``mergeSchema``: footer-level union of schemas, absent columns
    NULL-filled, no rewrite of old batches. At 100 TB this is how a
    years-old landing zone keeps reading after the producer evolves."""
    base = _format_fixture(sf_dir, "drift", "orders")
    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    b1 = o.filter(k % 100 == 3).select(
        "o_orderkey", "o_orderstatus", F.lit("v1").alias("batch")
    )
    b2 = o.filter(k % 100 == 4).select(
        "o_orderkey",
        F.round("o_totalprice", 2).alias("total"),  # added column
        F.lit("v2").alias("batch"),                 # o_orderstatus dropped
    )
    b1.write.mode("overwrite").parquet(f"{base}/b1")
    b2.write.mode("overwrite").parquet(f"{base}/b2")
    merged = spark.read.option("mergeSchema", True).parquet(
        f"{base}/b1", f"{base}/b2"
    )
    return merged.select("o_orderkey", "o_orderstatus", "total", "batch")


ORACLE_SCHEMA_DRIFT = """
SELECT o_orderkey, o_orderstatus, CAST(NULL AS DOUBLE) AS total, 'v1' AS batch
FROM orders WHERE o_orderkey % 100 = 3
UNION ALL
SELECT o_orderkey, CAST(NULL AS VARCHAR), round(o_totalprice, 2), 'v2'
FROM orders WHERE o_orderkey % 100 = 4
"""


# --------------------------------------------------------------------------
# op 19 — categorical describe (unique/top/freq, reference pg.py:39-40)
# --------------------------------------------------------------------------

def q_categorical_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op 19 categorical half: exact unique/top/freq per column with
    a deterministic tiebreak (describe(include='all') parity)."""
    o = _t(spark, sf_dir, "orders")
    return categorical_profile(o, ["o_orderpriority", "o_orderstatus"])


ORACLE_CATEGORICAL = """
WITH vals AS (
  SELECT 'o_orderpriority' AS col_name, o_orderpriority AS value
  FROM orders WHERE o_orderpriority IS NOT NULL
  UNION ALL
  SELECT 'o_orderstatus', o_orderstatus FROM orders WHERE o_orderstatus IS NOT NULL
),
counts AS (SELECT col_name, value, count(*) AS cnt FROM vals GROUP BY 1, 2),
ranked AS (
  SELECT col_name, value, cnt,
         row_number() OVER (PARTITION BY col_name ORDER BY cnt DESC, value ASC) AS rn
  FROM counts
),
uniq AS (SELECT col_name, count(*) AS n_unique FROM counts GROUP BY 1)
SELECT u.col_name, u.n_unique, r.value AS top, r.cnt AS top_freq
FROM uniq u JOIN ranked r ON u.col_name = r.col_name AND r.rn = 1
"""
