"""Query registry: every implemented operator exposed as a
``(spark, sf_dir) -> DataFrame`` callable plus a DuckDB oracle SQL twin.

This is the driver-facing correctness surface (__spark_entry__.py).
Each query maps one SURVEY.md §2 operator (or a north-star extension)
onto the driver's TPC-H-ish testdata. Noise (NA tokens, currency
strings, messy dates) is CONSTRUCTED deterministically from integer key
columns with identical CASE logic on both the Spark and SQL sides, so
value hashes must match bit-for-bit.

``REGISTRY`` at the end of this module lists every query: this
module's and those of the wave modules (``queries_pipeline``,
``queries_ext`` … ``queries_ext4``). The wave modules import only the
shared helpers in ``queries_common``, so the import graph is one-way.

Determinism rules used throughout:
- every computed double is round()ed (2-6 digits depending on magnitude)
- aggregates over doubles are rounded wide enough to absorb summation-
  order ULP differences
- every rank/top-k has a total-order tiebreak
- aliases match the oracle column names exactly
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kaggle_ecommerce_etl_spark import queries_ext as qx
from kaggle_ecommerce_etl_spark import queries_ext2 as q2
from kaggle_ecommerce_etl_spark import queries_ext3 as q3
from kaggle_ecommerce_etl_spark import queries_ext4 as q4
from kaggle_ecommerce_etl_spark import queries_pipeline as qp
from kaggle_ecommerce_etl_spark.functions.text import (
    fingerprint_expr,
    lang_id_expr,
    quality_score_expr,
    token_count_expr,
)
from kaggle_ecommerce_etl_spark.normalize.casts import (
    date_to_iso,
    normalize_month_expr_datetime,
    normalize_month_expr_prefix,
    tolerant_numeric,
)
from kaggle_ecommerce_etl_spark.normalize.columns import normalize_column_names
from kaggle_ecommerce_etl_spark.normalize.profile import (
    drop_all_null_columns,
    null_counts,
)
from kaggle_ecommerce_etl_spark.normalize.tokens import (
    lower_trim_columns,
    na_token_to_null,
    standardize_text_columns,
)
from kaggle_ecommerce_etl_spark.normalize.transform import transform
from kaggle_ecommerce_etl_spark.operators.dedup import (
    conflict_split,
    dedup_full_rows,
)
from kaggle_ecommerce_etl_spark.operators.filters import (
    align_columns,
    drop_missing_critical,
    filter_mostly_null_rows,
)
from kaggle_ecommerce_etl_spark.queries_common import (
    ORACLE_SESSIONIZE,
    _SHINGLE_SQL,
    _band_sql,
    _dsum,
    _mh_sql,
    _oracle_conflict,
    _sw_list,
    _t,
)
from kaggle_ecommerce_etl_spark.util import outgrows_broadcast

QueryFn = Callable[[SparkSession, str], DataFrame]


def _davg(col: Column | str, scale: int = 4) -> Column:
    """AVG via the exact decimal sum: both engines divide the SAME
    exact numerator by the same count, so the double division result is
    bit-identical. SQL twin:
    ``round(CAST(sum(CAST(x AS DECIMAL(23,8))) AS DOUBLE) / count(x), s)``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(
        F.sum(c.cast("decimal(23,8)")).cast("double") / F.count(c), scale
    )


# --------------------------------------------------------------------------
# flagship / relational core
# --------------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan+filter+groupBy+8 aggs. One shuffle with
    map-side partial agg; filter pushes to the parquet scan.

    r10: the map-side partial agg (8 DECIMAL(23,8) accumulators/row)
    runs inside the SCAN task, and a single-row-group parquet file is
    one task — the whole aggregation serialized on one core.
    ensure_min_partitions after the pushed filter + a 6-column
    projection parallelizes it (measured sf0.1 min-of-3: 1.56 → 0.98 s,
    identical rows); no-op at scale where the input arrives as many
    files."""
    from kaggle_ecommerce_etl_spark.util import ensure_min_partitions

    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    filtered = li.filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    ).select(
        "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
        "l_discount", "l_tax",
    )
    return (
        ensure_min_partitions(filtered)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum("l_quantity").alias("sum_qty"),
            _dsum("l_extendedprice").alias("sum_base_price"),
            _dsum(disc_price).alias("sum_disc_price"),
            _dsum(charge).alias("sum_charge"),
            _davg("l_quantity").alias("avg_qty"),
            _davg("l_extendedprice").alias("avg_price"),
            _davg("l_discount", 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


ORACLE_PRICING = """
SELECT l_returnflag, l_linestatus,
       CAST(round(sum(CAST(l_quantity AS DECIMAL(23,8))), 2) AS DOUBLE) AS sum_qty,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(23,8))), 2) AS DOUBLE) AS sum_base_price,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(23,8))), 2) AS DOUBLE) AS sum_disc_price,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(23,8))), 2) AS DOUBLE) AS sum_charge,
       round(CAST(sum(CAST(l_quantity AS DECIMAL(23,8))) AS DOUBLE) / count(l_quantity), 4) AS avg_qty,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(23,8))) AS DOUBLE) / count(l_extendedprice), 4) AS avg_price,
       round(CAST(sum(CAST(l_discount AS DECIMAL(23,8))) AS DOUBLE) / count(l_discount), 6) AS avg_disc,
       count(*)                                                         AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q_revenue_by_nation(
    spark: SparkSession, sf_dir: str, route: str | None = None
) -> DataFrame:
    """TPC-H Q5 shape: 5-way join + agg — SIZE-GATED between two
    row-identical join orders (r11, closing VERDICT r10 next-round #1).

    The r10 three-scale A/B proved neither shape dominates:

    - "late" (dims joined last, region filter after the fact joins):
      while ORDERS still auto-broadcasts, the whole query is a
      broadcast-chained pipeline with ZERO fact shuffles — sf1 (10×)
      measured 2.5–3.1 s vs 4.3–6.0 s reordered, because the reorder's
      customer⋈nation inner join inflates Catalyst's size-only
      estimate past the broadcast threshold and forces a SortMergeJoin.
    - "early" (dim-filter-first: derive the 5-nation ASIA dim,
      semi-reduce supplier/customer through it, prune lineitem via the
      broadcast supplier join BEFORE its first exchange): once orders
      outgrows the broadcast threshold the late shape sort-merge-joins
      100 % of lineitem⋈orders and discards ~4/5 AFTER the shuffle,
      while the early shape shuffles only ASIA's share — measured
      2.7× at 100× replicas (SCALE_CURVE_r10_OPT 6.08 s vs _OPT2
      16.49 s).

    The crossover is exactly "does orders still broadcast", so the
    route is gated on the SAME statistic the planner uses for that
    decision (Catalyst's scan size estimate vs the session broadcast
    threshold — file listing only, no job, deterministic per input).
    Both routes are proven row-identical (inner joins commute; the
    dim pre-filters are implied conjuncts of the late filter) — pinned
    by tests/test_queries_ext.py::test_q5_q7_routes_row_identical and
    the oracle at sf0.01/sf0.1 on both forced routes. ``route`` forces
    a shape for tests/measurement ("late"/"early")."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region")
    if route is None:
        route = "early" if outgrows_broadcast(orders) else "late"
    if route == "early":
        asia_nat = nat.join(
            F.broadcast(reg.filter(F.col("r_name") == "ASIA")),
            nat.n_regionkey == reg.r_regionkey,
        ).select("n_nationkey", "n_name")
        supp_asia = supp.join(
            F.broadcast(asia_nat), supp.s_nationkey == F.col("n_nationkey")
        ).select("s_suppkey", "s_nationkey", "n_name")
        cust_asia = cust.join(
            F.broadcast(asia_nat.select("n_nationkey")),
            cust.c_nationkey == F.col("n_nationkey"),
        ).select("c_custkey", "c_nationkey")
        # no broadcast HINT on the filtered supplier/customer sides:
        # tiny here (auto-broadcast fires), but at 100 TB a region's
        # customer subset outgrows the 8 GB broadcast cap — the
        # planner/AQE picks the strategy from actual sizes.
        joined = (
            li.join(supp_asia, li.l_suppkey == supp_asia.s_suppkey)
            .join(orders, li.l_orderkey == orders.o_orderkey)
            .join(cust_asia, orders.o_custkey == cust_asia.c_custkey)
            .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        )
    else:
        joined = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(cust, orders.o_custkey == cust.c_custkey)
            .join(supp, li.l_suppkey == supp.s_suppkey)
            .filter(cust.c_nationkey == supp.s_nationkey)
            .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
            .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
            .filter(reg.r_name == "ASIA")
        )
    return (
        joined.groupBy("n_name")
        .agg(
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


ORACLE_REVENUE_BY_NATION = """
SELECT n_name,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(23,8))), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders    ON l_orderkey = o_orderkey
JOIN customer  ON o_custkey = c_custkey
JOIN supplier  ON l_suppkey = s_suppkey
JOIN nation    ON s_nationkey = n_nationkey
JOIN region    ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA' AND c_nationkey = s_nationkey
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 parts by retail price per brand (window row_number)."""
    part = _t(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(
        F.col("p_retailprice").desc(), F.col("p_partkey").asc()
    )
    return (
        part.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("p_brand", "p_partkey", "p_retailprice", "rank")
    )


ORACLE_TOPK = """
SELECT p_brand, p_partkey, p_retailprice, CAST(rank AS INT) AS rank
FROM (
  SELECT p_brand, p_partkey, p_retailprice,
         ROW_NUMBER() OVER (PARTITION BY p_brand
                            ORDER BY p_retailprice DESC, p_partkey) AS rank
  FROM part
) WHERE rank <= 3
"""


# --------------------------------------------------------------------------
# dedup / conflict split (SURVEY §2c ops 14-16)
# --------------------------------------------------------------------------

def q_conflict_split_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op 15 clean side: order_ids occurring exactly once (window count)."""
    clean, _ = conflict_split(_t(spark, sf_dir, "lineitem"), ["l_orderkey"])
    return clean


def q_conflict_split_flagged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op 15 flagged side: every row of a >1-occurrence order_id."""
    _, flagged = conflict_split(_t(spark, sf_dir, "lineitem"), ["l_orderkey"])
    return flagged


def q_dedup_full_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op 14: full-row dropDuplicates over a projected relation."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", F.year("l_shipdate").alias("ship_year")
    )
    return dedup_full_rows(li)


ORACLE_DEDUP_FULL = """
SELECT DISTINCT l_returnflag, l_linestatus,
       CAST(year(l_shipdate) AS INT) AS ship_year
FROM lineitem
"""


def q_distinct_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT over a two-column projection."""
    return dedup_full_rows(
        _t(spark, sf_dir, "customer").select("c_nationkey", "c_mktsegment")
    )


ORACLE_DISTINCT_PROJ = "SELECT DISTINCT c_nationkey, c_mktsegment FROM customer"


# --------------------------------------------------------------------------
# column normalization / projection (ops 7-9, 12)
# --------------------------------------------------------------------------

def q_colname_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    r"""Op 9: lower/strip/[\s-]+->_ header rule applied to every column."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("L  OrderKey"),
        F.col("l_linenumber").alias(" Line-Number "),
        F.col("l_quantity").alias("QUANTITY"),
    )
    return normalize_column_names(li)


ORACLE_COLNAME = """
SELECT l_orderkey, l_linenumber AS line_number, l_quantity AS quantity
FROM lineitem
"""


def q_align_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op 12: projection onto a target schema, missing columns as typed NULLs."""
    return align_columns(
        _t(spark, sf_dir, "supplier"),
        [
            ("s_suppkey", "bigint"),
            ("s_name", "string"),
            ("region", "string"),  # absent → NULL fill
            ("s_acctbal", "double"),
        ],
    )


ORACLE_ALIGN = """
SELECT s_suppkey, s_name, CAST(NULL AS VARCHAR) AS region, s_acctbal
FROM supplier
"""


# --------------------------------------------------------------------------
# scalar normalization (ops 23-30) over constructed noise
# --------------------------------------------------------------------------

_NA_CASE_SQL = """
CASE CAST(o_orderkey % 13 AS INT)
  WHEN 0 THEN ' '   WHEN 1 THEN ''    WHEN 2 THEN 'NA'  WHEN 3 THEN 'na'
  WHEN 4 THEN 'n/a' WHEN 5 THEN 'N/A' WHEN 6 THEN 'n/A' WHEN 7 THEN 'N/a'
  WHEN 8 THEN 'null' WHEN 9 THEN 'Null' WHEN 10 THEN 'NULL'
  ELSE o_orderpriority END
"""


def _na_case_col() -> Column:
    m = F.col("o_orderkey") % 13
    tokens = [" ", "", "NA", "na", "n/a", "N/A", "n/A", "N/a", "null", "Null", "NULL"]
    expr = F.when(m == 0, F.lit(tokens[0]))
    for i, t in enumerate(tokens[1:], start=1):
        expr = expr.when(m == i, F.lit(t))
    return expr.otherwise(F.col("o_orderpriority"))


def q_na_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op 30: every NA-token spelling (and blank) becomes SQL NULL."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", _na_case_col().alias("raw")
    )
    return o.select("o_orderkey", na_token_to_null(F.col("raw")).alias("val"))


ORACLE_NA = f"""
SELECT o_orderkey,
       CASE WHEN trim(raw) IN ('NA','na','n/a','N/A','n/A','N/a','null','Null','NULL')
              OR trim(raw) = '' THEN NULL ELSE raw END AS val
FROM (SELECT o_orderkey, {_NA_CASE_SQL} AS raw FROM orders)
"""


_DEC_STR_SQL = (
    "CAST(l_partkey % 10000 AS VARCHAR) || '.' || CAST(10 + (l_suppkey % 89) AS VARCHAR)"
)


def _dec_str_col() -> Column:
    return F.concat(
        (F.col("l_partkey") % 10000).cast("string"),
        F.lit("."),
        (F.lit(10) + (F.col("l_suppkey") % 89)).cast("string"),
    )


def q_tolerant_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ops 26-27: noise strip + cast-or-NULL + round over synthesized messy numerics.

    r10: the per-row string synth + translate + try_cast is CPU-bound
    and ran inside the single-row-group scan task; a 4-column
    projection + ensure_min_partitions parallelizes it (sf0.1 min-of-3
    1.03 → 0.91 s, identical rows; no-op on multi-file inputs)."""
    from kaggle_ecommerce_etl_spark.util import ensure_min_partitions

    li = ensure_min_partitions(
        _t(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
        )
    )
    m = F.col("l_linenumber") % 4
    raw = (
        F.when(m == 0, F.concat(F.lit("$"), _dec_str_col()))
        .when(m == 1, F.concat(F.lit(" "), _dec_str_col(), F.lit(" ")))
        .when(m == 2, F.lit("n/a"))
        .otherwise(_dec_str_col())
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        tolerant_numeric(raw).alias("amount"),
    )


ORACLE_TOLERANT_NUMERIC = f"""
SELECT l_orderkey, l_linenumber,
       round(TRY_CAST(regexp_replace(raw, '[$,() \\t\\n\\r\\x0B\\f]', '', 'g') AS DOUBLE), 2) AS amount
FROM (
  SELECT l_orderkey, l_linenumber,
         CASE CAST(l_linenumber % 4 AS INT)
           WHEN 0 THEN '$' || {_DEC_STR_SQL}
           WHEN 1 THEN ' ' || {_DEC_STR_SQL} || ' '
           WHEN 2 THEN 'n/a'
           ELSE {_DEC_STR_SQL} END AS raw
  FROM lineitem
)
"""


def q_date_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op 28: tolerant multi-format date parse to ISO strings."""
    o = _t(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    m = F.col("o_orderkey") % 3
    raw = (
        F.when(m == 0, F.date_format(d, "MM/dd/yyyy"))
        .when(m == 1, F.date_format(d, "yyyy-MM-dd"))
        .otherwise(F.lit("not a date"))
    )
    return o.select("o_orderkey", date_to_iso(raw).alias("date_iso"))


ORACLE_DATE = """
SELECT o_orderkey,
       CASE WHEN o_orderkey % 3 = 2 THEN NULL
            ELSE strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') END AS date_iso
FROM orders
"""


def q_month_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month branch 1 (column contains datetime-parseable values)."""
    o = _t(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    m = F.col("o_orderkey") % 4
    raw = (
        F.when(m == 0, F.concat(F.date_format(d, "yyyy-MM"), F.lit("-01")))
        .when(m == 1, F.lit("jan"))
        .when(m == 2, F.lit("garbage"))
        .otherwise(F.date_format(d, "MMMM"))
    )
    return o.select(
        "o_orderkey", normalize_month_expr_datetime(raw).alias("month_name")
    )


ORACLE_MONTH_DT = """
SELECT o_orderkey,
       CASE WHEN o_orderkey % 4 = 0
            THEN monthname(CAST(o_orderdate AS DATE)) ELSE NULL END AS month_name
FROM orders
"""


def q_month_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month branch 2 (no datetime-parseable values → prefix lookup)."""
    o = _t(spark, sf_dir, "orders")
    m = F.col("o_orderkey") % 5
    raw = (
        F.when(m == 0, F.lit("jan"))
        .when(m == 1, F.lit("FEB "))
        .when(m == 2, F.lit("  mar"))
        .when(m == 3, F.lit("zzz"))
        .otherwise(F.lit("DECEMBER"))
    )
    return o.select(
        "o_orderkey", normalize_month_expr_prefix(raw).alias("month_name")
    )


ORACLE_MONTH_PREFIX = """
SELECT o_orderkey,
       CASE CAST(o_orderkey % 5 AS INT)
         WHEN 0 THEN 'January' WHEN 1 THEN 'February' WHEN 2 THEN 'March'
         WHEN 3 THEN NULL ELSE 'December' END AS month_name
FROM orders
"""


def q_text_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ops 23-24: trim+upper / trim+lower by column-name rule."""
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_name").alias("customer_name"),
        "c_mktsegment",
    )
    c = standardize_text_columns(c)  # hits customer_name (contains 'customer')
    return lower_trim_columns(c, ["c_mktsegment"])


ORACLE_TEXT_STD = """
SELECT c_custkey, upper(trim(c_name)) AS customer_name,
       lower(trim(c_mktsegment)) AS c_mktsegment
FROM customer
"""


# --------------------------------------------------------------------------
# row filters / profiling (ops 10-11, 18, 21, 31)
# --------------------------------------------------------------------------

_NOISE_SQL = """
SELECT l_orderkey, l_linenumber,
       CASE WHEN l_orderkey % 2 = 0 THEN NULL ELSE 'x' END AS a,
       CASE WHEN l_orderkey % 3 = 0 THEN NULL ELSE 'y' END AS b,
       CASE WHEN l_linenumber % 2 = 0 THEN NULL ELSE 'z' END AS c,
       'w' AS d
FROM lineitem
"""


def _noise_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.when(F.col("l_orderkey") % 2 == 0, F.lit(None)).otherwise(F.lit("x")).alias("a"),
        F.when(F.col("l_orderkey") % 3 == 0, F.lit(None)).otherwise(F.lit("y")).alias("b"),
        F.when(F.col("l_linenumber") % 2 == 0, F.lit(None)).otherwise(F.lit("z")).alias("c"),
        F.lit("w").alias("d"),
    )


def q_mostly_null_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op 10: keep rows with <50% NULL cells (pure expression)."""
    return filter_mostly_null_rows(_noise_df(spark, sf_dir), 0.5)


ORACLE_MOSTLY_NULL = f"""
SELECT * FROM ({_NOISE_SQL})
WHERE (CASE WHEN a IS NULL THEN 1 ELSE 0 END
     + CASE WHEN b IS NULL THEN 1 ELSE 0 END
     + CASE WHEN c IS NULL THEN 1 ELSE 0 END) <= 2
"""


def q_critical_dropna(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op 11: drop rows missing any present critical column."""
    return drop_missing_critical(_noise_df(spark, sf_dir), ["a", "c", "absent_col"])


ORACLE_CRITICAL = f"""
SELECT * FROM ({_NOISE_SQL}) WHERE a IS NOT NULL AND c IS NOT NULL
"""


def q_null_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op 18: per-column null counts in one aggregation."""
    return null_counts(_noise_df(spark, sf_dir))


ORACLE_NULL_COUNTS = f"""
SELECT CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS l_orderkey,
       CAST(sum(CASE WHEN l_linenumber IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS l_linenumber,
       CAST(sum(CASE WHEN a IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS a,
       CAST(sum(CASE WHEN b IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS b,
       CAST(sum(CASE WHEN c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS c,
       CAST(sum(CASE WHEN d IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS d
FROM ({_NOISE_SQL})
"""


def q_parse_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase profile→plan: 95%-numeric column is cast, 50% column
    stays string (reference's ≥90% gate)."""
    o = _t(spark, sf_dir, "orders")
    num_str = (F.col("o_orderkey") % 1000).cast("string")
    raw = o.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 20 == 0, F.lit("xx")).otherwise(num_str).alias("mostly_num"),
        F.when(F.col("o_orderkey") % 2 == 0, F.lit("yy")).otherwise(num_str).alias("half_num"),
    )
    return transform(raw)


ORACLE_PARSE_GATE = """
SELECT o_orderkey,
       CASE WHEN o_orderkey % 20 = 0 THEN NULL
            ELSE round(TRY_CAST(CAST(o_orderkey % 1000 AS VARCHAR) AS DOUBLE), 2)
       END AS mostly_num,
       CASE WHEN o_orderkey % 2 = 0 THEN 'yy'
            ELSE CAST(o_orderkey % 1000 AS VARCHAR) END AS half_num
FROM orders
"""


def q_drop_allnull_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op 31: data-dependent projection dropping all-NULL columns."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.lit(None).cast("string").alias("dead"),
        F.col("o_orderpriority").alias("alive"),
    )
    return drop_all_null_columns(o)


ORACLE_DROP_ALLNULL = "SELECT o_orderkey, o_orderpriority AS alive FROM orders"


# --------------------------------------------------------------------------
# streaming-shape (batch-equivalent) over events
# --------------------------------------------------------------------------

def q_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling-window counts/sums over events."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _dsum("value").alias("total"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "total",
        )
    )


ORACLE_TUMBLING = """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n,
       CAST(round(sum(CAST(value AS DECIMAL(23,8))), 2) AS DOUBLE) AS total
FROM events GROUP BY 1, 2
"""


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization via session_window (30 min gap)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
        )
    )


def q_events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction from the events props column."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("k"),
    )


ORACLE_JSON = """
SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
FROM events
"""


# --------------------------------------------------------------------------
# north-star: text analysis / dedup / similarity (documents, embeddings)
# --------------------------------------------------------------------------

def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """md5 fingerprint of normalized text per document (exact-dedup key)."""
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint_expr(F.col("text")).alias("fp"))


ORACLE_FINGERPRINT = """
SELECT doc_id, md5(regexp_replace(lower(trim(text)), '[ \\t\\n\\r\\x0B\\f]+', ' ', 'g')) AS fp
FROM documents
"""


def q_dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: one survivor (min doc_id) per normalized-text
    fingerprint. Hash-groupBy: one shuffle on the fingerprint."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select("doc_id", fingerprint_expr(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("doc_id", "n_copies", "fp")
    )


ORACLE_DEDUP_EXACT = """
SELECT min(doc_id) AS doc_id, count(*) AS n_copies,
       md5(regexp_replace(lower(trim(text)), '[ \\t\\n\\r\\x0B\\f]+', ' ', 'g')) AS fp
FROM documents
GROUP BY 3
"""


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish token counts per document."""
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", token_count_expr(F.col("text")).alias("n_tokens"))


ORACLE_TOKEN_COUNT = """
SELECT doc_id,
       CASE WHEN trim(text) = '' THEN 0
            ELSE len(string_split_regex(trim(text), '[ \\t\\n\\r\\x0B\\f]+')) END AS n_tokens
FROM documents
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram/stopword-heuristic language ID per document."""
    from kaggle_ecommerce_etl_spark.util import ensure_min_partitions

    d = ensure_min_partitions(_t(spark, sf_dir, "documents"))
    return d.select("doc_id", lang_id_expr(F.col("text")).alias("lang_pred"))


ORACLE_LANG_ID = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '[^a-z]+') AS t
  FROM documents
),
hits AS (
  SELECT doc_id,
         len(list_filter(t, x -> list_contains({_sw_list('en')}, x))) AS en,
         len(list_filter(t, x -> list_contains({_sw_list('fr')}, x))) AS fr,
         len(list_filter(t, x -> list_contains({_sw_list('de')}, x))) AS de,
         len(list_filter(t, x -> list_contains({_sw_list('es')}, x))) AS es
  FROM toks
),
s1 AS (
  SELECT doc_id, de, es,
         CASE WHEN fr > en THEN 'fr' ELSE 'en' END AS lang1,
         CASE WHEN fr > en THEN fr ELSE en END AS best1
  FROM hits
),
s2 AS (
  SELECT doc_id, es,
         CASE WHEN de > best1 THEN 'de' ELSE lang1 END AS lang2,
         CASE WHEN de > best1 THEN de ELSE best1 END AS best2
  FROM s1
)
SELECT doc_id,
       CASE WHEN es > best2 THEN 'es' ELSE lang2 END AS lang_pred
FROM s2
"""


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded [0,1] text-quality heuristic per document."""
    from kaggle_ecommerce_etl_spark.util import ensure_min_partitions

    d = ensure_min_partitions(_t(spark, sf_dir, "documents"))
    return d.select("doc_id", quality_score_expr(F.col("text")).alias("quality"))


ORACLE_QUALITY = f"""
WITH base AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '[ \\t\\n\\r\\x0B\\f]+')) END AS n,
         greatest(length(text), 1) AS l1,
         length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS p,
         len(list_filter(string_split_regex(lower(trim(text)), '[^a-z]+'),
                         x -> list_contains({_sw_list('en')}, x))) AS sh
  FROM documents
),
-- exact integer rational (mirrors quality_score_expr): num/den, then
-- half-up round to 4 decimals via floor-div + remainder compare —
-- no doubles until the final /10000.0
frac AS (
  SELECT doc_id,
         4 * least(n, 100) * l1 * greatest(n, 1)
           + 300 * greatest(n, 1) * (l1 - p)
           + 300 * l1 * least(5 * sh, greatest(n, 1)) AS num,
         1000 * l1 * greatest(n, 1) AS den
  FROM base
)
SELECT doc_id,
       ((num * 10000) // den
        + CASE WHEN 2 * ((num * 10000) % den) >= den THEN 1 ELSE 0 END)
         / 10000.0 AS quality
FROM frac
"""


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 neighbors for a small query set — blocked-matmul
    path (cosine_topk is the join-formulated equivalent)."""
    from kaggle_ecommerce_etl_spark.functions.similarity import (
        cosine_topk_matmul,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return cosine_topk_matmul(emb.filter(F.col("vec_id") < 5), emb, k=5)


ORACLE_COSINE_TOPK = """
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings),
s AS (SELECT query_id, neighbor_id,
             round(list_cosine_similarity(qv, cv), 6) AS sim
      FROM q CROSS JOIN c WHERE query_id <> neighbor_id),
r AS (SELECT query_id, neighbor_id, sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) AS rank
      FROM s)
SELECT query_id, neighbor_id, sim, CAST(rank AS INT) AS rank
FROM r WHERE rank <= 5
"""


# --------------------------------------------------------------------------
# relational breadth: TPC-H shapes, having, windows, cube, pivot, set ops
# --------------------------------------------------------------------------

def q_revenue_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan+filter+agg; every predicate pushes to
    the parquet scan."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            _dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


ORACLE_REVENUE_FILTER = """
SELECT CAST(round(sum(CAST(l_extendedprice * l_discount AS DECIMAL(23,8))), 2) AS DOUBLE) AS revenue,
       count(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
"""


def q_top_unshipped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join + agg + deterministic top-10."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cut = F.lit("1996-06-30").cast("timestamp")
    return (
        li.filter(F.col("l_shipdate") > cut)
        .join(orders.filter(F.col("o_orderdate") < cut), li.l_orderkey == orders.o_orderkey)
        .join(cust.filter(F.col("c_mktsegment") == "BUILDING"),
              orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


ORACLE_TOP_UNSHIPPED = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(23,8))), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE l_shipdate > TIMESTAMP '1996-06-30'
  AND o_orderdate < TIMESTAMP '1996-06-30'
  AND c_mktsegment = 'BUILDING'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def q_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 shape: groupBy + HAVING via post-agg filter."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(_dsum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )


ORACLE_BIG_ORDERS = """
SELECT l_orderkey,
       CAST(round(sum(CAST(l_quantity AS DECIMAL(23,8))), 2) AS DOUBLE) AS total_qty
FROM lineitem GROUP BY l_orderkey
HAVING CAST(round(sum(CAST(l_quantity AS DECIMAL(23,8))), 2) AS DOUBLE) > 150
"""


def q_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window running aggregate per customer over order history."""
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(23,8)")).over(w), 2
        )
        .cast("double")
        .alias("running_spend"),
    )


ORACLE_RUNNING_TOTAL = """
SELECT o_custkey, o_orderkey,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(23,8))) OVER (
             PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey
             ROWS UNBOUNDED PRECEDING), 2) AS DOUBLE) AS running_spend
FROM orders
"""


def q_sales_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE rollup over returnflag × linestatus."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"), _dsum("l_quantity").alias("qty"))
    )


ORACLE_SALES_CUBE = """
SELECT l_returnflag, l_linestatus, count(*) AS n,
       CAST(round(sum(CAST(l_quantity AS DECIMAL(23,8))), 2) AS DOUBLE) AS qty
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def q_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot linestatus into columns."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(_dsum("l_quantity"))
    )


ORACLE_PIVOT = """
SELECT l_returnflag,
       CAST(round(sum(CASE WHEN l_linestatus = 'O'
                      THEN CAST(l_quantity AS DECIMAL(23,8)) END), 2) AS DOUBLE) AS "O",
       CAST(round(sum(CASE WHEN l_linestatus = 'F'
                      THEN CAST(l_quantity AS DECIMAL(23,8)) END), 2) AS DOUBLE) AS "F"
FROM lineitem GROUP BY l_returnflag
"""


def q_set_ops_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT + EXCEPT: machinery customers who ordered, minus those
    with an 'F'-status order."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    machinery = cust.filter(F.col("c_mktsegment") == "MACHINERY").select(
        F.col("c_custkey").alias("custkey")
    )
    ordered = orders.select(F.col("o_custkey").alias("custkey"))
    f_status = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    return machinery.intersect(ordered).exceptAll(f_status.distinct())


ORACLE_SET_OPS = """
SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
INTERSECT
SELECT o_custkey FROM orders
EXCEPT
SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'
"""


def q_supplier_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS via left_anti: suppliers with no deep-discount lines."""
    supp = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_discount") > 0.09)
    return supp.join(li, supp.s_suppkey == li.l_suppkey, "left_anti").select(
        "s_suppkey", "s_name"
    )


ORACLE_SUPPLIER_ANTI = """
SELECT s_suppkey, s_name FROM supplier s
WHERE NOT EXISTS (SELECT 1 FROM lineitem
                  WHERE l_suppkey = s.s_suppkey AND l_discount > 0.09)
"""


def q_parts_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-subquery shape: parts priced above the global average.
    The 1-row aggregate is broadcast — no collect, no second scan of
    the filtered side."""
    part = _t(spark, sf_dir, "part")
    avg_df = part.agg(F.avg("p_retailprice").alias("__avg"))
    return (
        part.join(F.broadcast(avg_df))
        .filter(F.col("p_retailprice") > F.col("__avg"))
        .select("p_partkey", "p_name", "p_retailprice")
    )


ORACLE_PARTS_ABOVE_AVG = """
SELECT p_partkey, p_name, p_retailprice FROM part
WHERE p_retailprice > (SELECT avg(p_retailprice) FROM part)
"""


def q_letters_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """op 32: keep rows where every selected cell is a letter-containing
    string (the reference's embedded-header predicate, relational
    form)."""
    from kaggle_ecommerce_etl_spark.operators.structural import all_letter_string_row

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("p1"),
        F.when(F.col("o_orderkey") % 4 == 0, F.lit("123"))
        .otherwise(F.lit("aBc"))
        .alias("p2"),
    )
    pred_df = o.select("p1", "p2")
    return o.filter(all_letter_string_row(pred_df)).select("o_orderkey", "p1", "p2")


ORACLE_LETTERS = """
SELECT o_orderkey, o_orderpriority AS p1,
       CASE WHEN o_orderkey % 4 = 0 THEN '123' ELSE 'aBc' END AS p2
FROM orders
WHERE o_orderkey % 4 <> 0 AND regexp_matches(o_orderpriority, '[a-zA-Z]')
"""


def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (1h window / 30m slide) counts per event type."""
    from kaggle_ecommerce_etl_spark.streaming.file_source import windowed_event_counts

    ev = _t(spark, sf_dir, "events")
    return windowed_event_counts(ev, window="1 hour", slide="30 minutes")


ORACLE_SLIDING = """
WITH b AS (
  -- make_timestamp(µs) is tz-naive; to_timestamp()::TIMESTAMP would
  -- localize through the DuckDB session TimeZone and skew on non-UTC hosts
  SELECT make_timestamp(CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT) * 1000000)
           AS bucket,
         event_type, value
  FROM events
),
assigned AS (
  SELECT bucket AS window_start, event_type, value FROM b
  UNION ALL
  SELECT bucket - INTERVAL 30 MINUTE AS window_start, event_type, value FROM b
)
SELECT window_start, event_type, count(*) AS n,
       CAST(round(sum(CAST(value AS DECIMAL(23,8))), 2) AS DOUBLE) AS total
FROM assigned GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# north-star: near-duplicate detection (minhash / simhash / jaccard)
# --------------------------------------------------------------------------

def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-component minhash signature per document (one md5 per shingle)."""
    from kaggle_ecommerce_etl_spark.functions.dedup_ml import minhash_signatures

    return minhash_signatures(_t(spark, sf_dir, "documents"))


ORACLE_MINHASH = (
    _SHINGLE_SQL
    + "SELECT doc_id, "
    + ", ".join(_mh_sql(i) for i in range(8))
    + " FROM s"
)


def q_lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding near-dup candidates via ONE (band,key) equi-join."""
    from kaggle_ecommerce_etl_spark.functions.dedup_ml import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    sigs = minhash_signatures(_t(spark, sf_dir, "documents"))
    return lsh_candidate_pairs(sigs)


ORACLE_LSH_PAIRS = (
    _SHINGLE_SQL
    + ", sigs AS (SELECT doc_id, "
    + ", ".join(_mh_sql(i) for i in range(8))
    + " FROM s), bands AS (SELECT doc_id, "
    + ", ".join(_band_sql(b) for b in range(4))
    + " FROM sigs) "
    + " UNION ".join(
        f"SELECT a.doc_id AS id1, b.doc_id AS id2 FROM bands a "
        f"JOIN bands b ON a.band{b} = b.band{b} AND a.doc_id < b.doc_id"
        for b in range(4)
    )
)


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash fingerprint per document (staged hash array)."""
    from kaggle_ecommerce_etl_spark.functions.dedup_ml import (
        simhash_from_hashes,
        simhash_hashes_expr,
    )
    from kaggle_ecommerce_etl_spark.util import ensure_min_partitions

    d = ensure_min_partitions(_t(spark, sf_dir, "documents"))
    # two-step: md5 hash array materialized once, 16 bit-votes read it
    staged = d.select("doc_id", simhash_hashes_expr(F.col("text")).alias("__h"))
    return staged.select(
        "doc_id", simhash_from_hashes(F.col("__h")).alias("simhash")
    )


_SIMHASH_BIT_SQL = " + ".join(
    f"(CASE WHEN list_sum([((y >> {b}) & 1) * 2 - 1 for y in hs]) > 0 "
    f"THEN {1 << b} ELSE 0 END)"
    for b in range(16)
)

ORACLE_SIMHASH = f"""
WITH t AS (SELECT doc_id,
                  list_distinct(string_split_regex(lower(trim(text)), '[ \\t\\n\\r\\x0B\\f]+')) AS toks
           FROM documents),
h AS (SELECT doc_id,
             [(('0x' || substr(md5('99:' || x), 1, 8))::BIGINT) for x in toks] AS hs
      FROM t)
SELECT doc_id, CAST({_SIMHASH_BIT_SQL} AS BIGINT) AS simhash FROM h
"""


def q_word_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-set Jaccard near-dup pairs, blocked by source."""
    from kaggle_ecommerce_etl_spark.functions.dedup_ml import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"),
        block_col="source",
        threshold=0.8,
        use_shingles=False,
        # scale guard: prunes stopword-frequency tokens from the index.
        # The oracle encodes the SAME cap (QUALIFY df <= 100 +
        # recomputed set sizes), so the pair stays exact at every SF —
        # at sf0.1 the cap is genuinely active (an uncapped oracle
        # diverged 1509 vs 147839 pairs in the r4 scale probe).
        max_df=100,
    )


ORACLE_WORD_JACCARD = """
WITH base AS (SELECT doc_id, source,
                     list_distinct(string_split_regex(lower(trim(text)), '[ \\t\\n\\r\\x0B\\f]+')) AS toks
              FROM documents),
e0 AS (SELECT doc_id, source, unnest(toks) AS tok FROM base),
kept AS (SELECT doc_id, source, tok FROM e0
         QUALIFY count(*) OVER (PARTITION BY source, tok) <= 100),
sz AS (SELECT doc_id, count(*) AS sz FROM kept GROUP BY 1),
j AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
      FROM kept a JOIN kept b ON a.tok = b.tok AND a.source = b.source
                             AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
v AS (SELECT id1, id2, inter, s1.sz AS s1, s2.sz AS s2
      FROM j JOIN sz s1 ON j.id1 = s1.doc_id
             JOIN sz s2 ON j.id2 = s2.doc_id)
SELECT id1, id2, round(CAST(inter AS DOUBLE) / (s1 + s2 - inter), 4) AS jaccard
FROM v WHERE round(CAST(inter AS DOUBLE) / (s1 + s2 - inter), 4) >= 0.8
"""


def q_embedding_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup: nearest neighbor (top-1 cosine) per vector.
    All-pairs workload → both-sides-distributed block matmul: every row
    is query AND candidate, so nothing streams through the driver
    (cosine_topk_matmul's chunked-broadcast contract assumes a SMALL
    query side — wrong shape here; see cosine_self_topk_blocked)."""
    from kaggle_ecommerce_etl_spark.functions.similarity import (
        cosine_self_topk_blocked,
    )
    from kaggle_ecommerce_etl_spark.util import ensure_min_partitions

    emb = ensure_min_partitions(_t(spark, sf_dir, "embeddings"))
    return cosine_self_topk_blocked(emb, k=1)


ORACLE_EMB_NEAREST = """
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings),
c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings),
s AS (SELECT query_id, neighbor_id,
             round(list_cosine_similarity(qv, cv), 6) AS sim
      FROM q CROSS JOIN c WHERE query_id <> neighbor_id),
r AS (SELECT query_id, neighbor_id, sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) AS rank
      FROM s)
SELECT query_id, neighbor_id, sim, CAST(rank AS INT) AS rank
FROM r WHERE rank <= 1
"""


def q_multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: binary blob column + typed metadata
    (content hash / byte length); blob pruned from the output plan."""
    from kaggle_ecommerce_etl_spark.functions.multimodal import (
        media_metadata,
        wrap_as_media,
    )

    docs = _t(spark, sf_dir, "documents")
    media = wrap_as_media(docs, "doc_id", "text", "text/plain")
    return media_metadata(media)


ORACLE_MULTIMODAL = """
SELECT doc_id AS media_id, 'text/plain' AS mime,
       octet_length(CAST(text AS BLOB)) AS n_bytes,
       sha256(text) AS sha
FROM documents
"""


def q_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregation per group."""
    c = _t(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.countDistinct("c_nationkey").alias("n_nations"),
        F.count(F.lit(1)).alias("n_customers"),
    )


ORACLE_COUNT_DISTINCT = """
SELECT c_mktsegment, count(DISTINCT c_nationkey) AS n_nations,
       count(*) AS n_customers
FROM customer GROUP BY c_mktsegment
"""


def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function surface: substring / concat / replace / LIKE /
    regexp_extract / length / position."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.substring("p_name", 1, 5).alias("prefix"),
        F.concat_ws("-", "p_brand", "p_type").alias("brand_type"),
        F.regexp_replace("p_name", "a", "@").alias("subbed"),
        F.col("p_name").like("%steel%").alias("is_steel"),
        F.regexp_extract("p_name", r"(\w+)$", 1).alias("last_word"),
        F.length("p_name").cast("bigint").alias("name_len"),
        F.instr("p_name", "o").cast("bigint").alias("first_o"),
    )


ORACLE_STRING_FUNCS = """
SELECT p_partkey,
       substr(p_name, 1, 5) AS prefix,
       p_brand || '-' || p_type AS brand_type,
       regexp_replace(p_name, 'a', '@', 'g') AS subbed,
       p_name LIKE '%steel%' AS is_steel,
       coalesce(regexp_extract(p_name, '(\\w+)$', 1), '') AS last_word,
       length(p_name) AS name_len,
       instr(p_name, 'o') AS first_o
FROM part
"""


def q_date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date arithmetic: datediff / add_months / date_trunc / extract."""
    o = _t(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        F.year(d).cast("bigint").alias("yr"),
        F.month(d).cast("bigint").alias("mo"),
        F.dayofweek(d).cast("bigint").alias("dow"),
        # ISO strings: DATE-typed outputs round-trip differently through
        # pandas in Spark (datetime.date) vs DuckDB (datetime64) — string
        # output removes the representation ambiguity from the comparison
        F.date_format(F.date_add(d, 30), "yyyy-MM-dd").alias("due_date"),
        F.date_format(F.add_months(d, 3), "yyyy-MM-dd").alias("quarter_later"),
        F.datediff(F.lit("2002-01-01").cast("date"), d).cast("bigint").alias("days_to_2002"),
        F.quarter(d).cast("bigint").alias("qtr"),
    )


ORACLE_DATE_ARITH = """
SELECT o_orderkey,
       year(CAST(o_orderdate AS DATE)) AS yr,
       month(CAST(o_orderdate AS DATE)) AS mo,
       dayofweek(CAST(o_orderdate AS DATE)) + 1 AS dow,
       strftime(CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE), '%Y-%m-%d') AS due_date,
       strftime(CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE), '%Y-%m-%d') AS quarter_later,
       date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS days_to_2002,
       quarter(CAST(o_orderdate AS DATE)) AS qtr
FROM orders
"""


def q_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array explode: p_type word frequencies (UNNEST twin)."""
    p = _t(spark, sf_dir, "part")
    return (
        p.select(F.explode(F.split("p_type", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


ORACLE_EXPLODE = """
SELECT word, count(*) AS n
FROM (SELECT unnest(string_split(p_type, ' ')) AS word FROM part)
GROUP BY word
"""


def q_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered/conditional aggregation per nation."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey")
        .agg(
            F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("n_finished"),
            F.count(F.when(F.col("o_orderstatus") == "O", 1)).alias("n_open"),
            _dsum(
                F.when(
                    F.col("o_orderstatus") == "F", F.col("o_totalprice")
                ).otherwise(0.0)
            ).alias("finished_value"),
        )
    )


ORACLE_CONDITIONAL_AGG = """
SELECT c_nationkey,
       count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_finished,
       count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_open,
       CAST(round(sum(CASE WHEN o_orderstatus = 'F'
                      THEN CAST(o_totalprice AS DECIMAL(23,8))
                      ELSE CAST(0 AS DECIMAL(23,8)) END), 2) AS DOUBLE)
         AS finished_value
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_nationkey
"""


def q_summary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """describe()-style profile (op 19). Rows-only check: Spark's
    summary() uses approximate percentiles which no exact-SQL oracle
    reproduces."""
    from kaggle_ecommerce_etl_spark.normalize.profile import summary_stats

    return summary_stats(
        _t(spark, sf_dir, "lineitem"), ["l_quantity", "l_extendedprice", "l_discount"]
    )


# --------------------------------------------------------------------------
# registry
# --------------------------------------------------------------------------

#: name → (query fn, oracle SQL or None for rows-only checks), in
#: catalog order: this module's queries by SURVEY §2 family with the
#: pipeline block and three extension queries placed among them, then
#: each later wave module in turn. REGISTRY (below) is this order with
#: DRIVER_WINDOW moved to the front.
_CATALOG: dict[str, tuple[QueryFn, str | None]] = {
    "pricing_summary": (q_pricing_summary, ORACLE_PRICING),
    "revenue_by_nation": (q_revenue_by_nation, ORACLE_REVENUE_BY_NATION),
    "topk_per_group": (q_topk_per_group, ORACLE_TOPK),
    "conflict_split_clean": (q_conflict_split_clean, _oracle_conflict("=")),
    "conflict_split_flagged": (q_conflict_split_flagged, _oracle_conflict(">")),
    "dedup_full_rows": (q_dedup_full_rows, ORACLE_DEDUP_FULL),
    "colname_normalize": (q_colname_normalize, ORACLE_COLNAME),
    "align_columns": (q_align_columns, ORACLE_ALIGN),
    "na_canonicalize": (q_na_canonicalize, ORACLE_NA),
    "tolerant_numeric": (q_tolerant_numeric, ORACLE_TOLERANT_NUMERIC),
    "date_normalize": (q_date_normalize, ORACLE_DATE),
    "month_datetime": (q_month_datetime, ORACLE_MONTH_DT),
    "month_prefix": (q_month_prefix, ORACLE_MONTH_PREFIX),
    "text_standardize": (q_text_standardize, ORACLE_TEXT_STD),
    "mostly_null_filter": (q_mostly_null_filter, ORACLE_MOSTLY_NULL),
    "critical_dropna": (q_critical_dropna, ORACLE_CRITICAL),
    "null_counts": (q_null_counts, ORACLE_NULL_COUNTS),
    "parse_gate": (q_parse_gate, ORACLE_PARSE_GATE),
    "drop_allnull_cols": (q_drop_allnull_cols, ORACLE_DROP_ALLNULL),
    # messy-CSV pipelines, sources and sinks (queries_pipeline.py)
    "pipeline_sale": (qp.q_pipeline_sale, qp.ORACLE_PIPELINE_SALE),
    "pipeline_amazon_clean": (qp.q_pipeline_amazon_clean, qp._oracle_amazon("=")),
    "pipeline_amazon_flagged": (qp.q_pipeline_amazon_flagged, qp._oracle_amazon(">")),
    "pipeline_jdbc_load": (qp.q_pipeline_jdbc_load, qp._oracle_amazon("=")),
    "pipeline_international": (qp.q_pipeline_international, qp.ORACLE_PIPELINE_INTL),
    "upsert_roundtrip": (qp.q_upsert_roundtrip, qp.ORACLE_UPSERT),
    "csv_roundtrip": (qp.q_csv_roundtrip, qp.ORACLE_CSV_ROUNDTRIP),
    "incremental_read": (qp.q_incremental_read, qp.ORACLE_INCREMENTAL),
    "ddl_roundtrip": (qp.q_ddl_roundtrip, qp.ORACLE_DDL_ROUNDTRIP),
    "audit_columns": (qp.q_audit_columns, qp.ORACLE_AUDIT),
    "summary_stats_exact": (qp.q_summary_stats_exact, qp.ORACLE_SUMMARY_EXACT),
    "categorical_profile": (qp.q_categorical_profile, qp.ORACLE_CATEGORICAL),
    # event-time windows
    "events_tumbling": (q_events_tumbling, ORACLE_TUMBLING),
    "events_sessionize": (q_events_sessionize, ORACLE_SESSIONIZE),
    "events_json_extract": (q_events_json_extract, ORACLE_JSON),
    "events_sliding": (q_events_sliding, ORACLE_SLIDING),
    # LLM-data / document operators
    "doc_fingerprint": (q_doc_fingerprint, ORACLE_FINGERPRINT),
    "dedup_exact_docs": (q_dedup_exact_docs, ORACLE_DEDUP_EXACT),
    "token_count": (q_token_count, ORACLE_TOKEN_COUNT),
    "lang_id": (q_lang_id, ORACLE_LANG_ID),
    "quality_score": (q_quality_score, ORACLE_QUALITY),
    "cosine_topk": (q_cosine_topk, ORACLE_COSINE_TOPK),
    "embedding_nearest": (q_embedding_nearest, ORACLE_EMB_NEAREST),
    "multimodal_metadata": (q_multimodal_metadata, ORACLE_MULTIMODAL),
    # near-duplicate detection
    "minhash_signatures": (q_minhash_signatures, ORACLE_MINHASH),
    "lsh_candidate_pairs": (q_lsh_candidate_pairs, ORACLE_LSH_PAIRS),
    "simhash": (q_simhash, ORACLE_SIMHASH),
    "word_jaccard_pairs": (q_word_jaccard_pairs, ORACLE_WORD_JACCARD),
    "letters_predicate": (q_letters_predicate, ORACLE_LETTERS),
    # Structured Streaming drains and the as-of join (queries_ext.py)
    "streaming_dedup_run": (qx.q_streaming_dedup_run, qx.ORACLE_STREAMING_DEDUP),
    "streaming_sessionize_run": (
        qx.q_streaming_sessionize_run,
        qx.ORACLE_STREAMING_SESSIONIZE,
    ),
    "asof_join_orders": (qx.q_asof_join_orders, qx.ORACLE_ASOF),
    # relational breadth
    "revenue_filter": (q_revenue_filter, ORACLE_REVENUE_FILTER),
    "sales_cube": (q_sales_cube, ORACLE_SALES_CUBE),
    "parts_above_avg": (q_parts_above_avg, ORACLE_PARTS_ABOVE_AVG),
    "running_total": (q_running_total, ORACLE_RUNNING_TOTAL),
    "top_unshipped": (q_top_unshipped, ORACLE_TOP_UNSHIPPED),
    "big_orders": (q_big_orders, ORACLE_BIG_ORDERS),
    "supplier_anti_join": (q_supplier_anti_join, ORACLE_SUPPLIER_ANTI),
    "distinct_projection": (q_distinct_projection, ORACLE_DISTINCT_PROJ),
    "pivot_status": (q_pivot_status, ORACLE_PIVOT),
    "set_ops_customers": (q_set_ops_customers, ORACLE_SET_OPS),
    "summary_stats": (q_summary_stats, None),
    "count_distinct": (q_count_distinct, ORACLE_COUNT_DISTINCT),
    "string_funcs": (q_string_funcs, ORACLE_STRING_FUNCS),
    "date_arithmetic": (q_date_arithmetic, ORACLE_DATE_ARITH),
    "explode_tokens": (q_explode_tokens, ORACLE_EXPLODE),
    "conditional_agg": (q_conditional_agg, ORACLE_CONDITIONAL_AGG),
    # queries_ext.py: TPC-H shapes, statistical and scalar surface,
    # set-similarity and embedding dedup
    "jdbc_roundtrip": (qx.q_jdbc_roundtrip, qx.ORACLE_JDBC_ROUNDTRIP),
    "word_jaccard_capped": (qx.q_word_jaccard_capped, qx.ORACLE_WORD_JACCARD_CAPPED),
    "exists_late_orders": (qx.q_exists_late_orders, qx.ORACLE_EXISTS_LATE),
    "nation_volume_pairs": (qx.q_nation_volume_pairs, qx.ORACLE_NATION_PAIRS),
    "promo_revenue": (qx.q_promo_revenue, qx.ORACLE_PROMO),
    "disjunctive_revenue": (qx.q_disjunctive_revenue, qx.ORACLE_DISJUNCTIVE),
    "customers_no_orders": (qx.q_customers_no_orders, qx.ORACLE_NO_ORDERS),
    "rollup_sales": (qx.q_rollup_sales, qx.ORACLE_ROLLUP),
    "grouping_sets": (qx.q_grouping_sets, qx.ORACLE_GROUPING_SETS),
    "full_outer_nation": (qx.q_full_outer_nation, qx.ORACLE_FULL_OUTER),
    "semi_join_customers": (qx.q_semi_join_customers, qx.ORACLE_SEMI),
    "quantile_stats": (qx.q_quantile_stats, qx.ORACLE_QUANTILE),
    "corr_stats": (qx.q_corr_stats, qx.ORACLE_CORR),
    "array_funcs": (qx.q_array_funcs, qx.ORACLE_ARRAY_FUNCS),
    "regexp_stats": (qx.q_regexp_stats, qx.ORACLE_REGEXP_STATS),
    "date_buckets": (qx.q_date_buckets, qx.ORACLE_DATE_BUCKETS),
    "shingle_jaccard_pairs": (qx.q_shingle_jaccard_pairs, qx.ORACLE_SHINGLE_JACCARD),
    "embedding_neardup_pairs": (qx.q_embedding_neardup_pairs, qx.ORACLE_EMB_NEARDUP),
    "embedding_neardup_lsh": (qx.q_embedding_neardup_lsh, qx._emb_neardup_lsh_oracle()),
    "ann_lsh_topk": (qx.q_ann_lsh_topk, qx._ann_lsh_oracle()),
    "ann_ivf_topk": (qx.q_ann_ivf_topk, qx._ann_ivf_oracle()),
    "latest_per_key": (qx.q_latest_per_key, qx.ORACLE_LATEST_PER_KEY),
    "tfidf_top_terms": (qx.q_tfidf_top_terms, qx.ORACLE_TFIDF),
    "bigram_doc_freq": (qx.q_bigram_doc_freq, qx.ORACLE_BIGRAM_DF),
    "hash_sample": (qx.q_hash_sample, qx.ORACLE_HASH_SAMPLE),
    # scale patterns
    "bucketed_join_agg": (qx.q_bucketed_join_agg, qx.ORACLE_BUCKETED_JOIN),
    "salted_skew_join": (qx.q_salted_skew_join, qx.ORACLE_SALTED_JOIN),
    "partition_pruned_read": (qx.q_partition_pruned_read, qx.ORACLE_PARTITION_PRUNED),
    # dedup clustering / versioning / corpus stats / schema drift
    "dup_clusters": (qx.q_dup_clusters, qx.ORACLE_DUP_CLUSTERS),
    "scd2_versions": (qx.q_scd2_versions, qx.ORACLE_SCD2),
    "token_stats_by_lang": (qx.q_token_stats_by_lang, qx.ORACLE_TOKEN_STATS),
    "event_attribution": (qx.q_event_attribution, qx.ORACLE_ATTRIBUTION),
    "winnow_fingerprints": (qx.q_winnow_fingerprints, qx.ORACLE_WINNOW),
    "multimodal_frame_sample": (qx.q_multimodal_frame_sample, qx.ORACLE_FRAME_SAMPLE),
    "stratified_sample": (qx.q_stratified_sample, qx.ORACLE_STRATIFIED),
    "jaccard_pairs_prefix": (qx.q_jaccard_pairs_prefix, qx.ORACLE_JACCARD_PREFIX),
    "rank_functions": (qx.q_rank_functions, qx.ORACLE_RANK_FUNCS),
    # corpus-hygiene ops: redaction, quality repetition, leakage guard
    "pii_scrub": (qx.q_pii_scrub, qx.ORACLE_PII_SCRUB),
    "repetition_ratio": (qx.q_repetition_ratio, qx.ORACLE_REPETITION),
    "decontaminate": (qx.q_decontaminate, qx.ORACLE_DECONTAMINATE),
    "embedding_quantize": (qx.q_embedding_quantize, qx.ORACLE_EMB_QUANTIZE),
    "fuzzy_name_pairs": (qx.q_fuzzy_name_pairs, qx.ORACLE_FUZZY),
    "funnel_conversion": (qx.q_funnel_conversion, qx.ORACLE_FUNNEL),
    "market_share": (qx.q_market_share, qx.ORACLE_MARKET_SHARE),
    "returned_revenue": (qx.q_returned_revenue, qx.ORACLE_RETURNED_REVENUE),
    "asof_join_broadcast": (qx.q_asof_join_broadcast, qx.ORACLE_ASOF_BROADCAST),
    "streaming_upsert_run": (qx.q_streaming_upsert_run, qx.ORACLE_STREAMING_UPSERT),
    "compact_files": (qx.q_compact_files, qx.ORACLE_COMPACT),
    "incremental_agg_merge": (qx.q_incremental_agg_merge, qx.ORACLE_INCR_AGG),
    "zorder_code": (qx.q_zorder_code, qx.ORACLE_ZORDER),
    "data_quality_report": (qx.q_data_quality_report, qx.ORACLE_DQ),
    "price_histogram": (qx.q_price_histogram, qx.ORACLE_PRICE_HIST),
    "asof_join_forward": (qx.q_asof_join_forward, qx.ORACLE_ASOF_FWD),
    "doc_chunks": (qx.q_doc_chunks, qx.ORACLE_DOC_CHUNKS),
    "incremental_neardup": (qx.q_incremental_neardup, qx.ORACLE_INCR_NEARDUP),
    "streaming_window_run": (qx.q_streaming_window_run, qx.ORACLE_STREAMING_WINDOW),
    "persist_reuse": (qx.q_persist_reuse, qx.ORACLE_PERSIST_REUSE),
    "null_safe_join": (qx.q_null_safe_join, qx.ORACLE_NULL_SAFE),
    "hierarchy_rollup": (qx.q_hierarchy_rollup, qx.ORACLE_HIERARCHY),
    "resample_gapfill": (qx.q_resample_gapfill, qx.ORACLE_RESAMPLE),
    "unpivot_metrics": (qx.q_unpivot_metrics, qx.ORACLE_UNPIVOT),
    # defined with the pipelines, catalogued after the first extension wave
    "schema_drift_merge": (qp.q_schema_drift_merge, qp.ORACLE_SCHEMA_DRIFT),
    # queries_ext2.py: TPC-H Q12/Q13/Q17/Q21 shapes, corpus preparation,
    # formats and streaming joins
    "priority_line_counts": (q2.q_priority_line_counts, q2.ORACLE_PRIORITY_LINES),
    "cust_order_distribution": (
        q2.q_cust_order_distribution,
        q2.ORACLE_CUST_ORDER_DIST,
    ),
    "small_qty_revenue": (q2.q_small_qty_revenue, q2.ORACLE_SMALL_QTY),
    "late_supplier_blame": (q2.q_late_supplier_blame, q2.ORACLE_LATE_BLAME),
    "pack_sequences": (q2.q_pack_sequences, q2.ORACLE_PACK_SEQUENCES),
    "pack_materialize": (q2.q_pack_materialize, q2.ORACLE_PACK_MATERIALIZE),
    "doc_truncate": (q2.q_doc_truncate, q2.ORACLE_DOC_TRUNCATE),
    "corpus_shuffle": (q2.q_corpus_shuffle, q2.ORACLE_CORPUS_SHUFFLE),
    "token_rarity": (q2.q_token_rarity, q2.ORACLE_TOKEN_RARITY),
    "semantic_dedup_keep": (q2.q_semantic_dedup_keep, q2.ORACLE_SEMANTIC_DEDUP),
    "semantic_dedup_auto": (q2.q_semantic_dedup_auto, q2.ORACLE_SEMANTIC_DEDUP),
    "mix_rebalance": (q2.q_mix_rebalance, q2.ORACLE_MIX_REBALANCE),
    "span_dedup": (q2.q_span_dedup, q2.ORACLE_SPAN_DEDUP),
    "observed_metrics": (q2.q_observed_metrics, q2.ORACLE_OBSERVED_METRICS),
    "corpus_pipeline": (q2.q_corpus_pipeline, q2.ORACLE_CORPUS_PIPELINE),
    "rolling_features": (q2.q_rolling_features, q2.ORACLE_ROLLING_FEATURES),
    "interpolate_ts": (q2.q_interpolate_ts, q2.ORACLE_INTERPOLATE_TS),
    "variant_shred": (q2.q_variant_shred, q2.ORACLE_VARIANT_SHRED),
    "set_ops_multiset": (q2.q_set_ops_multiset, q2.ORACLE_SET_OPS_MULTISET),
    "range_frame_window": (q2.q_range_frame_window, q2.ORACLE_RANGE_FRAME),
    "multimodal_dedup": (q2.q_multimodal_dedup, q2.ORACLE_MULTIMODAL_DEDUP),
    "table_checksum": (q2.q_table_checksum, q2.ORACLE_TABLE_CHECKSUM),
    "jdbc_partitioned_read": (q2.q_jdbc_partitioned_read, q2.ORACLE_JDBC_PARTITIONED),
    "snapshot_diff": (q2.q_snapshot_diff, q2.ORACLE_SNAPSHOT_DIFF),
    "conflict_split_flagged_aggjoin": (
        q2.q_conflict_split_flagged_aggjoin,
        _oracle_conflict(">"),
    ),
    "sessionize_dynamic_gap": (
        q2.q_sessionize_dynamic_gap,
        q2.ORACLE_SESSIONIZE_DYNAMIC,
    ),
    "join_hints": (q2.q_join_hints, q2.ORACLE_JOIN_HINTS),
    "merge_upsert": (q2.q_merge_upsert, q2.ORACLE_MERGE_UPSERT),
    "cdc_apply": (q2.q_cdc_apply, q2.ORACLE_CDC_APPLY),
    "dedup_keep_richest": (q2.q_dedup_keep_richest, q2.ORACLE_DEDUP_RICHEST),
    "jsonl_roundtrip": (q2.q_jsonl_roundtrip, q2.ORACLE_JSONL_ROUNDTRIP),
    "jsonl_quarantine": (q2.q_jsonl_quarantine, q2.ORACLE_JSONL_QUARANTINE),
    "orc_roundtrip": (q2.q_orc_roundtrip, q2.ORACLE_ORC_ROUNDTRIP),
    "stream_stream_join_run": (
        q2.q_stream_stream_join_run,
        q2.ORACLE_STREAM_STREAM_JOIN,
    ),
    "medallion_stream_run": (q2.q_medallion_stream_run, q2.ORACLE_MEDALLION),
    # queries_ext3.py: recursive SQL, sketches, Python data sources and UDTFs
    "recursive_ancestors": (q3.q_recursive_ancestors, q3.ORACLE_RECURSIVE_ANCESTORS),
    "lateral_topk_orders": (q3.q_lateral_topk_orders, q3.ORACLE_LATERAL_TOPK),
    "heavy_hitters": (q3.q_heavy_hitters, q3.ORACLE_HEAVY_HITTERS),
    "hll_distinct_gate": (q3.q_hll_distinct_gate, q3.ORACLE_HLL_GATE),
    "theta_union_gate": (q3.q_theta_union_gate, q3.ORACLE_THETA_GATE),
    "approx_quantile_gate": (q3.q_approx_quantile_gate, q3.ORACLE_APPROX_QUANTILE),
    "listagg_nations": (q3.q_listagg_nations, q3.ORACLE_LISTAGG),
    "text_roundtrip": (q3.q_text_roundtrip, q3.ORACLE_TEXT_ROUNDTRIP),
    "pyds_manifest_read": (q3.q_pyds_manifest_read, q3.ORACLE_PYDS_MANIFEST),
    # same semantics as the batch sessionizer, so the same oracle
    "streaming_session_run": (q3.q_streaming_session_run, ORACLE_SESSIONIZE),
    "topk_sketch_merge": (q3.q_topk_sketch_merge, q3.ORACLE_TOPK_MERGE),
    "theta_set_algebra": (q3.q_theta_set_algebra, q3.ORACLE_THETA_SET_ALGEBRA),
    "catalog_table_roundtrip": (
        q3.q_catalog_table_roundtrip,
        q3.ORACLE_CATALOG_ROUNDTRIP,
    ),
    "hll_union_gate": (q3.q_hll_union_gate, q3.ORACLE_HLL_UNION_GATE),
    "param_bind_filter": (q3.q_param_bind_filter, q3.ORACLE_PARAM_BIND),
    "collation_dedup": (q3.q_collation_dedup, q3.ORACLE_COLLATION_DEDUP),
    "equidepth_histogram": (q3.q_equidepth_histogram, q3.ORACLE_EQUIDEPTH),
    "id_gap_islands": (q3.q_id_gap_islands, q3.ORACLE_GAP_ISLANDS),
    "bitmap_distinct_customers": (
        q3.q_bitmap_distinct_customers,
        q3.ORACLE_BITMAP_DISTINCT,
    ),
    "bitmap_union_distinct": (q3.q_bitmap_union_distinct, q3.ORACLE_BITMAP_UNION),
    "interval_coverage": (q3.q_interval_coverage, q3.ORACLE_INTERVAL_COVERAGE),
    "sql_udf_chunks": (q3.q_sql_udf_chunks, q3.ORACLE_SQL_UDF_CHUNKS),
    "kll_quantile_gate": (q3.q_kll_quantile_gate, q3.ORACLE_KLL_GATE),
    "cms_frequency_gate": (q3.q_cms_frequency_gate, q3.ORACLE_CMS_GATE),
    "regr_fit_stats": (q3.q_regr_fit_stats, q3.ORACLE_REGR_FIT),
    "xml_roundtrip": (q3.q_xml_roundtrip, q3.ORACLE_XML_ROUNDTRIP),
    "kv_parse": (q3.q_kv_parse, q3.ORACLE_KV_PARSE),
    "streaming_enrich_run": (q3.q_streaming_enrich_run, q3.ORACLE_STREAMING_ENRICH),
    "udtf_repeat_runs": (q3.q_udtf_repeat_runs, q3.ORACLE_UDTF_REPEAT_RUNS),
    "state_store_read": (q3.q_state_store_read, q3.ORACLE_STATE_STORE_READ),
    "arrow_group_mad": (q3.q_arrow_group_mad, q3.ORACLE_ARROW_GROUP_MAD),
    "pyds_stream_run": (q3.q_pyds_stream_run, q3.ORACLE_PYDS_STREAM),
    "rolling_median": (q3.q_rolling_median, q3.ORACLE_ROLLING_MEDIAN),
    # queries_ext4.py: corpus analytics, BPE and multimodal chunks
    "jaccard_cross_gate": (q4.q_jaccard_cross_gate, q4.ORACLE_JACCARD_CROSS_GATE),
    "source_token_drift": (q4.q_source_token_drift, q4.ORACLE_SOURCE_TOKEN_DRIFT),
    "bpe_pair_counts": (q4.q_bpe_pair_counts, q4.ORACLE_BPE_PAIR_COUNTS),
    "bpe_tokenize_counts": (q4.q_bpe_tokenize_counts, q4.ORACLE_BPE_TOKENIZE_COUNTS),
    "source_quota_cap": (q4.q_source_quota_cap, q4.ORACLE_SOURCE_QUOTA_CAP),
    "char_entropy": (q4.q_char_entropy, q4.ORACLE_CHAR_ENTROPY),
    "ngram_novelty": (q4.q_ngram_novelty, q4.ORACLE_NGRAM_NOVELTY),
    "streaming_drift_run": (q4.q_streaming_drift_run, q4.ORACLE_STREAMING_DRIFT),
    "multimodal_byte_chunks": (
        q4.q_multimodal_byte_chunks,
        q4.ORACLE_MULTIMODAL_BYTE_CHUNKS,
    ),
    "multimodal_chunk_reassemble": (
        q4.q_multimodal_chunk_reassemble,
        q4.ORACLE_MULTIMODAL_REASSEMBLE,
    ),
    "invisible_char_scrub": (q4.q_invisible_char_scrub, q4.ORACLE_INVISIBLE_SCRUB),
    "embedding_qc": (q4.q_embedding_qc, q4.ORACLE_EMBEDDING_QC),
    "token_coverage_curve": (q4.q_token_coverage_curve, q4.ORACLE_TOKEN_COVERAGE),
    "lang_confusion": (q4.q_lang_confusion, q4._lang_confusion_oracle()),
    "pipe_syntax_revenue": (q4.q_pipe_syntax_revenue, q4.ORACLE_PIPE_SYNTAX_REVENUE),
    "metrics_transpose": (q4.q_metrics_transpose, q4._metrics_transpose_oracle()),
    "script_profile": (q4.q_script_profile, q4.ORACLE_SCRIPT_PROFILE),
    "token_entropy_by_source": (
        q4.q_token_entropy_by_source,
        q4.ORACLE_TOKEN_ENTROPY_BY_SOURCE,
    ),
    "stopword_coverage": (q4.q_stopword_coverage, q4._stopword_coverage_oracle()),

}

#: One representative per SURVEY §2 family that must NEVER rotate out
#: of DRIVER_WINDOW (single source of truth for
#: tests/test_entry.py::test_driver_window_invariants and
#: scripts/rotate_window.py). Trimmed 16 → 8 at r5 (VERDICT r4 next-
#: round #1): one anchor per COARSE family — relational agg
#: (pricing_summary), keyed dedup/conflict (conflict_split_clean),
#: pipeline composition (pipeline_amazon_clean), source+sink roundtrip
#: (csv_roundtrip), streaming drain (events_tumbling), doc dedup
#: (dedup_exact_docs), similarity (cosine_topk), corpus op
#: (pack_sequences) — freeing 8 slots/round for the never-driver-green
#: tail. The 8 dropped anchors (dedup_full_rows, tolerant_numeric,
#: date_normalize, month_datetime, na_canonicalize, upsert_roundtrip,
#: ddl_roundtrip, minhash_signatures, multimodal_metadata) all have
#: ≥1 driver-green row in CORRECTNESS_r0{1..4} and stay locally
#: verified every round by scripts/check_oracle.py.
WINDOW_ANCHORS = (
    "pricing_summary", "conflict_split_clean", "pipeline_amazon_clean",
    "csv_roundtrip", "events_tumbling", "dedup_exact_docs",
    "cosine_topk", "pack_sequences",
)

#: The driver hash-checks the FIRST 50 registry queries. This list IS
#: the window, moved to the front of the catalog by REGISTRY: rotated
#: each round (scripts/rotate_window.py) so every oracle-bearing query
#: eventually earns a driver-green CORRECTNESS row. Coverage by round
#: close: r1-r3 64, r4 85, r5 125 of the frozen registry; never-green
#: tail at r6 open 87 (reproducible as oracle-bearing REGISTRY minus
#: green rows in CORRECTNESS_r0*.json). Two more 42-fresh-slot
#: rotations (r6, r7) cover the tail. Rotate oldest-added first and
#: keep the family anchors asserted by
#: tests/test_entry.py::test_driver_window_invariants.
DRIVER_WINDOW = (
    # r10 rotation (ROTATION_r10_PROPOSAL.txt, generated at r9 close;
    # the r9 window went 50/50 green in CORRECTNESS_r09 so no red-row
    # re-pooling was needed). Pure oldest-stamp-first re-verification:
    # 8 family anchors + 42 slots re-stamping the remaining r4 cohort
    # (JDBC/DDL/multimodal/pyds/streaming state) and the first half of
    # the r5 cohort. The four entries displaced from earlier proposals
    # by changed-path re-verify slots (critical_dropna, null_counts,
    # upsert_roundtrip, incremental_read) lead the non-anchor block so
    # nothing starves. Oldest driver stamp advances r4 -> >=r5.
    "pricing_summary",  # anchor
    "conflict_split_clean",  # anchor
    "pipeline_amazon_clean",  # anchor
    "csv_roundtrip",  # anchor
    "events_tumbling",  # anchor
    "dedup_exact_docs",  # anchor
    "cosine_topk",  # anchor
    "pack_sequences",  # anchor
    "critical_dropna",  # re-verify (last driver stamp r4)
    "null_counts",  # re-verify (last driver stamp r4)
    "upsert_roundtrip",  # re-verify (last driver stamp r4)
    "incremental_read",  # re-verify (last driver stamp r4)
    "ddl_roundtrip",  # re-verify (last driver stamp r4)
    "audit_columns",  # re-verify (last driver stamp r4)
    "summary_stats_exact",  # re-verify (last driver stamp r4)
    "multimodal_metadata",  # re-verify (last driver stamp r4)
    "jdbc_roundtrip",  # re-verify (last driver stamp r4)
    "salted_skew_join",  # re-verify (last driver stamp r4)
    "market_share",  # re-verify (last driver stamp r4)
    "hierarchy_rollup",  # re-verify (last driver stamp r4)
    "resample_gapfill",  # re-verify (last driver stamp r4)
    "schema_drift_merge",  # re-verify (last driver stamp r4)
    "jsonl_roundtrip",  # re-verify (last driver stamp r4)
    "stream_stream_join_run",  # re-verify (last driver stamp r4)
    "pyds_manifest_read",  # re-verify (last driver stamp r4)
    "state_store_read",  # re-verify (last driver stamp r4)
    "pyds_stream_run",  # re-verify (last driver stamp r4)
    "source_token_drift",  # re-verify (last driver stamp r4)
    "char_entropy",  # re-verify (last driver stamp r4)
    "multimodal_byte_chunks",  # re-verify (last driver stamp r4)
    "pipeline_jdbc_load",  # re-verify (last driver stamp r5)
    "explode_tokens",  # re-verify (last driver stamp r5)
    "conditional_agg",  # re-verify (last driver stamp r5)
    "word_jaccard_capped",  # re-verify (last driver stamp r5)
    "exists_late_orders",  # re-verify (last driver stamp r5)
    "nation_volume_pairs",  # re-verify (last driver stamp r5)
    "promo_revenue",  # re-verify (last driver stamp r5)
    "disjunctive_revenue",  # re-verify (last driver stamp r5)
    "customers_no_orders",  # re-verify (last driver stamp r5)
    "rollup_sales",  # re-verify (last driver stamp r5)
    "grouping_sets",  # re-verify (last driver stamp r5)
    "full_outer_nation",  # re-verify (last driver stamp r5)
    "semi_join_customers",  # re-verify (last driver stamp r5)
    "quantile_stats",  # re-verify (last driver stamp r5)
    "corr_stats",  # re-verify (last driver stamp r5)
    "array_funcs",  # re-verify (last driver stamp r5)
    "regexp_stats",  # re-verify (last driver stamp r5)
    "date_buckets",  # re-verify (last driver stamp r5)
    "shingle_jaccard_pairs",  # re-verify (last driver stamp r5)
    "latest_per_key",  # re-verify (last driver stamp r5)
)

#: ORDER MATTERS: the driver's correctness gate hash-checks the FIRST 50
#: entries, so DRIVER_WINDOW leads and the rest keep catalog order.
#: Names, order, functions and oracle text are pinned by
#: tests/registry_snapshot.tsv (tests/test_registry.py).
REGISTRY: dict[str, tuple[QueryFn, str | None]] = {
    n: _CATALOG[n] for n in DRIVER_WINDOW
} | _CATALOG
