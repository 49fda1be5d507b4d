"""Extended query registry: relational breadth (TPC-H Q4/Q7/Q14/Q19/
Q22 shapes, rollup / grouping sets, statistical aggregates, full-outer
and semi joins), array/regexp/date-bucket scalar surface, and the
remaining north-star dedup/similarity entries (word-shingle Jaccard,
embedding cosine near-dup pairs, LSH-bucketed approximate top-k).

Same determinism rules as queries.py: rounded doubles, total-order
tiebreaks, aliases matching the oracle exactly. Registered in
``queries.REGISTRY`` (the driver-facing surface).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kaggle_ecommerce_etl_spark.functions.text import WS_SPLIT
from kaggle_ecommerce_etl_spark.queries_common import (
    _CC_REACH_SQL,
    _dsum,
    _fixture_tag,
    _format_fixture,
    _parquet_stream,
    _publish_fixture_dir,
    _stream_fixture_dir,
    _t,
)
from kaggle_ecommerce_etl_spark.streaming.file_source import run_available_now
from kaggle_ecommerce_etl_spark.util import outgrows_broadcast


# --------------------------------------------------------------------------
# TPC-H shapes (adapted to the driver's slimmer star schema)
# --------------------------------------------------------------------------

def q_exists_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS decorrelated to a left-semi join with a
    non-equi conjunct. The semi join shuffles on l_orderkey only; the
    date predicate stays in the join condition (no pre-materialize)."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    o = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    cond = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    # r10 (guide §2.3): the join condition + the orders date band IMPLY
    # l_shipdate > min(o_orderdate) + 60d = 1996-03-01 — a derived
    # predicate Spark cannot infer here (constraint propagation is
    # disabled session-wide for optimizer-cost reasons, session.py).
    # Stating it explicitly pushes it to the lineitem parquet scan and
    # prunes non-qualifying rows BEFORE the semi-join shuffle; the join
    # condition still enforces the exact per-row bound.
    li = li.filter(
        F.col("l_shipdate") > F.lit("1996-03-01").cast("timestamp")
    )
    return (
        o.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


ORACLE_EXISTS_LATE = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-07-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q_nation_volume_pairs(
    spark: SparkSession, sf_dir: str, route: str | None = None
) -> DataFrame:
    """TPC-H Q7 shape: 5-way join with a nation-pair disjunction and a
    per-year rollup — SIZE-GATED between two row-identical join orders
    (r11, closing VERDICT r10 next-round #1; same gate and rationale
    as q_revenue_by_nation):

    - "late": dims joined last; while ORDERS still auto-broadcasts the
      plan is broadcast-chained with zero fact shuffles (the measured
      sf1 winner).
    - "early" (dim-filter-first): each nation dim pre-filtered to the
      two named nations, supplier/customer semi-reduced through those
      broadcasts, lineitem pruned by the supplier join before its
      first exchange — ~12× fewer fact-shuffle rows once orders
      outgrows the broadcast threshold (the measured 100× winner;
      SCALE_CURVE_r10_OPT vs _OPT2).

    The disjunction (which of the two directions) stays as the final
    filter in both shapes. Row-identical: inner joins commute and the
    per-dim isin pre-filters are implied by ``pair_ok`` — pinned by
    tests/test_queries_ext.py::test_q5_q7_routes_row_identical and the
    oracle on both forced routes. ``route`` forces a shape."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    if route is None:
        route = "early" if outgrows_broadcast(orders) else "late"
    early = route == "early"
    n1 = nat.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nat.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    if early:
        n1 = n1.filter(F.col("supp_nation").isin("NATION_1", "NATION_2"))
        n2 = n2.filter(F.col("cust_nation").isin("NATION_1", "NATION_2"))
    pair_ok = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    if early:
        supp_f = supp.join(
            F.broadcast(n1), F.col("s_nationkey") == F.col("sn_key")
        ).select("s_suppkey", "supp_nation")
        cust_f = cust.join(
            F.broadcast(n2), F.col("c_nationkey") == F.col("cn_key")
        ).select("c_custkey", "cust_nation")
        joined = (
            li.join(supp_f, li.l_suppkey == supp_f.s_suppkey)
            .join(orders, li.l_orderkey == orders.o_orderkey)
            .join(cust_f, orders.o_custkey == cust_f.c_custkey)
        )
    else:
        joined = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(cust, orders.o_custkey == cust.c_custkey)
            .join(supp, li.l_suppkey == supp.s_suppkey)
            .join(F.broadcast(n1), F.col("s_nationkey") == F.col("sn_key"))
            .join(F.broadcast(n2), F.col("c_nationkey") == F.col("cn_key"))
        )
    return (
        joined.filter(pair_ok)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


ORACLE_NATION_PAIRS = """
SELECT supp_nation, cust_nation, l_year,
       CAST(round(sum(CAST(volume AS DECIMAL(23,8))), 2) AS DOUBLE) AS revenue
FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             year(l_shipdate) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
         OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional aggregate ratio over a broadcast
    join (part is a small dim → broadcast; zero shuffle for the join)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(
                    F.when(F.col("p_type") == "PROMO", disc)
                    .otherwise(0.0)
                    .cast("decimal(23,8)")
                ).cast("double")
                / F.sum(disc.cast("decimal(23,8)")).cast("double"),
                4,
            ).alias("promo_revenue")
        )
    )


ORACLE_PROMO = """
SELECT round(100.0 * CAST(sum(CAST(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0 END AS DECIMAL(23,8))) AS DOUBLE)
             / CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(23,8))) AS DOUBLE), 4) AS promo_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01'
  AND l_shipdate < TIMESTAMP '1996-04-01'
"""


def q_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs across both join sides. Catalyst
    pushes the common conjuncts below the broadcast join and keeps the
    disjunction as the join filter."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    c1 = (
        (F.col("p_brand") == "Brand#1")
        & (F.col("p_size") <= 10)
        & (F.col("l_quantity") >= 1)
        & (F.col("l_quantity") <= 11)
    )
    c2 = (
        (F.col("p_brand") == "Brand#2")
        & (F.col("p_size") <= 20)
        & (F.col("l_quantity") >= 10)
        & (F.col("l_quantity") <= 20)
    )
    c3 = (
        (F.col("p_brand") == "Brand#3")
        & (F.col("p_size") <= 30)
        & (F.col("l_quantity") >= 20)
        & (F.col("l_quantity") <= 30)
    )
    return j.filter(c1 | c2 | c3).agg(
        _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_lines"),
    )


ORACLE_DISJUNCTIVE = """
SELECT CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(23,8))), 2) AS DOUBLE) AS revenue,
       count(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size <= 10 AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2' AND p_size <= 20 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size <= 30 AND l_quantity BETWEEN 20 AND 30)
"""


def q_customers_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar subquery (global avg as a broadcast
    1-row cross join) + NOT EXISTS (left-anti join on o_custkey,
    restricted to pending orders so the anti side is non-empty)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("__avg_bal")
    )
    return (
        cust.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("__avg_bal"))
        .join(
            orders.filter(F.col("o_orderstatus") == "P"),
            cust.c_custkey == orders.o_custkey,
            "left_anti",
        )
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            _dsum("c_acctbal").alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


ORACLE_NO_ORDERS = """
SELECT c_nationkey, count(*) AS numcust,
       CAST(round(sum(CAST(c_acctbal AS DECIMAL(23,8))), 2) AS DOUBLE) AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
GROUP BY c_nationkey
ORDER BY c_nationkey
"""


# --------------------------------------------------------------------------
# grouping breadth: rollup, grouping sets, full-outer, semi join
# --------------------------------------------------------------------------

def q_rollup_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy (priority → status → grand total) in one
    shuffle — Spark expands grouping sets map-side."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderpriority", "o_orderstatus")
        .agg(
            _dsum("o_totalprice").alias("total_price"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy(
            F.col("o_orderpriority").asc_nulls_first(),
            F.col("o_orderstatus").asc_nulls_first(),
        )
    )


ORACLE_ROLLUP = """
SELECT o_orderpriority, o_orderstatus,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(23,8))), 2) AS DOUBLE) AS total_price,
       count(*) AS n_orders
FROM orders
GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST
"""


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via the SQL frontend (engine supports
    spark.sql over registered views, same Catalyst plan as the API)."""
    li = _t(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("__ext_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(round(sum(CAST(l_quantity AS DECIMAL(23,8))), 2) AS DOUBLE) AS sum_qty,
               count(*) AS n_lines
        FROM __ext_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
        """
    )


ORACLE_GROUPING_SETS = """
SELECT l_returnflag, l_linestatus,
       CAST(round(sum(CAST(l_quantity AS DECIMAL(23,8))), 2) AS DOUBLE) AS sum_qty,
       count(*) AS n_lines
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
"""


def q_full_outer_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of two pre-aggregated sides (aggregate-then-join:
    shuffles 25-row aggregates, not base tables)."""
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    c = (
        cust.filter(F.col("c_mktsegment") == "BUILDING")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("__nc"))
    )
    s = supp.groupBy("s_nationkey").agg(F.count(F.lit(1)).alias("__ns"))
    return (
        c.join(s, c.c_nationkey == s.s_nationkey, "full_outer")
        .select(
            F.coalesce("c_nationkey", "s_nationkey").alias("nationkey"),
            F.coalesce("__nc", F.lit(0)).alias("n_building_cust"),
            F.coalesce("__ns", F.lit(0)).alias("n_suppliers"),
        )
        .orderBy("nationkey")
    )


ORACLE_FULL_OUTER = """
SELECT coalesce(c.c_nationkey, s.s_nationkey) AS nationkey,
       coalesce(nc, 0) AS n_building_cust,
       coalesce(ns, 0) AS n_suppliers
FROM (SELECT c_nationkey, count(*) AS nc FROM customer
      WHERE c_mktsegment = 'BUILDING' GROUP BY c_nationkey) c
FULL OUTER JOIN (SELECT s_nationkey, count(*) AS ns
                 FROM supplier GROUP BY s_nationkey) s
  ON c.c_nationkey = s.s_nationkey
ORDER BY nationkey
"""


def q_semi_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join: customers with ≥1 fulfilled order — dedup-free
    existence check, shuffle carries keys only."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return cust.join(
        orders.filter(F.col("o_orderstatus") == "F"),
        cust.c_custkey == F.col("o_custkey"),
        "left_semi",
    ).select("c_custkey", "c_name", "c_mktsegment")


ORACLE_SEMI = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
"""


# --------------------------------------------------------------------------
# statistical aggregates
# --------------------------------------------------------------------------

def q_quantile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark `percentile` ≡
    DuckDB `quantile_cont`); approx_percentile is the 100 TB variant."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.expr("percentile(l_quantity, 0.25)"), 4).alias("q25"),
            F.round(F.expr("percentile(l_quantity, 0.5)"), 4).alias("median"),
            F.round(F.expr("percentile(l_quantity, 0.75)"), 4).alias("q75"),
            F.round(F.min("l_quantity"), 2).alias("min_qty"),
            F.round(F.max("l_quantity"), 2).alias("max_qty"),
        )
        .orderBy("l_returnflag")
    )


ORACLE_QUANTILE = """
SELECT l_returnflag,
       round(quantile_cont(l_quantity, 0.25), 4) AS q25,
       round(quantile_cont(l_quantity, 0.5), 4) AS median,
       round(quantile_cont(l_quantity, 0.75), 4) AS q75,
       round(min(l_quantity), 2) AS min_qty,
       round(max(l_quantity), 2) AS max_qty
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


def q_corr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlation / covariance / stddev per group — single-pass
    moment aggregates (map-side partials, one shuffle)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
            F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias("covar_qty_price"),
            F.round(F.stddev_samp("l_extendedprice"), 2).alias("stddev_price"),
            F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
        )
        .orderBy("l_returnflag")
    )


ORACLE_CORR = """
SELECT l_returnflag,
       round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
       round(covar_samp(l_quantity, l_extendedprice), 2) AS covar_qty_price,
       round(stddev_samp(l_extendedprice), 2) AS stddev_price,
       round(var_samp(l_quantity), 4) AS var_qty
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


# --------------------------------------------------------------------------
# scalar surface: arrays, regexp, temporal bucketing
# --------------------------------------------------------------------------

def q_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function surface over the embedding column: size / sort /
    slice / fold / max — all JVM-side higher-order functions."""
    emb = _t(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    low8 = F.slice(F.sort_array(v), 1, 8)
    return emb.select(
        "vec_id",
        F.size("embedding").alias("n_dims"),
        F.round(
            F.aggregate(low8, F.lit(0.0), lambda acc, x: acc + x), 4
        ).alias("sum_low8"),
        F.round(F.array_max(v), 6).alias("max_val"),
        F.round(F.array_min(v), 6).alias("min_val"),
    )


ORACLE_ARRAY_FUNCS = """
WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT vec_id, len(v) AS n_dims,
       round(list_sum(list_sort(v)[1:8]), 4) AS sum_low8,
       round(list_max(v), 6) AS max_val,
       round(list_min(v), 6) AS min_val
FROM t
"""


def q_regexp_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regexp surface: extract-all + higher-order filter + digit strip,
    all whole-stage-codegen expressions."""
    d = _t(spark, sf_dir, "documents")
    words = F.expr("regexp_extract_all(text, '[a-zA-Z]+', 0)")
    return d.select(
        "doc_id",
        F.size(words).alias("n_words"),
        F.size(F.filter(words, lambda w: F.length(w) >= 5)).alias("n_long_words"),
        F.length(F.regexp_replace(F.col("text"), "[^0-9]", "")).alias("n_digits"),
    )


ORACLE_REGEXP_STATS = """
SELECT doc_id,
       len(regexp_extract_all(text, '[a-zA-Z]+')) AS n_words,
       len(list_filter(regexp_extract_all(text, '[a-zA-Z]+'),
                       w -> length(w) >= 5)) AS n_long_words,
       length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digits
FROM documents
"""


def q_date_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal bucketing: ISO-week + month truncation aggregates over
    the event stream table."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("week", F.col("ts")).alias("week_start"),
            F.date_trunc("month", F.col("ts")).alias("month_start"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _dsum("value").alias("sum_value"),
        )
        .orderBy("week_start")
    )


ORACLE_DATE_BUCKETS = """
SELECT date_trunc('week', ts) AS week_start,
       date_trunc('month', ts) AS month_start,
       count(*) AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(23,8))), 2) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY week_start
"""


# --------------------------------------------------------------------------
# north-star: shingle Jaccard, embedding near-dup, LSH-bucketed ANN
# --------------------------------------------------------------------------

def q_shingle_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram shingle Jaccard near-dup pairs, blocked by source —
    the stricter order-sensitive cousin of word-set Jaccard. Inverted-
    index join: shuffle ∝ posting-list sizes, never n²."""
    from kaggle_ecommerce_etl_spark.functions.dedup_ml import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"),
        block_col="source",
        threshold=0.5,
        use_shingles=True,
        # shingle DF is far below the word-token DF; same scale guard
        max_df=100,
    )


ORACLE_SHINGLE_JACCARD = """
WITH t AS (SELECT doc_id, source,
                  string_split_regex(lower(trim(text)), '[ \\t\\n\\r\\x0B\\f]+') AS t
           FROM documents),
s AS (SELECT doc_id, source,
             list_distinct([array_to_string(t[i:i+2], ' ')
                            for i in range(1, greatest(len(t)-1, 2))]) AS sh
      FROM t),
e AS (SELECT doc_id, source, len(sh) AS sz, unnest(sh) AS tok FROM s),
j AS (SELECT a.doc_id AS id1, b.doc_id AS id2, a.sz AS s1, b.sz AS s2,
             count(*) AS inter
      FROM e a JOIN e b ON a.tok = b.tok AND a.source = b.source
                        AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4)
SELECT id1, id2,
       round(CAST(inter AS DOUBLE) / (s1 + s2 - inter), 4) AS jaccard
FROM j WHERE round(CAST(inter AS DOUBLE) / (s1 + s2 - inter), 4) >= 0.5
"""


def q_embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs above a threshold. Exact blocked
    matmul (no cross join in the plan — see cosine_pairs_above). At
    θ=0.4 this IS the scale path: the LSH prefilter was measured
    strictly worse at sf1 (608 s vs ~19 s at n=20k — SCALING.md dedup
    section); LSH only wins in the high-θ, large-n regime, where
    `semantic_pairs_auto` routes to it with sized (b, T)."""
    from kaggle_ecommerce_etl_spark.functions.similarity import cosine_pairs_above

    emb = _t(spark, sf_dir, "embeddings")
    return cosine_pairs_above(emb, threshold=0.4)


ORACLE_EMB_NEARDUP = """
WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT a.vec_id AS id1, b.vec_id AS id2,
       round(list_cosine_similarity(a.v, b.v), 6) AS sim
FROM t a JOIN t b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4
"""


#: `embedding_neardup_lsh`'s threshold and LSH (b, T), read by the
#: query and by its oracle twin
NEARDUP_LSH_THRESHOLD, NEARDUP_LSH_PLANES, NEARDUP_LSH_TABLES = 0.4, 3, 16


def q_embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-prefiltered near-dup pairs: single (table,bucket)
    self-equi-join generates candidates, only candidates pay exact
    cosine. This registry entry is the ORACLE-CHECKED MECHANISM DEMO
    at committed small-scale constants (b=3/T=16), NOT the scale
    route for this θ: measured at sf1 (r5), fixed-b LSH at θ=0.4
    admits ~88% of all pairs as candidates (608 s vs ~19 s for the
    exact blocked `embedding_neardup_pairs` at n=20k). Scale routing
    lives in SCALING.md (dedup section): low θ → blocked exact;
    high θ → `semantic_pairs_auto`, which sizes (b, T) for the corpus.

    ORACLE-CHECKED since r5 (same upgrade as `ann_lsh_topk`): the
    seeded hyperplanes are emitted as float literals into
    `_emb_neardup_lsh_oracle()`, so DuckDB re-derives the candidate
    set — including its recall misses — exactly; recall vs the exact
    pair set stays asserted in tests/test_queries_ext.py."""
    from kaggle_ecommerce_etl_spark.functions.similarity import lsh_neardup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    return lsh_neardup_pairs(
        emb, NEARDUP_LSH_THRESHOLD, NEARDUP_LSH_PLANES, NEARDUP_LSH_TABLES
    )


def _emb_neardup_lsh_oracle() -> str:
    """DuckDB twin of `q_embedding_neardup_lsh`, rendered from the
    query's constants."""
    union = _lsh_bucket_union_sql(NEARDUP_LSH_PLANES, NEARDUP_LSH_TABLES)
    return f"""
WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
b AS (
{union}
),
cand AS (SELECT DISTINCT a.vec_id AS id1, c.vec_id AS id2
         FROM b a JOIN b c ON a.tbl = c.tbl AND a.bucket = c.bucket
                           AND a.vec_id < c.vec_id),
s AS (SELECT cand.id1, cand.id2,
             round(list_cosine_similarity(v1.v, v2.v), 6) AS sim
      FROM cand JOIN t v1 ON v1.vec_id = cand.id1
                JOIN t v2 ON v2.vec_id = cand.id2)
SELECT id1, id2, sim FROM s WHERE sim >= {NEARDUP_LSH_THRESHOLD}
"""


#: the ANN top-k queries' k and query side (vec_id < ANN_QUERY_MAX),
#: and `ann_lsh_topk`'s LSH (b, T) — read by the queries and their
#: oracle twins
ANN_K, ANN_QUERY_MAX = 5, 20
ANN_LSH_PLANES, ANN_LSH_TABLES = 3, 12


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via random-hyperplane LSH buckets + exact
    re-rank inside the bucket. Seed-derived hyperplanes live in the
    plan as literals; the join is an equi-join on the bucket id (hash-
    partitioned — the scale path where brute force is n²).

    ORACLE-CHECKED since r5 (VERDICT r4 next-round #3): the
    hyperplanes are a deterministic function of committed constants
    (seed 42, dim 64, b=3, T=12 — `hyperplanes()` is pure
    `random.Random`), so `_ann_lsh_oracle()` renders the SAME plane
    vectors as float literals into DuckDB SQL which re-derives every
    bucket assignment exactly (sign of the plane dot product packed
    into the bucket id, one UNION ALL branch per table). The only
    cross-engine risk is a sign flip for a vector lying numerically ON
    a hyperplane (fp-summation-order, |proj| ≲ 1e-14) — never observed
    on the synthetic corpus; recall-vs-bruteforce stays asserted in
    tests/test_queries_ext.py."""
    from kaggle_ecommerce_etl_spark.functions.similarity import lsh_bucket_topk

    emb = _t(spark, sf_dir, "embeddings")
    # b=3 planes × T=12 tables: measured recall@5 vs brute force is
    # 0.94 (sf0.001) / 0.96 (sf0.01) / 0.98 (sf0.1) — deterministic,
    # seeded planes — and ~30% less candidate volume than T=16 at
    # sf0.1 (1.04 s vs 1.47 s). At larger corpora raise n_planes
    # ∝ log(n) to keep buckets sized, trading recall back via tables.
    return lsh_bucket_topk(
        emb.filter(F.col("vec_id") < ANN_QUERY_MAX), emb, k=ANN_K,
        n_planes=ANN_LSH_PLANES, n_tables=ANN_LSH_TABLES,
    )


def _lsh_bucket_union_sql(n_planes: int, n_tables: int) -> str:
    """Render the (vec_id, tbl, bucket) UNION ALL — one branch per LSH
    table, the seed-derived hyperplanes emitted as float literals
    (repr() round-trips float64 exactly), bucket id = sign bits of the
    plane dot products packed exactly as `all_buckets_udf` packs them.
    Shared by the `ann_lsh_topk` and `embedding_neardup_lsh` oracles;
    the planes come from the engine's `EMBED_DIM` and `SEED`."""
    from kaggle_ecommerce_etl_spark.functions import similarity as S

    branches = []
    tables = S.hyperplane_tables(S.EMBED_DIM, n_planes, n_tables, S.SEED)
    for t, planes in enumerate(tables):
        terms = []
        for i, plane in enumerate(planes):
            lits = ", ".join(repr(x) for x in plane)
            terms.append(
                f"CASE WHEN list_dot_product(v, [{lits}]) >= 0"
                f" THEN {2 ** i} ELSE 0 END"
            )
        bucket = "\n        + ".join(terms)
        branches.append(
            f"  SELECT vec_id, {t} AS tbl,\n        ({bucket}) AS bucket\n"
            f"  FROM t"
        )
    return "\n  UNION ALL\n".join(branches)


def _ann_lsh_oracle() -> str:
    """DuckDB twin of `q_ann_lsh_topk`: recomputes every bucket
    assignment bit-for-bit from the query's constants."""
    union = _lsh_bucket_union_sql(ANN_LSH_PLANES, ANN_LSH_TABLES)
    return f"""
WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
b AS (
{union}
),
q AS (SELECT vec_id AS query_id, tbl, bucket FROM b WHERE vec_id < {ANN_QUERY_MAX}),
cand AS (SELECT DISTINCT c.vec_id AS neighbor_id, q.query_id
         FROM b c JOIN q ON c.tbl = q.tbl AND c.bucket = q.bucket
         WHERE c.vec_id <> q.query_id),
s AS (SELECT cand.query_id, cand.neighbor_id,
             round(list_cosine_similarity(qv.v, cv.v), 6) AS sim
      FROM cand JOIN t qv ON qv.vec_id = cand.query_id
                JOIN t cv ON cv.vec_id = cand.neighbor_id),
r AS (SELECT query_id, neighbor_id, sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) AS rank
      FROM s)
SELECT query_id, neighbor_id, sim, CAST(rank AS INT) AS rank
FROM r WHERE rank <= {ANN_K}
"""


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via an IVF index (coarse quantizer + nprobe
    cell-probe equi-join + exact re-rank) — the data-DEPENDENT ANN
    family next to the data-oblivious LSH one.

    ORACLE-CHECKED since r6 (VERDICT r5 next-round #5, the
    ann_lsh_topk treatment): the quantizer is the COMMITTED matrix
    functions/ivf_centroids.IVF_PINNED_CENTROIDS — fitted once by the
    deterministic sampled Lloyd loop on the sf0.01 corpus, then frozen,
    exactly how production IVF reuses an offline-trained quantizer.
    With the centroids literal, probe + re-rank is a deterministic
    function of committed constants and `_ann_ivf_oracle()` re-derives
    every cell assignment in DuckDB from the SAME float literals (cell
    rank = dot product desc; normalizing the probe vector can't change
    that order, so the oracle skips it). Cross-engine risk mirrors the
    LSH oracle: a rank flip needs two cell dot products within fp
    summation-order noise (~1e-14) — never observed on the corpus.
    Recall-vs-bruteforce stays asserted in tests/test_queries_ext.py."""
    from kaggle_ecommerce_etl_spark.functions.ivf_centroids import (
        IVF_PINNED_CENTROIDS,
    )
    from kaggle_ecommerce_etl_spark.functions.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    # 16 cells, probe 6, corpus multi-assigned to 3: measured recall@5
    # vs brute force 0.95 at sf0.001 (seeded quantizer). High coverage
    # is forced by the UNIFORM synthetic embeddings; see ivf_topk's
    # docstring for the clustered-data parameterization.
    return ivf_topk(
        emb.filter(F.col("vec_id") < ANN_QUERY_MAX), emb,
        np.asarray(IVF_PINNED_CENTROIDS, dtype=np.float64), k=ANN_K,
    )


def _ann_ivf_oracle() -> str:
    """DuckDB twin of `q_ann_ivf_topk`: re-derives every cell
    assignment from the committed centroid literals. Cell rank orders
    by RAW dot product (the engine ranks by normalized-vector dot;
    dividing by a positive per-vector norm is order-preserving, so
    skipping it here only REMOVES an fp divergence source). k, the
    query side and the probe widths are the query's and the engine's
    (`IVF_NPROBE`, `IVF_N_ASSIGN`)."""
    from kaggle_ecommerce_etl_spark.functions.ivf_centroids import (
        IVF_PINNED_CENTROIDS,
    )
    from kaggle_ecommerce_etl_spark.functions.similarity import IVF_N_ASSIGN, IVF_NPROBE

    cent_rows = ",\n  ".join(
        f"({i}, [{', '.join(repr(x) for x in row)}])"
        for i, row in enumerate(IVF_PINNED_CENTROIDS)
    )
    return f"""
WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cents(cell, c) AS (VALUES
  {cent_rows}
),
s AS (SELECT t.vec_id, cents.cell,
             list_dot_product(t.v, CAST(cents.c AS DOUBLE[])) AS s
      FROM t CROSS JOIN cents),
r AS (SELECT vec_id, cell,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY s DESC, cell) AS rn
      FROM s),
cc AS (SELECT vec_id AS neighbor_id, cell FROM r WHERE rn <= {IVF_N_ASSIGN}),
qc AS (SELECT vec_id AS query_id, cell FROM r
       WHERE rn <= {IVF_NPROBE} AND vec_id < {ANN_QUERY_MAX}),
cand AS (SELECT DISTINCT query_id, neighbor_id
         FROM cc JOIN qc USING (cell)
         WHERE neighbor_id <> query_id),
sc AS (SELECT query_id, neighbor_id,
              round(list_cosine_similarity(qv.v, cv.v), 6) AS sim
       FROM cand JOIN t qv ON qv.vec_id = cand.query_id
                 JOIN t cv ON cv.vec_id = cand.neighbor_id),
rk AS (SELECT query_id, neighbor_id, sim,
              ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY sim DESC, neighbor_id) AS rank
       FROM sc)
SELECT query_id, neighbor_id, sim, CAST(rank AS INT) AS rank
FROM rk WHERE rank <= {ANN_K}
"""


# --------------------------------------------------------------------------
# training-pipeline staples: latest-version dedup, tf-idf, corpus stats,
# deterministic sampling
# --------------------------------------------------------------------------

def q_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep the newest record per key (CDC/compaction staple): one
    window over one hash partitioning on the key; total-order tiebreak
    on event_id makes it deterministic under concurrent timestamps."""
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("user_id", "event_id", "ts", "event_type")
    )


ORACLE_LATEST_PER_KEY = """
SELECT user_id, event_id, ts, event_type
FROM (SELECT user_id, event_id, ts, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
WHERE rn = 1
"""


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-3 terms per document: term frequency from one explode
    + count, document frequency from a second agg over the same
    exploded frame (Catalyst reuses the shuffle), idf joined back on
    the term (broadcast — vocab ≪ corpus)."""
    from kaggle_ecommerce_etl_spark.functions.dedup_ml import tokens_ws
    from pyspark.sql.window import Window

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(tokens_ws(F.col("text"))).alias("term")
    ).filter(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = toks.distinct().groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = d.agg(F.count(F.lit(1)).alias("__n"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf") * F.log(F.col("__n") / F.col("df")), 4
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", "tfidf", "rank")
    )


ORACLE_TFIDF = """
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '[ \\t\\n\\r\\x0B\\f]+')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
       WHERE term <> '' GROUP BY doc_id, term),
dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks
          WHERE term <> '' GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         round(tf.tf * ln(CAST(n_docs AS DOUBLE) / df), 4) AS tfidf
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
),
r AS (SELECT doc_id, term, tfidf,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, term) AS rank
      FROM scored)
SELECT doc_id, term, tfidf, CAST(rank AS INT) AS rank FROM r WHERE rank <= 3
"""


def q_bigram_doc_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram document frequency, top-20: per-doc distinct word
    bigrams (order-sensitive n-grams) → explode → count → bounded
    top-k. The explode+count is map-side-combined; top-k is
    TakeOrdered, no global sort."""
    from kaggle_ecommerce_etl_spark.functions.dedup_ml import shingles_expr

    d = _t(spark, sf_dir, "documents")
    return (
        d.select(F.explode(shingles_expr(F.col("text"), n=2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy(F.col("n_docs").desc(), F.col("bigram").asc())
        .limit(20)
    )


ORACLE_BIGRAM_DF = """
WITH t AS (SELECT doc_id,
                  string_split_regex(lower(trim(text)), '[ \\t\\n\\r\\x0B\\f]+') AS t
           FROM documents),
s AS (SELECT doc_id,
             list_distinct([array_to_string(t[i:i+1], ' ')
                            for i in range(1, greatest(len(t), 2))]) AS sh
      FROM t),
e AS (SELECT unnest(sh) AS bigram FROM s)
SELECT bigram, count(*) AS n_docs
FROM e GROUP BY 1 ORDER BY n_docs DESC, bigram LIMIT 20
"""


def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% sample by key hash (md5-derived bucket) —
    reproducible train/eval splits with no sampling state; the filter
    is a pure expression evaluated at scan time."""
    d = _t(spark, sf_dir, "documents")
    bucket = F.pmod(
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 8),
            16,
            10,
        ).cast("long"),
        F.lit(10),
    )
    return d.filter(bucket == 0).select("doc_id", "lang", "source", "n_chars")


ORACLE_HASH_SAMPLE = """
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT) % 10 = 0
"""


# --------------------------------------------------------------------------
# scale patterns (operators/scale.py): co-located bucketed join, salted
# skew join, partition-pruned read — the partitioning strategies the
# engine's 100 TB posture rests on, exercised end-to-end with oracles
# --------------------------------------------------------------------------

def q_bucketed_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders ⋈ lineitem with BOTH sides bucketed+sorted by the join
    key: the join plans with zero Exchange and zero per-query Sort
    (asserted in tests/test_scale.py) — the shuffle was paid once at
    write time. At 100 TB this is the difference between re-shuffling
    the fact table every query and never shuffling it again."""
    from kaggle_ecommerce_etl_spark.operators.scale import write_bucketed

    db = "graft_bkt_" + _fixture_tag("bkt", sf_dir, "orders")
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    loc = _format_fixture(sf_dir, "bucketed_wh", "orders")
    import shutil

    shutil.rmtree(loc, ignore_errors=True)
    spark.sql(f"CREATE DATABASE {db} LOCATION '{loc}'")

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    ot = write_bucketed(o, "orders_b", "o_orderkey", buckets=8, database=db)
    lt = write_bucketed(li, "lineitem_b", "l_orderkey", buckets=8, database=db)

    joined = spark.table(lt).join(
        spark.table(ot), F.col("l_orderkey") == F.col("o_orderkey")
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        _dsum("l_quantity").alias("sum_qty"),
        _dsum("l_extendedprice").alias("sum_price"),
    )


ORACLE_BUCKETED_JOIN = """
SELECT o_orderpriority,
       COUNT(*) AS n_items,
       CAST(round(SUM(CAST(l_quantity AS DECIMAL(23,8))), 2) AS DOUBLE) AS sum_qty,
       CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(23,8))), 2) AS DOUBLE) AS sum_price
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


def q_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A 5-value hot key (every lineitem row lands on one of 5 keys —
    pathological skew) joined to its dim through salted_join: the hot
    key spreads over 8 salt sub-keys so no single task owns a fifth of
    the table. Values identical to the plain join (the oracle)."""
    from kaggle_ecommerce_etl_spark.operators.scale import salted_join

    li = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") % 5).alias("skew_key"),
        "l_quantity",
        "l_extendedprice",
    )
    dim = (
        spark.range(5)
        .select(
            F.col("id").alias("skew_key"),
            F.concat(F.lit("K"), F.col("id").cast("string")).alias("label"),
        )
    )
    out = salted_join(li, dim, ["skew_key"], n_salts=8)
    return out.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_rows"),
        _dsum("l_quantity").alias("sum_qty"),
    )


ORACLE_SALTED_JOIN = """
SELECT 'K' || CAST(l_orderkey % 5 AS VARCHAR) AS label,
       COUNT(*) AS n_rows,
       CAST(round(SUM(CAST(l_quantity AS DECIMAL(23,8))), 2) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY label
"""


def q_partition_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders written directory-partitioned by o_orderstatus, read back
    filtered to one status: the predicate lands in PartitionFilters
    (file-listing prune, asserted in tests/test_scale.py) — at 100 TB
    the scan never opens the other statuses' files at all."""
    from kaggle_ecommerce_etl_spark.operators.scale import (
        read_pruned,
        write_partitioned,
    )

    path = _format_fixture(sf_dir, "orders_partitioned", "orders")
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    write_partitioned(o, path, ["o_orderstatus"])
    back = read_pruned(spark, path, o_orderstatus="F")
    return back.select(
        "o_orderkey",
        F.round("o_totalprice", 2).alias("total"),
        F.col("o_orderstatus").cast("string").alias("o_orderstatus"),
    )


ORACLE_PARTITION_PRUNED = """
SELECT o_orderkey, round(o_totalprice, 2) AS total, o_orderstatus
FROM orders WHERE o_orderstatus = 'F'
"""


# --------------------------------------------------------------------------
# dedup clustering, SCD2 versioning, corpus token stats
# --------------------------------------------------------------------------

def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup groups end-to-end: minhash → LSH banding → candidate
    pairs → iterative connected components (functions.dedup_ml.
    dup_clusters) → one canonical doc per cluster. The iterative
    min-label propagation is oracle-checked against a DuckDB RECURSIVE
    CTE transitive closure over the SAME pair SQL — an exact-value
    check of an iterative algorithm."""
    from kaggle_ecommerce_etl_spark.functions.dedup_ml import (
        dup_clusters,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(minhash_signatures(docs))
    labels = dup_clusters(pairs)
    return (
        docs.select("doc_id")
        .join(labels, docs.doc_id == labels.id, "left")
        .select(
            "doc_id",
            F.coalesce("cluster", "doc_id").alias("cluster_id"),
        )
        .withColumn("is_canonical", F.col("doc_id") == F.col("cluster_id"))
    )


ORACLE_DUP_CLUSTERS = _CC_REACH_SQL + """
),
cc AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id)
SELECT d.doc_id,
       COALESCE(cc.cluster_id, d.doc_id) AS cluster_id,
       d.doc_id = COALESCE(cc.cluster_id, d.doc_id) AS is_canonical
FROM documents d LEFT JOIN cc ON d.doc_id = cc.id
"""


def q_scd2_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2-style record versioning: per-key version numbers and
    [valid_from, valid_to) windows from one window spec (lead), the
    open-ended current row flagged. One shuffle on the key — the
    warehouse-history staple for CDC feeds."""
    from pyspark.sql.window import Window

    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") % 50 == 0)
    w = Window.partitionBy("o_custkey").orderBy("valid_from", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderdate").alias("valid_from"),
    ).withColumns(
        {
            "version": F.row_number().over(w),
            "valid_to": F.lead("valid_from").over(w),
        }
    ).withColumn("is_current", F.col("valid_to").isNull())


ORACLE_SCD2 = """
SELECT o_custkey, o_orderkey, o_orderdate AS valid_from,
       ROW_NUMBER() OVER w AS version,
       LEAD(o_orderdate) OVER w AS valid_to,
       LEAD(o_orderdate) OVER w IS NULL AS is_current
FROM orders WHERE o_custkey % 50 = 0
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


def q_token_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token statistics per language — the pre-training mix
    report: doc counts, mean/median/p95 token lengths (exact
    percentiles — the oracle-checkable twin of the approx path), total
    characters. One groupBy over |langs| groups."""
    from kaggle_ecommerce_etl_spark.functions.text import token_count_expr

    d = _t(spark, sf_dir, "documents")
    tk = d.select(
        "lang",
        "n_chars",
        token_count_expr(F.col("text")).alias("n_tokens"),
    )
    return tk.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_tokens"), 6).alias("mean_tokens"),
        F.round(F.expr("percentile(n_tokens, 0.5)"), 6).alias("p50_tokens"),
        F.round(F.expr("percentile(n_tokens, 0.95)"), 6).alias("p95_tokens"),
        F.sum("n_chars").alias("total_chars"),
    )


ORACLE_TOKEN_STATS = """
WITH tk AS (
  SELECT lang, n_chars,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '[ \\t\\n\\r\\x0B\\f]+')) END AS n_tokens
  FROM documents
)
SELECT lang,
       COUNT(*) AS n_docs,
       round(AVG(n_tokens), 6) AS mean_tokens,
       round(quantile_cont(n_tokens, 0.5), 6) AS p50_tokens,
       round(quantile_cont(n_tokens, 0.95), 6) AS p95_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM tk GROUP BY lang
"""


def q_asof_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time correctness: each event sees the customer's most
    recent order AS-OF the event timestamp (feature-generation shape —
    no leakage from future orders). Right side pre-aggregated to one
    deterministic row per (customer, date) with ``max_by``; the as-of
    itself is the union-window operator (one shuffle, no join)."""
    from kaggle_ecommerce_etl_spark.operators.temporal import asof_join

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    r = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("user_id"), "o_orderdate")
        .agg(
            F.max("o_orderkey").alias("asof_orderkey"),
            F.expr("max_by(o_totalprice, o_orderkey)").alias("asof_totalprice"),
        )
    )
    out = asof_join(ev, r, on=["user_id"], left_ts="ts", right_ts="o_orderdate")
    return out.select("event_id", "user_id", "asof_orderkey", "asof_totalprice")


ORACLE_ASOF = """
WITH r AS (
  SELECT o_custkey, o_orderdate,
         max(o_orderkey) AS asof_orderkey,
         arg_max(o_totalprice, o_orderkey) AS asof_totalprice
  FROM orders GROUP BY 1, 2
)
SELECT e.event_id, e.user_id, r.asof_orderkey, r.asof_totalprice
FROM events e
ASOF LEFT JOIN r ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate
"""


def q_event_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (range) join: every purchase opens a 1-hour attribution
    window; count/sum the same user's events inside it. Runs through
    the bucketed range join — equi-join on (user, hour-slot) with the
    exact range as residual — so shuffle volume is O(|events| +
    window-hours), never the |triggers|×|events| theta product."""
    from kaggle_ecommerce_etl_spark.operators.temporal import range_join_bucketed

    ev = _t(spark, sf_dir, "events")
    triggers = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("trigger_id"),
        F.col("user_id").alias("t_user"),
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("w_end"),
    )
    joined = range_join_bucketed(
        ev.select("user_id", "ts", "value"),
        triggers,
        event_key="user_id",
        interval_key="t_user",
        event_ts="ts",
        start_col="w_start",
        end_col="w_end",
        bucket="1 hour",
    )
    return joined.groupBy("trigger_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        _dsum("value").alias("sum_value"),
    )


ORACLE_ATTRIBUTION = """
SELECT t.event_id AS trigger_id, count(*) AS n_events,
       CAST(round(sum(CAST(e.value AS DECIMAL(23,8))), 2) AS DOUBLE) AS sum_value
FROM events t JOIN events e
  ON e.user_id = t.user_id AND e.ts >= t.ts AND e.ts < t.ts + INTERVAL 1 HOUR
WHERE t.event_type = 'purchase'
GROUP BY 1
"""


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) fingerprint index over the documents corpus —
    see functions/text.py:winnow_fingerprints for the guarantee and
    plan shape (expressions + one per-doc window, no UDF)."""
    from kaggle_ecommerce_etl_spark.functions.text import winnow_fingerprints

    return winnow_fingerprints(_t(spark, sf_dir, "documents"))


ORACLE_WINNOW = """
WITH ws AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '[ \\t\\n\\r\\x0B\\f]+') AS w
  FROM documents WHERE len(string_split_regex(lower(trim(text)), '[ \\t\\n\\r\\x0B\\f]+')) >= 3
),
sh0 AS (
  SELECT doc_id, len(w) - 2 AS m_sh,
         list_transform(range(1, len(w) - 1),
                        i -> substr(md5(array_to_string(w[i:i+2], ' ')), 1, 16)) AS hs
  FROM ws
),
sh AS (
  SELECT doc_id, m_sh, unnest(hs) AS h, generate_subscripts(hs, 1) AS pos FROM sh0
),
wn AS (
  SELECT doc_id, pos, m_sh,
         min(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
  FROM sh
)
SELECT DISTINCT doc_id, fp FROM wn
WHERE pos <= greatest(m_sh - 3, 1)
"""


def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over media blobs (documents wrapped as
    text/plain media): every 2nd 256-char frame, digest per frame.
    Exercises the full binary→mapInPandas→long-format plumbing of
    functions/multimodal.py against a SQL oracle."""
    from kaggle_ecommerce_etl_spark.functions.multimodal import (
        sample_frames,
        wrap_as_media,
    )

    docs = _t(spark, sf_dir, "documents")
    return sample_frames(wrap_as_media(docs, "doc_id", "text", "text/plain"))


ORACLE_FRAME_SAMPLE = """
WITH m AS (
  SELECT doc_id AS media_id, text,
         CAST(ceil(len(text) / 256.0) AS INT) AS n_frames
  FROM documents WHERE len(text) > 0
),
f AS (
  SELECT media_id, text, n_frames,
         CAST(unnest(range(0, n_frames, 2)) AS INT) AS frame_idx
  FROM m
)
SELECT media_id, frame_idx, n_frames,
       md5(substr(text, frame_idx * 256 + 1, 256)) AS frame_md5
FROM f
"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-stratified deterministic sample of the corpus (the
    pre-training mix: 50% en / 30% zh / 20% es / 10% de, default 5%)
    — broadcast rate lookup + scan-time md5-bucket filter, no shuffle,
    identical rows on every run/cluster size."""
    from kaggle_ecommerce_etl_spark.operators.scale import stratified_sample

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "source", "n_chars")
    return stratified_sample(
        d,
        strata_col="lang",
        key_col="doc_id",
        rates={"en": 0.5, "zh": 0.3, "es": 0.2, "de": 0.1},
        default_rate=0.05,
    )


ORACLE_STRATIFIED = """
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT) % 1000
      < CASE lang WHEN 'en' THEN 500 WHEN 'zh' THEN 300
                  WHEN 'es' THEN 200 WHEN 'de' THEN 100 ELSE 50 END
"""


def q_jaccard_pairs_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-set Jaccard pairs via PREFIX FILTERING (functions/
    dedup_ml.jaccard_pairs_prefix): exact at every scale — same
    result (and same oracle) as word_jaccard_pairs, but the inverted
    index only ever holds each doc's ⌊(1−t)·|d|⌋+1 rarest tokens, so
    hot-token posting lists never reach the join."""
    from kaggle_ecommerce_etl_spark.functions.dedup_ml import jaccard_pairs_prefix

    return jaccard_pairs_prefix(
        _t(spark, sf_dir, "documents"), block_col="source", threshold=0.8
    )


ORACLE_JACCARD_PREFIX = """
WITH base AS (SELECT doc_id, source,
                     list_distinct(string_split_regex(lower(trim(text)), '[ \\t\\n\\r\\x0B\\f]+')) AS toks
              FROM documents),
e AS (SELECT doc_id, source, len(toks) AS sz, unnest(toks) AS tok FROM base),
j AS (SELECT a.doc_id AS id1, b.doc_id AS id2, a.sz AS s1, b.sz AS s2,
             count(*) AS inter
      FROM e a JOIN e b ON a.tok = b.tok AND a.source = b.source
                        AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4)
SELECT id1, id2, round(CAST(inter AS DOUBLE) / (s1 + s2 - inter), 4) AS jaccard
FROM j WHERE round(CAST(inter AS DOUBLE) / (s1 + s2 - inter), 4) >= 0.8
"""


def dedup_stream_fixture(spark: SparkSession, sf_dir: str) -> tuple[str, DataFrame]:
    """``streaming_dedup_run``'s stream fixture as the (tag prefix,
    frame) that ``_parquet_stream`` publishes: the events with every
    3rd event twice. ``scripts/streaming_drain_probe.py`` drains the
    same fixture. The tag is keyed on the source file's (mtime, size), so a regenerated
    testdata drop invalidates the cached fixture instead of serving
    stale duplicated events."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value", "ts"
    )
    dups = ev.filter(F.col("event_id") % 3 == 0)
    return "dedup:v1", ev.unionByName(dups)


def q_streaming_dedup_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming ON the correctness surface: a duplicated
    events drop (every 3rd event appears twice across two files) is
    streamed with Trigger.AvailableNow through streaming.dedup.
    dedup_stream_exact, drained to completion, and the deduped result
    returned — oracle = the original distinct rows. The checkpoint
    tracks processed files exactly (SURVEY §2g: supersedes the
    reference's lossy modified-in-last-Δ heuristic, pg.py:74-121).

    The memory sink is the drain harness for THIS oracle check;
    production uses foreachBatch → upsert_anti_join (tested in
    tests/test_streaming_dedup.py)."""
    from kaggle_ecommerce_etl_spark.streaming.dedup import dedup_stream_exact

    prefix, frame = dedup_stream_fixture(spark, sf_dir)
    stream, tag = _parquet_stream(spark, prefix, sf_dir, frame)
    qname = "dedup_run_" + tag
    run_available_now(
        dedup_stream_exact(stream, ["event_id"]), query_name=qname, memory=True
    )
    return spark.table(qname)


ORACLE_STREAMING_DEDUP = """
SELECT event_id, user_id, event_type, value, ts FROM events
"""


def q_rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-function window surface: percent_rank / cume_dist /
    ntile over one per-priority window (single shuffle; total order
    via the orderkey tiebreak)."""
    from pyspark.sql.window import Window

    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.ntile(4).over(w).alias("quartile"),
    )


ORACLE_RANK_FUNCS = """
SELECT o_orderkey, o_orderpriority,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cume,
       ntile(4) OVER w AS quartile
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
"""


_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PHONE_RE = "\\+[0-9][0-9 ]{6,}[0-9]"


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction — the compliance pass every training corpus runs
    before the tokenizer. The corpus carries no PII, so deterministic
    synthetic contacts are appended per doc and then scrubbed; both
    the redacted text and the pre-redaction match counts are
    oracle-checked (same RE2/Java-compatible patterns both engines).
    Pure regexp expressions: codegen, no shuffle."""
    d = _t(spark, sf_dir, "documents")
    enriched = F.concat(
        F.col("text"),
        F.lit(" contact: user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com call +1 555 01"),
        F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(enriched, _EMAIL_RE, "<EMAIL>"),
        _PHONE_RE,
        "<PHONE>",
    )
    return d.select(
        "doc_id",
        scrubbed.alias("scrubbed"),
        F.size(F.regexp_extract_all(enriched, F.lit(_EMAIL_RE), 0)).alias(
            "n_emails"
        ),
        F.size(F.regexp_extract_all(enriched, F.lit(_PHONE_RE), 0)).alias(
            "n_phones"
        ),
    )


ORACLE_PII_SCRUB = f"""
WITH e AS (
  SELECT doc_id,
         text || ' contact: user' || CAST(doc_id AS VARCHAR) ||
         '@example.com call +1 555 01' ||
         lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') AS enriched
  FROM documents
)
SELECT doc_id,
       regexp_replace(regexp_replace(enriched, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                      '{_PHONE_RE}', '<PHONE>', 'g') AS scrubbed,
       len(regexp_extract_all(enriched, '{_EMAIL_RE}')) AS n_emails,
       len(regexp_extract_all(enriched, '{_PHONE_RE}')) AS n_phones
FROM e
"""


def q_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition (C4/Gopher-style quality signal):
    1 − distinct/total word bigrams. High ratios mark boilerplate /
    degenerate text for the quality gate. Array expressions only."""
    d = _t(spark, sf_dir, "documents")
    t = F.split(F.lower(F.trim(F.col("text"))), WS_SPLIT)
    d2 = d.select("doc_id", "lang", t.alias("t")).filter(F.size("t") >= 2)
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size(F.col("t")) - 1),
        lambda i: F.concat_ws(" ", F.slice(F.col("t"), i, 2)),
    )
    return d2.select(
        "doc_id",
        "lang",
        bigrams.alias("bg"),
    ).select(
        "doc_id",
        "lang",
        (F.size("bg")).alias("n_bigrams"),
        F.round(
            F.lit(1.0)
            - F.size(F.array_distinct("bg")).cast("double")
            / F.size("bg").cast("double"),
            4,
        ).alias("rep_ratio"),
    )


ORACLE_REPETITION = """
WITH t AS (SELECT doc_id, lang,
                  string_split_regex(lower(trim(text)), '[ \\t\\n\\r\\x0B\\f]+') AS w
           FROM documents),
b AS (SELECT doc_id, lang,
             [array_to_string(w[i:i+1], ' ') for i in range(1, len(w))] AS bg
      FROM t WHERE len(w) >= 2)
SELECT doc_id, lang, len(bg) AS n_bigrams,
       round(1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg), 4)
         AS rep_ratio
FROM b
"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training docs whose 3-gram
    shingle overlap with a held-out eval set (doc_id % 50 = 0)
    exceeds 50% — the standard leakage guard before pre-training.
    The eval shingle universe is distinct + broadcast; the check is
    one equi-join over exploded candidate shingles + one agg."""
    from kaggle_ecommerce_etl_spark.functions.dedup_ml import shingles_expr

    d = _t(spark, sf_dir, "documents")
    bench = (
        d.filter(F.col("doc_id") % 50 == 0)
        .select(F.explode(shingles_expr(F.col("text"))).alias("sh"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    cand = d.filter(F.col("doc_id") % 50 != 0).select(
        "doc_id", F.explode(shingles_expr(F.col("text"))).alias("sh")
    )
    return (
        cand.join(F.broadcast(bench), "sh", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.round(
                F.sum(F.coalesce(F.col("__hit"), F.lit(0))).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("overlap_frac"),
        )
        .withColumn("is_contaminated", F.col("overlap_frac") >= 0.5)
    )


ORACLE_DECONTAMINATE = (
    # reuses the minhash pipeline's shingle CTE (same 3-gram rule)
    "WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '[ \\t\\n\\r\\x0B\\f]+') AS t\n"
    "           FROM documents),\n"
    "s AS (SELECT doc_id,\n"
    "             list_distinct([array_to_string(t[i:i+2], ' ')\n"
    "                            for i in range(1, greatest(len(t)-1, 2))]) AS sh\n"
    "      FROM t),\n"
    "b AS (SELECT DISTINCT unnest(sh) AS sh FROM s WHERE doc_id % 50 = 0),\n"
    "c AS (SELECT doc_id, unnest(sh) AS sh FROM s WHERE doc_id % 50 <> 0)\n"
    "SELECT c.doc_id, count(*) AS n_shingles,\n"
    "       round(CAST(sum(CASE WHEN b.sh IS NULL THEN 0 ELSE 1 END) AS DOUBLE)\n"
    "             / count(*), 4) AS overlap_frac,\n"
    "       (round(CAST(sum(CASE WHEN b.sh IS NULL THEN 0 ELSE 1 END) AS DOUBLE)\n"
    "              / count(*), 4) >= 0.5) AS is_contaminated\n"
    "FROM c LEFT JOIN b ON c.sh = b.sh\n"
    "GROUP BY c.doc_id\n"
)


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column (the 4×
    storage/serving compression step of a vector pipeline): per-vector
    scale = max|x|/127, codes = round(x/scale). Pure array
    expressions — codegen, no shuffle, no UDF.

    Oracle-surface contract: the code vector is emitted as a
    comma-joined STRING, not a raw array<int> — the driver's
    comparator canonicalizes rows through pandas, where list-typed
    cells are unhashable and crash the sort (the r5 red row). The
    registry-wide guard lives in
    tests/test_entry.py::test_oracle_surface_has_no_complex_types.
    Callers who want the raw array use
    functions.similarity / embedding_quantize_codes below."""
    q = embedding_quantize_codes(spark, sf_dir)
    return q.select(
        "vec_id",
        "scale",
        F.array_join(F.col("codes").cast("array<string>"), ",").alias("codes"),
    )


def embedding_quantize_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-array variant of q_embedding_quantize for programmatic
    callers (codes as array<int>, ready for a downstream dot-product
    or storage sink). NOT on the oracle surface — see the complex-type
    contract note in q_embedding_quantize."""
    emb = _t(spark, sf_dir, "embeddings")
    # materialize the scale through its own projection: referencing it
    # inside the transform lambda would re-run array_max per ELEMENT
    # (CSE doesn't reach into higher-order functions — see
    # dedup_ml.minhash_base_expr), turning O(d) into O(d²) per row
    absmax = F.array_max(
        F.transform(F.col("embedding"), lambda x: F.abs(x.cast("double")))
    )
    staged = emb.select(
        "vec_id", "embedding", (absmax / F.lit(127.0)).alias("__scale")
    )
    codes = F.when(
        F.col("__scale") == 0,
        F.transform(F.col("embedding"), lambda x: F.lit(0)),
    ).otherwise(
        F.transform(
            F.col("embedding"),
            lambda x: F.round(x.cast("double") / F.col("__scale")).cast("int"),
        )
    )
    return staged.select(
        "vec_id", F.round("__scale", 6).alias("scale"), codes.alias("codes")
    )


ORACLE_EMB_QUANTIZE = """
WITH s AS (
  SELECT vec_id, embedding,
         list_max(list_transform(embedding,
                                 x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS sc
  FROM embeddings
)
SELECT vec_id, round(sc, 6) AS scale,
       array_to_string(
         CASE WHEN sc = 0
              THEN list_transform(embedding, x -> 0)
              ELSE list_transform(embedding,
                                  x -> CAST(round(CAST(x AS DOUBLE) / sc) AS INT))
         END, ',') AS codes
FROM s
"""


def q_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity resolution: customer-name pairs within edit
    distance ≤ 2, blocked by nation (the quadratic comparison space
    lives INSIDE each block — the join itself is a key equi-join on
    the blocking key, never a global cross product). levenshtein is
    a JVM built-in on both engines."""
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    a = c.select(
        F.col("c_custkey").alias("id1"),
        F.col("c_name").alias("name1"),
        "c_nationkey",
    )
    b = c.select(
        F.col("c_custkey").alias("id2"),
        F.col("c_name").alias("name2"),
        "c_nationkey",
    )
    return (
        a.join(b, "c_nationkey")
        .filter(F.col("id1") < F.col("id2"))
        .withColumn("dist", F.levenshtein("name1", "name2"))
        .filter(F.col("dist") <= 2)
        .select("id1", "id2", "dist")
    )


ORACLE_FUZZY = """
SELECT a.c_custkey AS id1, b.c_custkey AS id2,
       levenshtein(a.c_name, b.c_name) AS dist
FROM customer a JOIN customer b
  ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) <= 2
"""


def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view → click → purchase): per user, the
    earliest event of each stage STRICTLY AFTER the previous stage's
    earliest. Three grouped mins + two joins, all shuffling on
    user_id — co-partitioned, so AQE collapses them into one
    exchange reuse."""
    ev = _t(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.join(v, "user_id")
        .filter((F.col("event_type") == "click") & (F.col("ts") > F.col("t_view")))
        .groupBy("user_id", "t_view")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.join(c, "user_id")
        .filter(
            (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t_click"))
        )
        .groupBy("user_id", "t_view", "t_click")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return p.select("user_id", "t_view", "t_click", "t_purchase")


ORACLE_FUNNEL = """
WITH v AS (SELECT user_id, min(ts) AS t_view FROM events
           WHERE event_type = 'view' GROUP BY 1),
c AS (SELECT e.user_id, v.t_view, min(e.ts) AS t_click
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY 1, 2),
p AS (SELECT e.user_id, c.t_view, c.t_click, min(e.ts) AS t_purchase
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t_click GROUP BY 1, 2, 3)
SELECT user_id, t_view, t_click, t_purchase FROM p
"""


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: 8-way join (lineitem⋈part⋈supplier⋈orders⋈
    customer⋈nation×2⋈region) with a per-year conditional-aggregate
    market share. All dimension joins broadcast; only the fact-side
    joins shuffle; the share is one grouped agg (no self-join)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").contains("widget"))
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n_cust = nat.select(
        F.col("n_nationkey").alias("cn_key"),
        F.col("n_regionkey").alias("cr_key"),
    )
    n_supp = nat.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    # sum in DECIMAL: exact, order-independent addition — immune to
    # the one-cent FP divergence a double sum can show vs the oracle
    # when Spark and DuckDB reduce in different orders
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(23,8)"
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n_cust), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(reg), F.col("cr_key") == F.col("r_regionkey"))
        .join(F.broadcast(n_supp), F.col("s_nationkey") == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_1", vol).otherwise(
                        F.lit(0).cast("decimal(23,8)")
                    )
                ).cast("double")
                / F.sum(vol).cast("double"),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


ORACLE_MARKET_SHARE = """
SELECT year(o_orderdate) AS o_year,
       round(CAST(sum(CASE WHEN n2.n_name = 'NATION_1'
                      THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(23,8))
                      ELSE CAST(0 AS DECIMAL(23,8)) END) AS DOUBLE)
             / CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(23,8)))
                    AS DOUBLE), 6) AS mkt_share
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region   ON n1.n_regionkey = r_regionkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE p_name LIKE '%widget%'
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY 1 ORDER BY 1
"""


def q_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returned items per customer in
    one quarter, top 20. One fact shuffle + broadcast nation; total
    order via (revenue DESC, c_custkey) for a deterministic limit."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    # decimal sum: see q_market_share — order-independent addition
    rev = F.sum(
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
            "decimal(23,8)"
        )
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(rev, 2).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


ORACLE_RETURNED_REVENUE = """
SELECT c_custkey, c_name, n_name,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(23,8))), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-04-01'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def sessionize_stream_fixture(spark: SparkSession, sf_dir: str) -> tuple[str, DataFrame]:
    """``streaming_sessionize_run``'s stream fixture as the (tag prefix,
    frame) that ``_parquet_stream`` publishes: the events plus one
    far-future sentinel event per user. ``scripts/streaming_drain_probe.py``
    drains the same fixture."""
    # watermarks require TIMESTAMP (LTZ); the parquet lands NTZ. The
    # session TZ is pinned UTC (queries._t), so the cast is value-stable
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"), "value"
    )
    sentinels = (
        ev.select("user_id")
        .distinct()
        .withColumn("ts", F.lit("2030-01-01").cast("timestamp"))
        .withColumn("value", F.lit(0.0))
    )
    # "v2": fixture schema version (ts stored LTZ) — bump on any
    # change to what gets written, so stale cached fixtures die
    return "sess:v2", ev.unionByName(sentinels)


def q_streaming_sessionize_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``applyInPandasWithState`` ON the correctness surface: the
    custom stateful sessionizer (streaming/stateful.py) drained with
    Trigger.AvailableNow over the events drop. A far-future sentinel
    event per user gap-closes every REAL session inline (the
    sentinel's own open session is never emitted), so the drained
    output equals batch sessionization exactly — checked against a
    microsecond-precision SQL twin (the operator splits on gaps
    STRICTLY > 30 min, unlike session_window's >=)."""
    from kaggle_ecommerce_etl_spark.streaming.stateful import sessionize_stateful

    prefix, frame = sessionize_stream_fixture(spark, sf_dir)
    stream, tag = _parquet_stream(spark, prefix, sf_dir, frame)
    qname = "sessionize_run_" + tag
    run_available_now(
        sessionize_stateful(stream), query_name=qname, memory=True
    )
    return spark.table(qname)


ORACLE_STREAMING_SESSIONIZE = """
WITH marks AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR date_diff('microsecond', lag(ts) OVER w, ts) > 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sessions AS (
  SELECT user_id, ts, value,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
  FROM marks
)
SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(23,8))), 2) AS DOUBLE) AS total_value
FROM sessions GROUP BY user_id, sid
"""


def q_asof_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The broadcast-right as-of variant on a small dimension history
    (orders of 5 customers as the 'rate table'): zero shuffles on the
    event side — sorted per-key history arrays broadcast and each
    event picks its last-at-or-before entry with array expressions."""
    from kaggle_ecommerce_etl_spark.operators.temporal import asof_join_broadcast

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    r = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") < 5)
        .groupBy(F.col("o_custkey").alias("user_id"), "o_orderdate")
        .agg(
            F.max("o_orderkey").alias("asof_orderkey"),
            F.expr("max_by(o_totalprice, o_orderkey)").alias("asof_totalprice"),
        )
    )
    out = asof_join_broadcast(
        ev, r, on=["user_id"], left_ts="ts", right_ts="o_orderdate"
    )
    return out.select("event_id", "user_id", "asof_orderkey", "asof_totalprice")


ORACLE_ASOF_BROADCAST = """
WITH r AS (
  SELECT o_custkey, o_orderdate,
         max(o_orderkey) AS asof_orderkey,
         arg_max(o_totalprice, o_orderkey) AS asof_totalprice
  FROM orders WHERE o_custkey < 5 GROUP BY 1, 2
)
SELECT e.event_id, e.user_id, r.asof_orderkey, r.asof_totalprice
FROM events e
ASOF LEFT JOIN r ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate
"""


def q_streaming_upsert_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's duplicate-Lambda-invocation story end-to-end in
    streaming (README:119-123; pg.py:544-547): two micro-batches whose
    files OVERLAP (keys ≡1 mod 3 re-delivered) drain through
    foreachBatch → upsert_anti_join into a parquet target. The final
    table equals plain distinct orders — the DO-NOTHING idempotency
    guarantee, value-checked.

    The target lives in a temporary directory removed before return,
    so the result is materialized first with one eager
    ``localCheckpoint``; that barrier need not survive executor loss,
    because rebuilding the query re-runs the stream."""
    import os
    import tempfile

    from kaggle_ecommerce_etl_spark.operators.dedup import upsert_anti_join
    from kaggle_ecommerce_etl_spark.sinks.csv_sink import _write_single_file

    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]
    orders = _t(spark, sf_dir, "orders").select(*cols)
    src_dir = _stream_fixture_dir("ups:v1", sf_dir, table="orders")

    def _build(stage: str) -> None:
        for name, frame in (
            ("a", orders.filter(F.col("o_orderkey") % 3 != 2)),
            ("b", orders.filter(F.col("o_orderkey") % 3 != 0)),
        ):
            _write_single_file(frame, f"{stage}/{name}.parquet", "parquet")

    _publish_fixture_dir(src_dir, _build)
    stream = (
        spark.readStream.schema(orders.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )

    # unique parent, never-pre-created child: no delete-then-recreate
    # window (same pattern as the medallion chain)
    with tempfile.TemporaryDirectory(prefix="upsert_tgt_") as base:
        target = base + "/tgt"

        def _apply(batch: DataFrame, _bid: int) -> None:
            # first batch: no target yet, nothing to join. A real read
            # failure must PROPAGATE — swallowing it would silently
            # disable dedup and append duplicates
            existing = (
                spark.read.parquet(target) if os.path.exists(target) else None
            )
            upsert_anti_join(batch, existing, ["o_orderkey"]).write.mode(
                "append"
            ).parquet(target)

        run_available_now(stream, foreach_batch=_apply)
        return spark.read.parquet(target).select(*cols).localCheckpoint()


ORACLE_STREAMING_UPSERT = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
"""


def q_compact_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction round-trip: orders scattered into many
    tiny files, compacted into 4 range-partitioned key-sorted files
    (operators/scale.compact_sorted), read back — content is
    byte-identical to the source (the oracle), and the layout
    properties (file count, disjoint per-file key ranges) are
    asserted in tests/test_scale.py."""
    from kaggle_ecommerce_etl_spark.operators.scale import compact_sorted

    cols = ["o_orderkey", "o_custkey", "o_totalprice"]
    orders = _t(spark, sf_dir, "orders").select(*cols)
    scattered = _format_fixture(sf_dir, "scattered", "orders")
    compacted = _format_fixture(sf_dir, "compacted", "orders")
    # simulate the streaming-sink aftermath: 64 small files
    orders.repartition(64).write.mode("overwrite").parquet(scattered)
    compact_sorted(
        spark.read.parquet(scattered), compacted, key="o_orderkey"
    )
    return spark.read.parquet(compacted).select(*cols)


ORACLE_COMPACT = """
SELECT o_orderkey, o_custkey, o_totalprice FROM orders
"""


def q_incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: a per-customer revenue aggregate
    maintained as mergeable partials (count, sum) — base partials from
    historical orders merge with a new batch's partials WITHOUT
    rescanning history. At 100 TB, the nightly delta touches only the
    delta: cost ∝ |batch| + |groups|, never |history|. Result equals
    the full recompute (the oracle)."""
    orders = _t(spark, sf_dir, "orders")
    cut = F.lit("1998-01-01").cast("timestamp")
    partial = lambda df: df.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("o_totalprice").cast("decimal(23,8)")).alias("sm"),
    )
    base = partial(orders.filter(F.col("o_orderdate") < cut))
    delta = partial(orders.filter(F.col("o_orderdate") >= cut))
    merged = (
        base.unionByName(delta)
        .groupBy("o_custkey")
        .agg(F.sum("cnt").alias("n_orders"), F.sum("sm").alias("sm"))
    )
    return merged.select(
        "o_custkey",
        "n_orders",
        F.round("sm", 2).cast("double").alias("total_revenue"),
    )


ORACLE_INCR_AGG = """
SELECT o_custkey, count(*) AS n_orders,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(23,8))), 2) AS DOUBLE)
         AS total_revenue
FROM orders GROUP BY 1
"""


def q_zorder_code(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering key over (customer, order-day): the Morton
    interleave as a pure expression, oracle-checked bit-for-bit. Used
    with compact_sorted to lay files out so min/max stats prune on
    EITHER dimension."""
    from kaggle_ecommerce_etl_spark.operators.scale import (
        morton_code_expr,
        scale_to_bits,
    )

    o = _t(spark, sf_dir, "orders")
    # scale each dimension onto the full 12-bit range so the
    # interleave's HIGH bits carry signal; domains come from the data
    # (one tiny agg at plan time — same two-phase pattern as the
    # profiling layer). Wrong/oversized domains zero the top bits and
    # kill the clustering (tests/test_scale.py proves it).
    day = F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date"))
    xdom, ydom = o.select(F.max("o_custkey") + 1, F.max(day) + 1).first()
    x = scale_to_bits(F.col("o_custkey"), int(xdom), 12)
    y = scale_to_bits(day, int(ydom), 12)
    return o.select(
        "o_orderkey",
        morton_code_expr(x, y, bits=12).alias("zcode"),
    )


def _morton_sql(xs: str, ys: str, bits: int = 12) -> str:
    terms = []
    for b in range(bits):
        terms.append(f"((({xs} >> {b}) & 1) << {2 * b})")
        terms.append(f"((({ys} >> {b}) & 1) << {2 * b + 1})")
    return " | ".join(terms)


_ZX = (
    "CAST(floor(o_custkey * 4096 / "
    "(SELECT max(o_custkey) + 1 FROM orders)) AS BIGINT)"
)
_ZY = (
    "CAST(floor(date_diff('day', DATE '1995-01-01', o_orderdate) * 4096 / "
    "(SELECT max(date_diff('day', DATE '1995-01-01', o_orderdate)) + 1 "
    "FROM orders)) AS BIGINT)"
)

ORACLE_ZORDER = f"""
SELECT o_orderkey, {_morton_sql(_ZX, _ZY)} AS zcode
FROM orders
"""


def q_data_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative expectations over orders (operators/quality.py):
    not-null, uniqueness, value-set, range, and referential integrity
    vs customer — all scalar rules in ONE aggregation pass, the ref
    rule as one broadcast anti-join. The reference's DB-constraint
    intents (PK/CHECK/NOT NULL, pg.py:450-533) as an engine-side
    report."""
    from kaggle_ecommerce_etl_spark.operators.quality import (
        expect_in_set,
        expect_not_null,
        expect_range,
        expect_ref,
        expect_unique,
        validate,
    )

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return validate(
        orders,
        [
            expect_not_null("o_orderkey"),
            expect_not_null("o_orderdate"),
            expect_unique("o_orderkey"),
            expect_in_set("o_orderstatus", ["F", "O", "P"]),
            expect_range("o_totalprice", lo=0),
            expect_ref("o_custkey", cust, "c_custkey"),
        ],
    )


ORACLE_DQ = """
SELECT 'not_null:o_orderkey' AS rule,
       CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS violations,
       sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) = 0 AS passed
FROM orders
UNION ALL
SELECT 'not_null:o_orderdate',
       CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) = 0
FROM orders
UNION ALL
SELECT 'unique:o_orderkey',
       CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT),
       count(*) = count(DISTINCT o_orderkey)
FROM orders
UNION ALL
SELECT 'in_set:o_orderstatus',
       CAST(sum(CASE WHEN o_orderstatus NOT IN ('F','O','P')
                      AND o_orderstatus IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT),
       sum(CASE WHEN o_orderstatus NOT IN ('F','O','P')
                 AND o_orderstatus IS NOT NULL THEN 1 ELSE 0 END) = 0
FROM orders
UNION ALL
SELECT 'range:o_totalprice',
       CAST(sum(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) AS BIGINT),
       sum(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) = 0
FROM orders
UNION ALL
SELECT 'ref:o_custkey->c_custkey',
       CAST((SELECT count(*) FROM orders o
             WHERE o.o_custkey IS NOT NULL
               AND NOT EXISTS (SELECT 1 FROM customer c
                               WHERE c.c_custkey = o.o_custkey)) AS BIGINT),
       (SELECT count(*) FROM orders o
        WHERE o.o_custkey IS NOT NULL
          AND NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey)) = 0
"""


def q_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of order totals (20 buckets over the data
    min/max — derived in one tiny agg, the two-phase pattern): the
    profiling primitive behind any numeric distribution report. Pure
    expressions + one groupBy."""
    o = _t(spark, sf_dir, "orders")
    lo, hi = o.select(F.min("o_totalprice"), F.max("o_totalprice")).first()
    width = (hi - lo) / 20.0
    bucket = F.least(
        F.floor((F.col("o_totalprice") - F.lit(lo)) / F.lit(width)), F.lit(19)
    ).cast("int")
    return (
        o.groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("bucket")
    )


ORACLE_PRICE_HIST = """
WITH b AS (SELECT min(o_totalprice) AS lo,
                  (max(o_totalprice) - min(o_totalprice)) / 20.0 AS w
           FROM orders)
SELECT CAST(least(floor((o_totalprice - b.lo) / b.w), 19) AS INT) AS bucket,
       count(*) AS n
FROM orders, b
GROUP BY 1 ORDER BY 1
"""


def q_asof_join_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of: each event attaches the customer's NEXT order at
    or after the event (lead-time attribution). Same union-window
    operator, descending time order."""
    from kaggle_ecommerce_etl_spark.operators.temporal import asof_join

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    r = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("user_id"), "o_orderdate")
        .agg(F.max("o_orderkey").alias("next_orderkey"))
    )
    out = asof_join(
        ev, r, on=["user_id"], left_ts="ts", right_ts="o_orderdate",
        direction="forward",
    )
    return out.select("event_id", "user_id", "next_orderkey")


ORACLE_ASOF_FWD = """
WITH r AS (
  SELECT o_custkey, o_orderdate, max(o_orderkey) AS next_orderkey
  FROM orders GROUP BY 1, 2
)
SELECT e.event_id, e.user_id, r.next_orderkey
FROM events e
ASOF LEFT JOIN r ON e.user_id = r.o_custkey AND e.ts <= r.o_orderdate
"""


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping character-window chunking (the RAG/embedding-ingest
    primitive): 500-char chunks, 100-char overlap, with (doc_id,
    chunk_idx, char offset, chunk) rows. Pure expressions —
    sequence → transform → posexplode; at 100 TB this is a narrow
    map with no shuffle, and chunk boundaries are deterministic
    functions of n_chars (no tokenizer state)."""
    size, stride = 500, 400
    d = _t(spark, sf_dir, "documents").filter(F.length("text") > 0)
    # window starts: 0, stride, 2·stride, … while start < n_chars,
    # i.e. i in [0, ceil(n/stride)-1] — matches range() in the oracle
    starts = F.expr(
        f"sequence(0, cast(ceil(length(text) / {stride}.0) as int) - 1)"
    )
    chunks = F.transform(
        starts, lambda i: F.substring(F.col("text"), i * stride + 1, size)
    )
    return d.select(
        "doc_id", F.posexplode(chunks).alias("chunk_idx", "chunk")
    ).select(
        "doc_id",
        "chunk_idx",
        (F.col("chunk_idx") * stride).alias("char_start"),
        F.length("chunk").alias("chunk_len"),
        "chunk",
    )


ORACLE_DOC_CHUNKS = """
WITH d AS (
  SELECT doc_id, text,
         CAST(ceil(len(text) / 400.0) AS INT) AS n_chunks
  FROM documents WHERE len(text) > 0
),
c AS (
  SELECT doc_id, text,
         CAST(unnest(range(0, n_chunks)) AS INT) AS chunk_idx
  FROM d
)
SELECT doc_id, chunk_idx,
       chunk_idx * 400 AS char_start,
       len(substr(text, chunk_idx * 400 + 1, 500)) AS chunk_len,
       substr(text, chunk_idx * 400 + 1, 500) AS chunk
FROM c
"""


def q_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-time near-dup screening: every INCOMING doc (id ≡ 0
    mod 10) checked against the EXISTING corpus (the rest) for word
    Jaccard ≥ 0.5 — the production "have we already got this?" gate.
    Cross-sided inverted-index join (token equi-join between the two
    sides, never batch×corpus) with a SIZE-COMPATIBILITY conjunct
    (j ≥ t forces min(s1,s2) ≥ t·max(s1,s2) — exact, measured −35%
    join volume on the hot-token replica: 326 → 211 s at 15k docs),
    then per-incoming best match with a (jaccard DESC, id) tiebreak.

    Scale honesty (measured, r5): at t=0.5 the token join's
    Σ df_b(tok)·df_c(tok) IS quadratic on organic corpora (shared
    stopword/mid-df tokens; ~10× wall at 3× docs on an
    unsalted-hot-token replica). Prefix filtering does NOT fix it at
    this threshold — the prefix is ⌊(1−t)s⌋+1 ≈ half of every doc, so
    the mid-df band passes through; measured SLOWER (313 vs 176 s at
    15k docs; see functions/dedup_ml.jaccard_cross_prefix for where
    it does win, t ≥ 0.8). Past the wall at t=0.5 the 100 TB route is
    the recall-trading MinHash-LSH screen (minhash_signatures +
    lsh_candidate_pairs, both oracle-checked) with this exact join
    retained per-candidate as the verifier. At 100 TB the batch side
    is tiny and broadcasts."""
    d = _t(spark, sf_dir, "documents")
    toks = F.array_distinct(F.split(F.lower(F.trim(F.col("text"))), WS_SPLIT))
    base = d.select("doc_id", toks.alias("t")).withColumn("sz", F.size("t"))
    batch = base.filter(F.col("doc_id") % 10 == 0)
    corpus = base.filter(F.col("doc_id") % 10 != 0)
    b = batch.select(
        F.col("doc_id").alias("in_id"), F.col("sz").alias("s1"),
        F.explode("t").alias("tok"),
    )
    c = corpus.select(
        F.col("doc_id").alias("ex_id"), F.col("sz").alias("s2"),
        F.explode("t").alias("tok"),
    )
    t_eff = 0.5 - 5e-5  # 4dp-rounding margin, same guard as dedup_ml
    inter = (
        b.join(c, "tok")
        .filter(
            (F.col("s2") * F.lit(t_eff) <= F.col("s1"))
            & (F.col("s1") * F.lit(t_eff) <= F.col("s2"))
        )
        .groupBy("in_id", "ex_id", "s1", "s2")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    jac = F.round(
        F.col("i").cast("double")
        / (F.col("s1") + F.col("s2") - F.col("i")).cast("double"),
        4,
    )
    matches = inter.withColumn("jaccard", jac).filter(F.col("jaccard") >= 0.5)
    from pyspark.sql.window import Window

    w = Window.partitionBy("in_id").orderBy(
        F.col("jaccard").desc(), F.col("ex_id").asc()
    )
    best = (
        matches.withColumn("__rn", F.row_number().over(w))
        .withColumn("n_matches", F.count(F.lit(1)).over(Window.partitionBy("in_id")))
        .filter(F.col("__rn") == 1)
        .select(
            "in_id",
            "n_matches",
            F.col("ex_id").alias("best_match"),
            F.col("jaccard").alias("best_jaccard"),
        )
    )
    return (
        batch.select(F.col("doc_id").alias("in_id"))
        .join(best, "in_id", "left")
        .select(
            "in_id",
            F.coalesce("n_matches", F.lit(0)).alias("n_matches"),
            "best_match",
            "best_jaccard",
            F.col("n_matches").isNotNull().alias("is_duplicate"),
        )
    )


ORACLE_INCR_NEARDUP = """
WITH base AS (
  SELECT doc_id, list_distinct(string_split_regex(lower(trim(text)), '[ \\t\\n\\r\\x0B\\f]+')) AS t
  FROM documents
),
b AS (SELECT doc_id AS in_id, len(t) AS s1, unnest(t) AS tok FROM base
      WHERE doc_id % 10 = 0),
c AS (SELECT doc_id AS ex_id, len(t) AS s2, unnest(t) AS tok FROM base
      WHERE doc_id % 10 <> 0),
inter AS (
  SELECT in_id, ex_id, s1, s2, count(*) AS i
  FROM b JOIN c USING (tok) GROUP BY 1, 2, 3, 4
),
m AS (
  SELECT in_id, ex_id,
         round(CAST(i AS DOUBLE) / (s1 + s2 - i), 4) AS jaccard
  FROM inter WHERE round(CAST(i AS DOUBLE) / (s1 + s2 - i), 4) >= 0.5
),
best AS (
  SELECT in_id, n_matches, ex_id AS best_match, jaccard AS best_jaccard
  FROM (SELECT in_id, ex_id, jaccard,
               row_number() OVER (PARTITION BY in_id
                                  ORDER BY jaccard DESC, ex_id) AS rn,
               count(*) OVER (PARTITION BY in_id) AS n_matches
        FROM m)
  WHERE rn = 1
)
SELECT d.doc_id AS in_id,
       coalesce(best.n_matches, 0) AS n_matches,
       best.best_match, best.best_jaccard,
       best.n_matches IS NOT NULL AS is_duplicate
FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
LEFT JOIN best ON d.doc_id = best.in_id
"""


def q_streaming_window_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window aggregation drained end-to-end
    (append mode): hourly event counts/sums emitted only once their
    window is past the watermark — a far-future sentinel event
    advances the final watermark so every REAL window flushes, and the
    sentinel's own window is excluded. Fourth streaming paradigm on
    the oracle surface (after dedup, custom state, foreachBatch)."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"), "value"
    )
    sentinel = spark.createDataFrame(
        [(0,)], "user_id long"
    ).select(
        "user_id",
        F.lit("2030-01-01").cast("timestamp").alias("ts"),
        F.lit(0.0).alias("value"),
    )
    stream, tag = _parquet_stream(
        spark, "win:v1", sf_dir, ev.unionByName(sentinel)
    )
    qname = "window_run_" + tag
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _dsum("value").alias("sum_value"),
        )
    )
    run_available_now(agg, query_name=qname, memory=True)
    return (
        spark.table(qname)
        .filter(F.col("w.start") < F.lit("2029-01-01").cast("timestamp"))
        .select(
            F.col("w.start").alias("window_start"),
            "n_events",
            "sum_value",
        )
    )


ORACLE_STREAMING_WINDOW = """
SELECT date_trunc('hour', ts) AS window_start,
       count(*) AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(23,8))), 2) AS DOUBLE) AS sum_value
FROM events GROUP BY 1
"""


def q_persist_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §4 caching/reuse: an expensive intermediate (tokenized
    docs) is persisted ONCE and consumed by two different aggregates
    (per-language and global), unioned into one report — the Spark
    rendering of the reference reusing its transform() result for the
    CSV and PG sinks (pg.py:725-737). The plan shows one
    InMemoryRelation feeding both branches (asserted in
    tests/test_queries_ext.py)."""
    from kaggle_ecommerce_etl_spark.functions.text import token_count_expr

    d = _t(spark, sf_dir, "documents")
    tk = d.select(
        "lang", token_count_expr(F.col("text")).alias("n_tokens")
    ).persist()
    per_lang = tk.groupBy("lang").agg(
        F.sum("n_tokens").cast("double").alias("val")
    ).select(F.lit("lang_tokens").alias("metric"), F.col("lang").alias("key"), "val")
    overall = tk.agg(
        F.avg("n_tokens").alias("a")
    ).select(
        F.lit("mean_tokens").alias("metric"),
        F.lit("all").alias("key"),
        F.round("a", 6).alias("val"),
    )
    return per_lang.unionByName(overall)


ORACLE_PERSIST_REUSE = """
WITH tk AS (
  SELECT lang,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '[ \\t\\n\\r\\x0B\\f]+')) END AS n_tokens
  FROM documents
)
SELECT 'lang_tokens' AS metric, lang AS key, CAST(sum(n_tokens) AS DOUBLE) AS val
FROM tk GROUP BY 2
UNION ALL
SELECT 'mean_tokens', 'all', round(avg(n_tokens), 6) FROM tk
"""


def q_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (``<=>`` / IS NOT DISTINCT FROM): two
    halves of orders aggregated by a NULLABLE key (one priority class
    nulled) and joined so the NULL groups pair up — the semantics a
    plain equi-join silently drops."""
    o = _t(spark, sf_dir, "orders")
    key = F.nullif(F.col("o_orderpriority"), F.lit("1-URGENT"))
    a = (
        o.filter(F.col("o_orderkey") % 2 == 0)
        .groupBy(key.alias("prio"))
        .agg(F.count(F.lit(1)).alias("cnt_even"))
    )
    b = (
        o.filter(F.col("o_orderkey") % 2 == 1)
        .groupBy(key.alias("prio_b"))
        .agg(F.count(F.lit(1)).alias("cnt_odd"))
    )
    return (
        a.join(b, a["prio"].eqNullSafe(b["prio_b"]), "full_outer")
        .select(
            F.coalesce("prio", "prio_b").alias("prio_key"),
            F.col("prio").isNull().alias("is_null_class"),
            "cnt_even",
            "cnt_odd",
        )
    )


ORACLE_NULL_SAFE = """
WITH a AS (
  SELECT nullif(o_orderpriority, '1-URGENT') AS prio, count(*) AS cnt_even
  FROM orders WHERE o_orderkey % 2 = 0 GROUP BY 1
),
b AS (
  SELECT nullif(o_orderpriority, '1-URGENT') AS prio_b, count(*) AS cnt_odd
  FROM orders WHERE o_orderkey % 2 = 1 GROUP BY 1
)
SELECT coalesce(a.prio, b.prio_b) AS prio_key,
       a.prio IS NULL AS is_null_class,
       cnt_even, cnt_odd
FROM a FULL OUTER JOIN b ON a.prio IS NOT DISTINCT FROM b.prio_b
"""


def q_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive hierarchical rollup (BOM/org-chart aggregation) over
    a synthesized part tree (parent = key // 8): per ancestor, the
    count and value of its ENTIRE subtree.

    The oracle is a RECURSIVE CTE; Spark has no recursion, and the
    scalable equivalent for bounded-depth hierarchies is to UNROLL the
    ancestor chain into expressions — each row emits its ⌈log₈(max)⌉
    ancestors via sequence/transform, then one groupBy. No loop, no
    driver rounds, one shuffle (vs. an iterative join per level —
    that shape lives in dup_clusters for unbounded graphs)."""
    part = _t(spark, sf_dir, "part")
    max_key = part.agg(F.max("p_partkey")).first()[0]
    depth = 1
    while (max_key or 0) >= 8**depth:
        depth += 1
    ancestors = F.expr(
        f"""transform(
              filter(sequence(1, {depth}),
                     i -> CAST(floor(p_partkey / power(8, i - 1)) AS BIGINT) > 0),
              i -> CAST(floor(p_partkey / power(8, i)) AS BIGINT))"""
    )
    return (
        part.filter(F.col("p_partkey") > 0)
        .select("p_retailprice", F.explode(ancestors).alias("ancestor"))
        .groupBy("ancestor")
        .agg(
            F.count(F.lit(1)).alias("n_desc"),
            _dsum("p_retailprice").alias("subtree_value"),
        )
    )


ORACLE_HIERARCHY = """
WITH RECURSIVE edges AS (
  SELECT p_partkey AS child, p_partkey // 8 AS parent, p_retailprice
  FROM part WHERE p_partkey > 0
),
anc AS (
  SELECT child, parent AS ancestor, p_retailprice FROM edges
  UNION ALL
  SELECT a.child, e.parent, a.p_retailprice
  FROM anc a JOIN edges e ON a.ancestor = e.child
)
SELECT ancestor, count(*) AS n_desc,
       CAST(round(sum(CAST(p_retailprice AS DECIMAL(23,8))), 2) AS DOUBLE) AS subtree_value
FROM anc GROUP BY 1
"""


def q_resample_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling with GAP FILLING: hourly event counts
    including EMPTY hours (zero rows) across the corpus span — the
    dense grid a forecasting/monitoring consumer needs. The hour spine
    is generated with sequence() over the data min/max (one tiny agg),
    then left-joined to the hourly aggregate; at scale the spine is
    |hours| rows — trivially broadcast."""
    ev = _t(spark, sf_dir, "events")
    agg = ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("h")).agg(
        F.count(F.lit(1)).alias("n")
    )
    bounds = ev.select(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.expr("sequence(lo, hi, interval 1 hour)")).alias("hour")
    )
    return (
        spine.join(F.broadcast(agg), spine["hour"] == agg["h"], "left")
        .select(
            "hour",
            F.coalesce("n", F.lit(0)).alias("n_events"),
            F.col("n").isNull().alias("is_gap"),
        )
    )


ORACLE_RESAMPLE = """
WITH agg AS (
  SELECT date_trunc('hour', ts) AS h, count(*) AS n FROM events GROUP BY 1
),
bounds AS (
  SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
  FROM events
),
spine AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM bounds
)
SELECT spine.hour, coalesce(agg.n, 0) AS n_events, agg.n IS NULL AS is_gap
FROM spine LEFT JOIN agg ON spine.hour = agg.h
"""


def q_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): the wide per-status aggregate (count/total/avg
    columns) reshaped to long (status, metric, value) rows —
    ``stack``'s inverse pairing with pivot_status. Pure projection
    after one agg."""
    o = _t(spark, sf_dir, "orders")
    wide = o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("double").alias("n_orders"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(23,8)")), 2)
        .cast("double")
        .alias("total"),
        F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
    )
    return wide.selectExpr(
        "o_orderstatus",
        "stack(3, 'n_orders', n_orders, 'total', total, "
        "'avg_price', avg_price) as (metric, value)",
    )


ORACLE_UNPIVOT = """
WITH wide AS (
  SELECT o_orderstatus,
         CAST(count(*) AS DOUBLE) AS n_orders,
         CAST(round(sum(CAST(o_totalprice AS DECIMAL(23,8))), 2) AS DOUBLE)
           AS total,
         round(avg(o_totalprice), 4) AS avg_price
  FROM orders GROUP BY 1
)
SELECT o_orderstatus, 'n_orders' AS metric, n_orders AS value FROM wide
UNION ALL
SELECT o_orderstatus, 'total', total FROM wide
UNION ALL
SELECT o_orderstatus, 'avg_price', avg_price FROM wide
"""


def q_word_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-set Jaccard near-dup pairs with the ``max_df`` scale guard
    ACTIVE: max per-(source,token) document frequency at sf0.01 is 24,
    so ``max_df=20`` really removes hot tokens from the universe here —
    the oracle encodes the same cap (QUALIFY df <= 20 + recomputed set
    sizes), proving the guarded path end-to-end, not just the inert
    configuration (VERDICT r3 'What's wrong' #3)."""
    from kaggle_ecommerce_etl_spark.functions.dedup_ml import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"),
        block_col="source",
        threshold=0.6,
        use_shingles=False,
        max_df=20,
    )


ORACLE_WORD_JACCARD_CAPPED = """
WITH base AS (SELECT doc_id, source,
                     list_distinct(string_split_regex(lower(trim(text)), '[ \\t\\n\\r\\x0B\\f]+')) AS toks
              FROM documents),
e0 AS (SELECT doc_id, source, unnest(toks) AS tok FROM base),
kept AS (SELECT doc_id, source, tok FROM e0
         QUALIFY count(*) OVER (PARTITION BY source, tok) <= 20),
sz AS (SELECT doc_id, count(*) AS sz FROM kept GROUP BY 1),
j AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
      FROM kept a JOIN kept b ON a.tok = b.tok AND a.source = b.source
                             AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
v AS (SELECT id1, id2, inter, s1.sz AS s1, s2.sz AS s2
      FROM j JOIN sz s1 ON j.id1 = s1.doc_id
             JOIN sz s2 ON j.id2 = s2.doc_id)
SELECT id1, id2,
       round(CAST(inter AS DOUBLE) / (s1 + s2 - inter), 4) AS jaccard
FROM v WHERE round(CAST(inter AS DOUBLE) / (s1 + s2 - inter), 4) >= 0.6
"""


def q_jdbc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PHYSICAL JDBC write/read round-trip through embedded Derby
    (`jdbc:derby:memory:` — jars on Spark's classpath): the reference's
    entire load path (typed CREATE TABLE pg.py:450-533, batched inserts
    pg.py:423-444, ON CONFLICT DO NOTHING pg.py:544-547) executed
    against a REAL database, not a correct-by-construction wrapper.

    Two overlapping batches plus a full re-delivery (README:119-123's
    duplicate-Lambda failure mode) drain through write_upsert_jdbc; the
    table must converge to exactly one row per key — oracle = the plain
    filtered projection. Idempotent by design, so re-runs inside one
    JVM (the in-memory DB persists) stay stable."""
    from kaggle_ecommerce_etl_spark.sinks.jdbc import (
        DERBY_DRIVER,
        derby_memory_url,
        write_upsert_jdbc,
    )

    orders = _t(spark, sf_dir, "orders")
    batch = orders.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.round("o_totalprice", 2).alias("total_price"),
    )
    url = derby_memory_url(
        "rt_" + _fixture_tag("jdbc:v1", sf_dir, "orders")
    )
    props = {"driver": DERBY_DRIVER}
    types = "o_orderkey BIGINT, o_orderstatus VARCHAR(16), total_price DOUBLE"
    for part in (
        batch.filter(F.col("o_orderkey") % 2 == 0),  # first half-load
        batch,  # overlapping full load — only odd keys are new
        batch,  # exact re-delivery — must append ZERO rows
    ):
        write_upsert_jdbc(
            part, url, "orders_rt", ["o_orderkey"],
            properties=props, column_types=types,
        )
    return spark.read.jdbc(url, "orders_rt", properties=props)


ORACLE_JDBC_ROUNDTRIP = """
SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS total_price
FROM orders WHERE o_orderkey % 7 = 0
"""
