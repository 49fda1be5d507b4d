"""Fourth query wave: the Spark-4 engine features the registry did not
yet exercise — recursive CTEs (iterative closure inside Catalyst, not a
driver loop), correlated LATERAL subqueries, bounded-memory frequency
and distinct-count sketches (approx_top_k, HyperLogLog, Theta) with
exactness GATES the oracle can check, ordered listagg, rank-bounded
approximate quantiles, and line-oriented text corpus IO (the format
every shell-tool corpus pipeline speaks).

Sketch-gate pattern: a sketch estimate itself is engine-specific and
can never hash-match a DuckDB oracle. Instead the query returns the
EXACT answer (computed distributively alongside the sketch) plus a
boolean asserting the sketch landed within its documented error bound;
the oracle returns the exact answer and TRUE. A sketch drifting out of
tolerance flips the flag and fails the gate — the sketch is on the
correctness surface instead of rows-only.

Reference parity: the reference engine (eager pandas, profile step in
transform.py) has no sketch/recursive surface — this module is part of
SURVEY §2's "training-data pipeline at 100 TB" mandate, where
bounded-memory sketches replace exact global aggregates.

Same determinism rules as queries.py: rounded doubles, total-order
tiebreaks, aliases matching the oracle exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kaggle_ecommerce_etl_spark.functions.text import WS_SPLIT
from kaggle_ecommerce_etl_spark.queries_common import (
    _dsum,
    _fixture_tag,
    _format_fixture,
    _parquet_stream,
    _publish_fixture_dir,
    _stream_fixture_dir,
    _t,
    _view,
)
from kaggle_ecommerce_etl_spark.streaming.file_source import run_available_now


# --------------------------------------------------------------------------
# recursive CTE: iterative closure executed INSIDE the engine
# --------------------------------------------------------------------------

#: Shared SQL body — Spark runs it over the prefixed temp view, DuckDB
#: over its registered ``supplier`` view; identical text otherwise, so
#: the parity claim is the literal query string.
_RECURSIVE_SQL = """
WITH RECURSIVE edges AS (
  SELECT s_suppkey AS child, CAST(FLOOR(s_suppkey / 10) AS BIGINT) AS parent
  FROM {supplier} WHERE s_suppkey > 0
),
anc(node, anc, depth) AS (
  SELECT child, parent, 1 FROM edges
  UNION ALL
  SELECT a.node, e.parent, a.depth + 1
  FROM anc a JOIN edges e ON a.anc = e.child
)
SELECT depth, COUNT(*) AS n_paths,
       CAST(SUM(node) AS BIGINT) AS sum_node,
       CAST(SUM(anc) AS BIGINT) AS sum_anc
FROM anc GROUP BY depth ORDER BY depth
"""


def q_recursive_ancestors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive ancestor closure via WITH RECURSIVE (Spark 4 native
    recursion — the UnionLoop operator iterates inside the engine, no
    driver-side loop and no bounded-depth unroll like
    hierarchy_rollup's). The supplier tree is synthetic
    (parent = ⌊key/10⌋, decimal-trie shape, depth ≤ log₁₀ max-key) so
    recursion depth stays O(log n) at ANY scale; each iteration is one
    shuffle join of the frontier against the edge table. Aggregated
    per path depth so the output is O(depth) rows regardless of SF."""
    sup = _view(spark, sf_dir, "supplier")
    return spark.sql(_RECURSIVE_SQL.format(supplier=sup))


ORACLE_RECURSIVE_ANCESTORS = _RECURSIVE_SQL.format(supplier="supplier")


# --------------------------------------------------------------------------
# correlated LATERAL subquery
# --------------------------------------------------------------------------

_LATERAL_SQL = """
SELECT c.c_custkey, o.o_orderkey, o.total
FROM {customer} c,
LATERAL (SELECT o_orderkey, round(o_totalprice, 2) AS total
         FROM {orders}
         WHERE o_custkey = c.c_custkey
         ORDER BY o_totalprice DESC, o_orderkey
         LIMIT 2) o
WHERE c.c_custkey % 50 = 0
"""


def q_lateral_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer top-2 orders as a correlated LATERAL subquery — the
    declarative spelling of topk_per_group. Catalyst decorrelates the
    LATERAL into a ranked window over one shuffle on o_custkey (it
    never executes per-row subqueries), so the plan is the same
    scale-shape as the explicit-window variant; keeping both on the
    surface pins the decorrelation rewrite itself as tested engine
    behavior. Deterministic: total order inside the LATERAL
    (o_totalprice DESC, o_orderkey)."""
    cust = _view(spark, sf_dir, "customer")
    orders = _view(spark, sf_dir, "orders")
    return spark.sql(_LATERAL_SQL.format(customer=cust, orders=orders))


ORACLE_LATERAL_TOPK = _LATERAL_SQL.format(customer="customer", orders="orders")


# --------------------------------------------------------------------------
# bounded-memory sketches with exactness gates
# --------------------------------------------------------------------------

def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency heavy hitters over the token stream via approx_top_k —
    the bounded-memory path to "which tokens exceed 2% of the corpus".
    Support-s hitters number at most 1/s, so k=64 ≥ 1/0.02 guarantees
    every true hitter is inside the returned top-k whenever the
    tracked-item budget (65536) covers the live vocabulary; the
    companion pytest asserts the fixture vocab stays far below that
    budget, which is what makes the DuckDB exact-count oracle valid at
    test scale. At 100 TB the same plan degrades gracefully to
    approximate counts in O(65536) memory per partial aggregate
    instead of a full |vocab| hash table. One shuffle (single global
    aggregate); the token explode rides the scan."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(F.split(F.lower(F.col("text")), WS_SPLIT)).alias("token")
    ).filter(F.col("token") != "")
    sk = toks.agg(
        F.expr("approx_top_k(token, 64, 65536)").alias("tk"),
        F.count(F.lit(1)).alias("total"),
    )
    hits = sk.select(
        F.explode("tk").alias("h"), "total"
    ).select(
        F.col("h.item").alias("token"),
        F.col("h.count").alias("n"),
        "total",
    ).filter(F.col("n") * 50 > F.col("total"))
    return hits.select(
        "token", "n", F.round(F.col("n") / F.col("total"), 6).alias("share")
    ).orderBy(F.desc("n"), "token")


ORACLE_HEAVY_HITTERS = """
WITH toks AS (
  SELECT unnest(string_split_regex(lower(text), '[ \\t\\n\\r\\x0B\\f]+')) AS token
  FROM documents
),
t AS (SELECT token FROM toks WHERE token <> ''),
counted AS (
  SELECT token, COUNT(*) AS n, (SELECT COUNT(*) FROM t) AS total
  FROM t GROUP BY token
)
SELECT token, n, round(n / CAST(total AS DOUBLE), 6) AS share
FROM counted WHERE n * 50 > total
ORDER BY n DESC, token
"""


def q_hll_distinct_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type: exact COUNT(DISTINCT) alongside a
    Datasketches HyperLogLog estimate, gated to ±5 % (lgConfigK=12 ⇒
    ~1.6 % standard error, so the gate holds with wide margin unless
    the sketch path breaks). At 100 TB the HLL column is the viable
    plan — fixed 2^12-register state per group per partial aggregate,
    mergeable without re-scan — while COUNT(DISTINCT) pays a full
    shuffle of the distinct pairs; the gate keeps the sketch honest
    where both are still computable."""
    ev = _t(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_exact"),
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est"),
    )
    ok = (
        F.abs(F.col("est") - F.col("n_exact"))
        <= F.lit(0.05) * F.col("n_exact")
    )
    return agg.select(
        "event_type", "n_exact", ok.alias("estimate_ok")
    ).orderBy("event_type")


ORACLE_HLL_GATE = """
SELECT event_type, COUNT(DISTINCT user_id) AS n_exact, TRUE AS estimate_ok
FROM events GROUP BY event_type ORDER BY event_type
"""


def q_theta_union_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-partition distinct-count via Theta sketch UNION: per-source
    sketches of document fingerprints are union-merged into one global
    estimate — the mergeable-summary pattern that computes "distinct
    docs across 1000 shards" without re-shuffling raw keys (each shard
    ships a KB-scale sketch, not its key set). Gated ±5 % against the
    exact global distinct; one row out."""
    d = _t(spark, sf_dir, "documents")
    fp = d.select("source", F.md5(F.col("text")).alias("fp"))
    per_source = fp.groupBy("source").agg(
        F.expr("theta_sketch_agg(fp)").alias("sk")
    )
    merged = per_source.agg(
        F.expr("theta_sketch_estimate(theta_union_agg(sk))").alias("est")
    )
    exact = fp.agg(F.count_distinct("fp").alias("n_exact"))
    out = exact.crossJoin(merged)  # two 1-row frames
    ok = (
        F.abs(F.col("est") - F.col("n_exact"))
        <= F.lit(0.05) * F.col("n_exact")
    )
    return out.select("n_exact", ok.alias("union_ok"))


ORACLE_THETA_GATE = """
SELECT COUNT(DISTINCT md5(text)) AS n_exact, TRUE AS union_ok
FROM documents
"""


def q_approx_quantile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority order-value median: exact interpolated percentile
    next to percentile_approx (GK sketch, accuracy 50000), gated to
    ±5 %. The approx path returns an OBSERVED value at the target rank
    (no interpolation), so the gate tolerance covers both the rank
    error (≤ n/50000 positions) and the adjacent-value gap at small n.
    At 100 TB the sketch is the only viable plan — bounded state,
    mergeable partials — while exact percentile must materialize each
    group's sorted values."""
    o = _t(spark, sf_dir, "orders")
    agg = o.groupBy("o_orderpriority").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias(
            "median_exact"
        ),
        F.expr("percentile_approx(o_totalprice, 0.5, 50000)").alias("ma"),
    )
    ok = (
        F.abs(F.col("ma") - F.col("median_exact"))
        <= F.lit(0.05) * F.col("median_exact")
    )
    return agg.select(
        "o_orderpriority", "median_exact", ok.alias("approx_ok")
    ).orderBy("o_orderpriority")


ORACLE_APPROX_QUANTILE = """
SELECT o_orderpriority,
       round(quantile_cont(o_totalprice, 0.5), 4) AS median_exact,
       TRUE AS approx_ok
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def q_topk_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via MERGED partial top-k sketches — the
    accumulate/combine/estimate split (approx_top_k_accumulate per
    source group → approx_top_k_combine across groups): the shape a
    1000-shard corpus uses, where each shard ships a bounded sketch
    and only sketches shuffle. Same support floor, ordering, and
    exactness precondition as heavy_hitters (vocab ≤ tracked budget,
    pytest-asserted), and the same oracle restates it — so the merge
    path is pinned to produce exactly what the single-aggregate path
    produces at test scale."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "source",
        F.explode(F.split(F.lower(F.col("text")), WS_SPLIT)).alias("token"),
    ).filter(F.col("token") != "")
    parts = toks.groupBy("source").agg(
        F.expr("approx_top_k_accumulate(token, 65536)").alias("st"),
        F.count(F.lit(1)).alias("cnt"),
    )
    merged = parts.agg(
        F.expr(
            "approx_top_k_estimate(approx_top_k_combine(st, 65536), 64)"
        ).alias("tk"),
        F.sum("cnt").alias("total"),
    )
    hits = (
        merged.select(F.explode("tk").alias("h"), "total")
        .select(
            F.col("h.item").alias("token"),
            F.col("h.count").alias("n"),
            "total",
        )
        .filter(F.col("n") * 50 > F.col("total"))
    )
    return hits.select(
        "token", "n", F.round(F.col("n") / F.col("total"), 6).alias("share")
    ).orderBy(F.desc("n"), "token")


ORACLE_TOPK_MERGE = ORACLE_HEAVY_HITTERS


def q_theta_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch SET ALGEBRA — intersection and difference of two
    distinct-fingerprint sets (English docs vs long docs), the
    operation HyperLogLog fundamentally cannot do (HLL unions only;
    Theta retains a key sample, so A∩B and A∖B estimate directly).
    Exact sides come from ONE fp-level aggregate (membership flags →
    conditional distinct counts, one shuffle); sketch sides are two
    filtered theta_sketch_agg calls composed with theta_intersection /
    theta_difference. Gated ±10 % (set-algebra error compounds over
    the union, wider than the plain-union gate)."""
    d = _t(spark, sf_dir, "documents")
    fp = d.select(
        F.md5("text").alias("fp"),
        (F.col("lang") == "en").alias("in_a"),
        (F.col("n_chars") >= 300).alias("in_b"),
    )
    member = fp.groupBy("fp").agg(
        F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b")
    )
    exact = member.agg(
        F.count_if(F.col("in_a") & F.col("in_b")).alias("inter_exact"),
        F.count_if(F.col("in_a") & ~F.col("in_b")).alias("diff_exact"),
    )
    sk = fp.agg(
        F.expr("theta_sketch_agg(fp) FILTER (WHERE in_a)").alias("sa"),
        F.expr("theta_sketch_agg(fp) FILTER (WHERE in_b)").alias("sb"),
    ).select(
        F.expr(
            "theta_sketch_estimate(theta_intersection(sa, sb))"
        ).alias("inter_est"),
        F.expr(
            "theta_sketch_estimate(theta_difference(sa, sb))"
        ).alias("diff_est"),
    )
    out = exact.crossJoin(sk)  # two 1-row frames
    tol = lambda est, ex: (  # noqa: E731 — local gate closure
        F.abs(F.col(est) - F.col(ex)) <= F.lit(0.10) * F.col(ex)
    )
    return out.select(
        "inter_exact",
        tol("inter_est", "inter_exact").alias("inter_ok"),
        "diff_exact",
        tol("diff_est", "diff_exact").alias("diff_ok"),
    )


ORACLE_THETA_SET_ALGEBRA = """
WITH m AS (
  SELECT md5(text) AS fp,
         BOOL_OR(lang = 'en') AS in_a,
         BOOL_OR(n_chars >= 300) AS in_b
  FROM documents GROUP BY 1
)
SELECT COUNT(*) FILTER (WHERE in_a AND in_b) AS inter_exact,
       TRUE AS inter_ok,
       COUNT(*) FILTER (WHERE in_a AND NOT in_b) AS diff_exact,
       TRUE AS diff_ok
FROM m
"""


# --------------------------------------------------------------------------
# ordered string aggregation
# --------------------------------------------------------------------------

def q_listagg_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered LISTAGG ... WITHIN GROUP (ANSI 2016, Spark 4 native) —
    the report-building string fold. Inherently a small-group op (the
    result row carries the whole group); applied to the nation/region
    dims where groups are O(5). Broadcast join, one tiny shuffle."""
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    joined = n.join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return (
        joined.groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.expr(
                "listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name)"
            ).alias("nations_csv"),
        )
        .orderBy("r_name")
    )


ORACLE_LISTAGG = """
SELECT r_name, COUNT(*) AS n_nations,
       string_agg(n_name, ',' ORDER BY n_name) AS nations_csv
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name ORDER BY r_name
"""


# --------------------------------------------------------------------------
# line-oriented text corpus IO
# --------------------------------------------------------------------------

def q_text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-oriented text sink → source round-trip: documents serialized
    one-per-line as ``doc_id<TAB>lang<TAB>text`` (the format sed/awk/
    sort corpus tooling consumes), written distributed, read back with
    spark.read.text and field-split with a bounded split (limit 3, so
    tabs INSIDE the text survive as part of the last field). Docs
    containing a line terminator (\\n OR bare \\r — Hadoop's line
    reader splits on both) cannot live on one line, and a NULL field
    cannot be encoded (concat would shift the remaining fields left) —
    both sides exclude those rows identically (zero in this corpus;
    the guard is the contract). Row-level output (id, lang, recomputed
    char length) so any line-splitting corruption hash-fails."""
    d = _t(spark, sf_dir, "documents").filter(
        ~F.col("text").contains("\n")
        & ~F.col("text").contains("\r")
        & F.col("doc_id").isNotNull()
        & F.col("lang").isNotNull()
        & F.col("text").isNotNull()
    )
    lines = d.select(
        F.concat_ws("\t", F.col("doc_id").cast("string"), "lang", "text")
        .alias("value")
    )
    path = _format_fixture(sf_dir, "docs_text2", "documents")

    def _build(stage: str) -> None:
        lines.repartition(4).write.mode("overwrite").text(stage)

    _publish_fixture_dir(path, _build)
    raw = spark.read.option("pathGlobFilter", "part-*").text(path)
    parts = F.split(F.col("value"), "\t", 3)
    return raw.select(
        parts.getItem(0).cast("bigint").alias("doc_id"),
        parts.getItem(1).alias("lang"),
        F.length(parts.getItem(2)).alias("n_chars_rt"),
    )


ORACLE_TEXT_ROUNDTRIP = """
SELECT doc_id, lang, length(text) AS n_chars_rt
FROM documents
WHERE strpos(text, chr(10)) = 0 AND strpos(text, chr(13)) = 0
  AND doc_id IS NOT NULL AND lang IS NOT NULL AND text IS NOT NULL
"""


# --------------------------------------------------------------------------
# custom Python DataSource (Spark 4 datasource API)
# --------------------------------------------------------------------------

def q_pyds_manifest_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Landing-zone ingestion through the custom ``csv_manifest``
    Python DataSource (sources/pyds.py — the Spark 4 datasource API):
    a 3-file CSV landing fixture is read with one input partition PER
    FILE, raw strings + ``_source_file`` lineage out of the scan, and
    the typing done JVM-side with casts — the division of labor the
    source's contract prescribes. The Python scan is the honest cost
    of a Python-only client boundary (reference s3.py:70); everything
    after the yield is codegen."""
    from kaggle_ecommerce_etl_spark.sources import pyds

    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string"),
        "lang",
        F.col("n_chars").cast("string"),
    )
    path = _format_fixture(sf_dir, "docs_landing_csv2", "documents")

    def _build(stage: str) -> None:
        (
            d.repartition(3, "doc_id")
            .write.mode("overwrite")
            .option("header", "true")
            # standard csv dialect (doubled quotes), matching the
            # Python csv.reader on the consuming side — Spark's
            # default backslash-escape would misparse any field
            # containing a double quote
            .option("escape", '"')
            .csv(stage)
        )
        # Spark writes part-*.csv — already matching the reader's
        # *.csv listing; the _SPARK_GRAFT_READY marker and _SUCCESS
        # are filtered by the suffix check.

    _publish_fixture_dir(path, _build)
    pyds.register(spark)
    raw = (
        spark.read.format("csv_manifest")
        .option("path", path)
        .option("columns", "doc_id,lang,n_chars")
        .load()
    )
    return raw.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "lang",
        F.col("n_chars").cast("int").alias("n_chars"),
    )


ORACLE_PYDS_MANIFEST = """
SELECT doc_id, lang, n_chars FROM documents
"""


def q_hll_union_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-shard distinct-count via HLL sketch UNION — the HLL
    sibling of theta_union_gate: per-source HLL sketches of document
    fingerprints merged with hll_union_agg into one global estimate
    (each shard ships 2^12 registers, never its key set), gated ±5 %
    against the exact global distinct. Together with theta_union_gate
    this pins BOTH mergeable-distinct families: HLL (smaller state,
    union-only) and Theta (larger state, full set algebra)."""
    d = _t(spark, sf_dir, "documents")
    fp = d.select("source", F.md5(F.col("text")).alias("fp"))
    per_source = fp.groupBy("source").agg(
        F.hll_sketch_agg("fp").alias("sk")
    )
    merged = per_source.agg(
        F.hll_sketch_estimate(F.expr("hll_union_agg(sk)")).alias("est")
    )
    exact = fp.agg(F.count_distinct("fp").alias("n_exact"))
    out = exact.crossJoin(merged)  # two 1-row frames
    ok = (
        F.abs(F.col("est") - F.col("n_exact"))
        <= F.lit(0.05) * F.col("n_exact")
    )
    return out.select("n_exact", ok.alias("union_ok"))


ORACLE_HLL_UNION_GATE = """
SELECT COUNT(DISTINCT md5(text)) AS n_exact, TRUE AS union_ok
FROM documents
"""


def q_param_bind_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL (named-bind ``:param`` markers, Spark 4
    ``spark.sql(..., args=...)``) — the injection-safe literal path a
    multi-tenant query service uses: parameters bind as typed literals
    AFTER parsing, so Catalyst constant-folds and pushes them into the
    scan exactly like inline literals (same plan, no plan-cache
    poisoning, no string splicing). Shape: priority revenue summary
    above a bound threshold between bound dates."""
    orders = _view(spark, sf_dir, "orders")
    return spark.sql(
        f"""
        SELECT o_orderpriority,
               COUNT(*) AS n,
               CAST(round(SUM(CAST(o_totalprice AS DECIMAL(23,8))), 2)
                    AS DOUBLE) AS sum_total
        FROM {orders}
        WHERE o_totalprice > :min_total
          AND o_orderdate >= CAST(:d0 AS TIMESTAMP)
          AND o_orderdate < CAST(:d1 AS TIMESTAMP)
        GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
        args={
            "min_total": 150000.0,
            "d0": "1996-01-01",
            "d1": "1998-01-01",
        },
    )


ORACLE_PARAM_BIND = """
SELECT o_orderpriority, COUNT(*) AS n,
       CAST(round(SUM(CAST(o_totalprice AS DECIMAL(23,8))), 2) AS DOUBLE)
         AS sum_total
FROM orders
WHERE o_totalprice > 150000.0
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def q_collation_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case-insensitive grouping via Spark 4 COLLATIONS — the engine-
    level answer to "these keys differ only by case": grouping on
    ``collate(name, 'UTF8_LCASE')`` compares with case folding INSIDE
    the hash aggregate (no derived lower() column materialized, and
    sort/shuffle keys stay collation-aware end-to-end). The fixture
    manufactures the collision (each sampled customer name unioned
    with its uppercased twin); output carries the deterministic binary
    MIN as the group representative — the collated group key itself is
    first-seen-nondeterministic, which is exactly why it is not
    projected. Oracle restates with lower()-keyed grouping (equivalent
    folding on this ASCII domain)."""
    c = _t(spark, sf_dir, "customer").filter(
        F.col("c_custkey") % 50 == 0
    ).select("c_name")
    mixed = c.unionAll(c.select(F.upper("c_name").alias("c_name")))
    return (
        mixed.groupBy(F.expr("collate(c_name, 'UTF8_LCASE')").alias("__k"))
        .agg(
            F.min("c_name").alias("name_ci"),
            F.count(F.lit(1)).alias("n_variants"),
        )
        .select("name_ci", "n_variants")
        .orderBy("name_ci")
    )


ORACLE_COLLATION_DEDUP = """
WITH s AS (SELECT c_name FROM customer WHERE c_custkey % 50 = 0),
mixed AS (SELECT c_name FROM s UNION ALL SELECT upper(c_name) FROM s)
SELECT MIN(c_name) AS name_ci, COUNT(*) AS n_variants
FROM mixed GROUP BY lower(c_name) ORDER BY name_ci
"""


# --------------------------------------------------------------------------
# catalog surface: external table + ANALYZE statistics
# --------------------------------------------------------------------------

def q_catalog_table_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog-managed access path: a projected orders extract is
    published as parquet, registered as an EXTERNAL catalog table
    (CREATE TABLE ... USING parquet LOCATION — definition only, no
    write race: the data is published first via the atomic fixture
    rename, and the ``_SPARK_GRAFT_READY`` marker is invisible to the
    scan because Spark's file index skips underscore-prefixed files),
    then ANALYZE TABLE COMPUTE STATISTICS FOR ALL COLUMNS feeds the
    catalog row/size/column stats the optimizer's size estimation and
    CBO read. The query consumes the table THROUGH the catalog name
    (spark.table), proving definition → stats → scan end-to-end; at
    100 TB this is the metastore path every warehouse query takes, and
    ANALYZE is what turns join-side size guessing into measured
    numbers. Table name is tagged per source-data generation so a
    testdata regen can't serve a stale definition."""
    import re as _re

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    path = _format_fixture(sf_dir, "orders_cat", "orders")

    def _build(stage: str) -> None:
        o.repartition(4).write.mode("overwrite").parquet(stage)

    _publish_fixture_dir(path, _build)
    tbl = "orders_cat_" + _re.sub(r"\W", "_", path.rsplit("/", 2)[-2])
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {tbl} "
        f"(o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE) "
        f"USING parquet LOCATION '{path}'"
    )
    spark.sql(f"ANALYZE TABLE {tbl} COMPUTE STATISTICS FOR ALL COLUMNS")

    return (
        spark.table(tbl)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _dsum("o_totalprice").alias("sum_total"),
        )
        .orderBy("o_orderstatus")
    )


ORACLE_CATALOG_ROUNDTRIP = """
SELECT o_orderstatus, COUNT(*) AS n,
       CAST(round(SUM(CAST(o_totalprice AS DECIMAL(23,8))), 2) AS DOUBLE)
         AS sum_total
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


def q_kll_quantile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantiles via the Datasketches KLL family — the MERGEABLE
    quantile sketch (rank error ≤ ~1.7 % at the default k): per-status
    partial sketches (the shard state) merge with kll_merge_agg into
    one global sketch whose median is gated ±5 % against the exact
    interpolated percentile. Complements approx_quantile_gate (GK
    inside one aggregate): KLL exposes the EXPLICIT
    accumulate-then-merge split a 1000-shard job needs, same pattern
    as the HLL/Theta/bitmap distinct families."""
    o = _t(spark, sf_dir, "orders")
    per_status = o.groupBy("o_orderstatus").agg(
        F.expr(
            "kll_sketch_agg_double(CAST(o_totalprice AS DOUBLE))"
        ).alias("sk")
    )
    merged = per_status.agg(
        F.expr(
            "kll_sketch_get_quantile_double(kll_merge_agg_double(sk), 0.5)"
        ).alias("med_kll")
    )
    exact = o.agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias(
            "median_exact"
        )
    )
    out = exact.crossJoin(merged)  # two 1-row frames
    ok = (
        F.abs(F.col("med_kll") - F.col("median_exact"))
        <= F.lit(0.05) * F.col("median_exact")
    )
    return out.select("median_exact", ok.alias("kll_ok"))


ORACLE_KLL_GATE = """
SELECT round(quantile_cont(o_totalprice, 0.5), 4) AS median_exact,
       TRUE AS kll_ok
FROM orders
"""


def q_cms_frequency_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency gate: the heavy hitters' exact
    counts checked against CMS estimates (fixed seed → deterministic).
    CMS NEVER underestimates and overestimates by ≤ ε·N with
    probability 1-δ, so the gate asserts
    exact ≤ est ≤ exact + ceil(ε·N) (ε=0.001, δ=0.01). The sketch is
    built fully ENGINE-SIDE by the count_min_sketch aggregate
    (mergeable partials, w×d ≈ 2719×7 longs ≈ 150 KB regardless of
    stream size); the driver deserializes that one bounded blob to
    query it — never the stream.

    DRIVER-TRANSFER INVARIANT: the heavy-hitter collect below is
    bounded at < 50 rows BY CONSTRUCTION — the predicate n·50 > total
    is relative (Σn = total, so at most 49 tokens can each exceed
    total/50). Any edit replacing it with an absolute threshold
    unbounds the collect; the bound is pinned adversarially by
    tests/test_queries_ext3.py::test_cms_gate_collect_is_bounded."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(F.split(F.lower(F.col("text")), WS_SPLIT)).alias("token")
    ).filter(F.col("token") != "")
    total = toks.count()
    raw = bytes(
        toks.agg(
            F.expr("count_min_sketch(token, 0.001d, 0.99d, 42)").alias("s")
        ).first()[0]
    )
    jvm = spark.sparkContext._jvm
    cms = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
        jvm.java.io.ByteArrayInputStream(raw)
    )
    slack = -(-total // 1000)  # ceil(eps * N)
    exact = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") * 50 > F.lit(total))
        .collect()
    )
    rows = []
    for r in sorted(exact, key=lambda r: (-r.n, r.token)):
        est = cms.estimateCount(r.token)
        rows.append((r.token, r.n, bool(r.n <= est <= r.n + slack)))
    return spark.createDataFrame(
        rows, "token string, n bigint, cms_ok boolean"
    )


ORACLE_CMS_GATE = """
WITH toks AS (
  SELECT unnest(string_split_regex(lower(text), '[ \\t\\n\\r\\x0B\\f]+')) AS token
  FROM documents
),
t AS (SELECT token FROM toks WHERE token <> ''),
counted AS (
  SELECT token, COUNT(*) AS n, (SELECT COUNT(*) FROM t) AS total
  FROM t GROUP BY token
)
SELECT token, n, TRUE AS cms_ok
FROM counted WHERE n * 50 > total
"""


def q_regr_fit_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-engine OLS via the SQL:2023 regr_* aggregate family — slope,
    intercept, R² and point count of extendedprice on quantity per
    return flag, one pass, one shuffle (the regression state is six
    running sums, perfectly map-side-combinable). DuckDB implements
    the same aggregates, so the oracle is the literal twin; rounded to
    4 (the running double sums are reduce-order-dependent only in the
    last ulps, far below this scale)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(
                F.expr("regr_slope(l_extendedprice, l_quantity)"), 4
            ).alias("slope"),
            F.round(
                F.expr("regr_intercept(l_extendedprice, l_quantity)"), 4
            ).alias("intercept"),
            F.round(
                F.expr("regr_r2(l_extendedprice, l_quantity)"), 4
            ).alias("r2"),
            F.expr("regr_count(l_extendedprice, l_quantity)").alias("n"),
        )
        .orderBy("l_returnflag")
    )


ORACLE_REGR_FIT = """
SELECT l_returnflag,
       round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
       round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
       round(regr_r2(l_extendedprice, l_quantity), 4) AS r2,
       regr_count(l_extendedprice, l_quantity) AS n
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


def q_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML ingestion path: order rows serialized to XML fragments and
    parsed back with from_xml + an explicit schema (the same
    no-infer-at-scale rule as the JSONL reader) — field values must
    survive the serialize→parse round-trip exactly, so the oracle is
    simply the original projection. Pure expressions end to end; the
    XML parse rides the scan."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 20 == 0)
    xml = F.format_string(
        "<o><k>%s</k><s>%s</s><t>%s</t></o>",
        F.col("o_orderkey").cast("string"),
        F.col("o_orderstatus"),
        F.round("o_totalprice", 2).cast("string"),
    )
    parsed = o.select(
        F.from_xml(xml, "k BIGINT, s STRING, t DOUBLE").alias("v")
    )
    return parsed.select(
        F.col("v.k").alias("o_orderkey"),
        F.col("v.s").alias("o_orderstatus"),
        F.col("v.t").alias("total"),
    )


ORACLE_XML_ROUNDTRIP = """
SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS total
FROM orders WHERE o_orderkey % 20 = 0
"""


def q_kv_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Config-string parsing via str_to_map (the 'k=v,k2=v2' format
    logs and job configs speak) + typed map extraction — the
    map-functions surface on the oracle path. The kv string is
    synthesized from order columns so the parse is verifiable: parse →
    extract both keys → aggregate must reproduce the direct group-by."""
    o = _t(spark, sf_dir, "orders")
    kv = F.concat(
        F.lit("status="),
        F.col("o_orderstatus"),
        F.lit(",prio="),
        F.col("o_orderpriority"),
    )
    m = o.select(F.str_to_map(kv, F.lit(","), F.lit("=")).alias("m"))
    return (
        m.select(
            F.col("m")["status"].alias("status"),
            F.col("m")["prio"].alias("prio"),
        )
        .groupBy("status", "prio")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("status", "prio")
    )


ORACLE_KV_PARSE = """
SELECT o_orderstatus AS status, o_orderpriority AS prio, COUNT(*) AS n
FROM orders GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_sql_udf_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-defined UDFs (Spark 4 CREATE FUNCTION ... RETURN): a SCALAR
    SQL UDF (banded doc quality from char length) and a TABLE-VALUED
    SQL UDF (chunk-start generator) consumed via LATERAL — both expand
    to pure Catalyst expressions/plans at resolution time (unlike
    Python UDFs there is NO serialization boundary: the body inlines,
    codegen and pushdown see through it), which is what makes SQL UDFs
    the right reuse mechanism for shared business logic at 100 TB.
    Both functions are CREATE OR REPLACE'd per call (idempotent,
    session-scoped, prefixed names). Oracle restates the bodies
    inline."""
    docs = _view(spark, sf_dir, "documents")
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION __ext3_qband(nc INT) "
        "RETURNS STRING RETURN CASE WHEN nc < 100 THEN 'short' "
        "WHEN nc < 300 THEN 'medium' ELSE 'long' END"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION __ext3_chunk_starts("
        "nc INT, size INT) RETURNS TABLE (start INT) "
        "RETURN SELECT explode(sequence(0, greatest(nc - 1, 0), size))"
    )
    return spark.sql(
        f"""
        SELECT __ext3_qband(d.n_chars) AS band,
               COUNT(DISTINCT d.doc_id) AS n_docs,
               COUNT(*) AS n_chunks,
               CAST(MAX(c.start) AS INT) AS max_start
        FROM {docs} d, LATERAL __ext3_chunk_starts(d.n_chars, 128) c
        GROUP BY __ext3_qband(d.n_chars)
        ORDER BY band
        """
    )


ORACLE_SQL_UDF_CHUNKS = """
WITH c AS (
  SELECT doc_id, n_chars,
         CASE WHEN n_chars < 100 THEN 'short'
              WHEN n_chars < 300 THEN 'medium' ELSE 'long' END AS band,
         unnest(range(0, greatest(n_chars - 1, 0) + 1, 128)) AS start
  FROM documents
)
SELECT band, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_chunks,
       CAST(MAX(start) AS INT) AS max_start
FROM c GROUP BY band ORDER BY band
"""


def q_bitmap_distinct_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT mergeable distinct-count via bitmap aggregates (the
    Snowflake BITMAP_* pattern, Spark 3.5 bitmap_construct_agg
    family): customer keys bucket into 32768-bit bitmaps per
    (status, bucket), bitmap_count sums per status. Unlike HLL/Theta
    this is exact AND mergeable — partial bitmaps OR together across
    shards with no error — at the price of state proportional to the
    key-domain density (4 KB per touched bucket) instead of a fixed
    sketch size. The oracle is plain COUNT(DISTINCT): same numbers,
    different (mergeable) plan."""
    o = _t(spark, sf_dir, "orders")
    per_bucket = o.select(
        "o_orderstatus",
        F.expr("bitmap_bucket_number(o_custkey)").alias("bk"),
        F.expr("bitmap_bit_position(o_custkey)").alias("bp"),
    ).groupBy("o_orderstatus", "bk").agg(
        F.expr("bitmap_construct_agg(bp)").alias("bm")
    )
    return (
        per_bucket.groupBy("o_orderstatus")
        .agg(
            F.sum(F.expr("bitmap_count(bm)")).cast("bigint").alias(
                "n_distinct_cust"
            )
        )
        .orderBy("o_orderstatus")
    )


ORACLE_BITMAP_DISTINCT = """
SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_distinct_cust
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


def q_bitmap_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bitmap MERGE leg: per-status partial bitmaps (the shard
    state a distributed job would hold) OR-combined with
    bitmap_or_agg per bucket, then counted — the exact global
    distinct reconstructed purely from mergeable partials, no rescan
    of raw keys. Oracle: global COUNT(DISTINCT)."""
    o = _t(spark, sf_dir, "orders")
    per_shard = o.select(
        "o_orderstatus",
        F.expr("bitmap_bucket_number(o_custkey)").alias("bk"),
        F.expr("bitmap_bit_position(o_custkey)").alias("bp"),
    ).groupBy("o_orderstatus", "bk").agg(
        F.expr("bitmap_construct_agg(bp)").alias("bm")
    )
    merged = per_shard.groupBy("bk").agg(
        F.expr("bitmap_or_agg(bm)").alias("bm")
    )
    return merged.agg(
        F.sum(F.expr("bitmap_count(bm)")).cast("bigint").alias(
            "n_distinct_cust"
        )
    )


ORACLE_BITMAP_UNION = """
SELECT COUNT(DISTINCT o_custkey) AS n_distinct_cust FROM orders
"""


def q_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-interval UNION length (the "total covered time"
    op: how many seconds was each user active, counting overlapping
    5-minute activity windows once): classic islands merge — per
    user, ordered by start, a window carries the running max of
    interval ends; a row opens a new island when its start exceeds
    every previous end; islands aggregate to (min start, max end) and
    their lengths sum per user. All integer epoch-second arithmetic —
    exact at any scale; one shuffle (the per-user window), islands
    never materialize as a join."""
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") % 10 == 0)
    iv = ev.select(
        "user_id",
        F.unix_timestamp("ts").alias("s"),
        (F.unix_timestamp("ts") + F.lit(300)).alias("e"),
    )
    w = Window.partitionBy("user_id").orderBy("s", "e")
    prev_max_e = F.max("e").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = iv.withColumn(
        "new_island",
        (prev_max_e.isNull() | (F.col("s") > prev_max_e)).cast("long"),
    ).withColumn(
        "island",
        F.sum("new_island").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    islands = marked.groupBy("user_id", "island").agg(
        F.min("s").alias("i0"), F.max("e").alias("i1")
    )
    return (
        islands.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_islands"),
            F.sum(F.col("i1") - F.col("i0")).cast("bigint").alias(
                "covered_sec"
            ),
        )
        .orderBy("user_id")
    )


ORACLE_INTERVAL_COVERAGE = """
WITH iv AS (
  -- floor, not cast-round: Spark's unix_timestamp truncates
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS s,
         CAST(floor(epoch(ts)) AS BIGINT) + 300 AS e
  FROM events WHERE user_id % 10 = 0
),
m AS (
  SELECT user_id, s, e,
         CASE WHEN max(e) OVER (PARTITION BY user_id ORDER BY s, e
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING) IS NULL
               OR s > max(e) OVER (PARTITION BY user_id ORDER BY s, e
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS new_island
  FROM iv
),
g AS (
  SELECT user_id, s, e,
         SUM(new_island) OVER (PARTITION BY user_id ORDER BY s, e
                               ROWS UNBOUNDED PRECEDING) AS island
  FROM m
),
i AS (SELECT user_id, island, MIN(s) AS i0, MAX(e) AS i1
      FROM g GROUP BY user_id, island)
SELECT user_id, COUNT(*) AS n_islands,
       CAST(SUM(i1 - i0) AS BIGINT) AS covered_sec
FROM i GROUP BY user_id ORDER BY user_id
"""


def q_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EQUI-DEPTH histogram (the optimizer-statistics shape, vs
    price_histogram's equi-width): ntile(10) over a TOTAL order
    (price, then orderkey so ties split deterministically) → per-bin
    count and value bounds. ntile is the one window here that orders
    globally; at 100 TB the same statistic comes from
    approx_percentile bin edges instead (see approx_quantile_gate) —
    this query pins the EXACT semantics the sketch approximates."""
    o = _t(spark, sf_dir, "orders")
    from pyspark.sql.window import Window

    w = Window.orderBy(F.round("o_totalprice", 2), "o_orderkey")
    binned = o.select(
        F.round("o_totalprice", 2).alias("p"),
        F.ntile(10).over(w).alias("bin"),
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("p").alias("lo"),
            F.max("p").alias("hi"),
        )
        .orderBy("bin")
    )


ORACLE_EQUIDEPTH = """
WITH b AS (
  SELECT round(o_totalprice, 2) AS p,
         ntile(10) OVER (ORDER BY round(o_totalprice, 2), o_orderkey)
           AS bin
  FROM orders
)
SELECT bin, COUNT(*) AS n, MIN(p) AS lo, MAX(p) AS hi
FROM b GROUP BY bin ORDER BY bin
"""


def q_id_gap_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-key RANGE detection (gaps/islands — the data-quality
    sweep that answers "which id ranges never landed"), with
    deterministic gaps carved from the dense orderkey domain (every
    key ≡ 13 mod 97, plus the whole 7000-7999 block). The naive
    single LEAD over all keys is a one-partition window; this plan is
    the SCALE-SAFE two-phase shape instead: keys bucket by key DIV
    16384, intra-bucket gaps come from a bucket-partitioned LEAD
    (distributed), and cross-bucket gaps from the per-bucket
    (min,max) table — thousands of rows at 100 TB — via one tiny
    ordered window. Union of the two is exactly the global gap set
    (an empty bucket between non-empty ones lands in the cross-bucket
    leg by construction). Oracle = the naive global LEAD, affordable
    at oracle scale. Core = operators/temporal.py gap_islands
    (cross-bucket leg unit-tested with an empty middle bucket in
    tests/test_temporal.py)."""
    from kaggle_ecommerce_etl_spark.operators.temporal import gap_islands

    keys = (
        _t(spark, sf_dir, "orders")
        .select(F.col("o_orderkey").alias("k"))
        .filter((F.col("k") % 97 != 13) & (F.expr("k DIV 1000") != 7))
    )
    return gap_islands(keys, "k", bucket_size=16384)


ORACLE_GAP_ISLANDS = """
WITH k AS (
  SELECT o_orderkey AS k FROM orders
  WHERE o_orderkey % 97 <> 13 AND o_orderkey // 1000 <> 7
),
g AS (SELECT k, lead(k) OVER (ORDER BY k) AS nxt FROM k)
SELECT k + 1 AS gap_start, nxt - 1 AS gap_end,
       nxt - k - 1 AS gap_len
FROM g WHERE nxt > k + 1 ORDER BY gap_start
"""


def q_streaming_enrich_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC enrichment join drained end-to-end — the eighth
    streaming paradigm: the event stream joins a static customer→
    nation dimension (broadcast per micro-batch; the static side is a
    plain batch scan, re-resolvable every batch, no state store and
    no watermark needed for the join itself) and aggregates value per
    nation in complete mode. At 100 TB the static side is the
    broadcast dim table every enrichment topology carries; state is
    bounded by |nations|, not the stream."""
    ev = _t(spark, sf_dir, "events").select("user_id", "value")
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_nationkey")
    )
    stream, tag = _parquet_stream(spark, "enrich:v1", sf_dir, ev)
    qname = "enrich_run_" + tag
    joined = stream.join(
        F.broadcast(cust), stream.user_id == cust.c_custkey
    )
    agg = joined.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(F.col("value").cast("decimal(23,8)")), 2)
        .cast("double")
        .alias("sum_value"),
    )
    run_available_now(
        agg, query_name=qname, memory=True, output_mode="complete"
    )
    return spark.table(qname).select("c_nationkey", "n_events", "sum_value")


ORACLE_STREAMING_ENRICH = """
SELECT c_nationkey, COUNT(*) AS n_events,
       CAST(round(SUM(CAST(value AS DECIMAL(23,8))), 2) AS DOUBLE)
         AS sum_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_nationkey
"""


# --------------------------------------------------------------------------
# seventh streaming paradigm: native session_window aggregation
# --------------------------------------------------------------------------

def q_streaming_session_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked NATIVE session-window aggregation drained end-to-end
    (append mode) — the engine-managed sessionization path, distinct
    from streaming_sessionize_run's custom applyInPandasWithState
    state machine: ``session_window(ts, gap)`` keeps per-key session
    state in the state store, merges windows that touch, and emits a
    session only once the watermark passes its close. A far-future
    sentinel event advances the final watermark so every real session
    flushes; the sentinel's own session is excluded by the date
    filter. Same 30-minute-gap semantics as batch events_sessionize,
    so the same gap-island oracle restates it. Watermark-bounded
    state: sessions close 2 h after their last event at the latest —
    the state store never grows past the live-session set."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts")
    )
    sentinel = spark.createDataFrame([(0,)], "user_id long").select(
        "user_id", F.lit("2030-01-01").cast("timestamp").alias("ts")
    )
    stream, tag = _parquet_stream(
        spark, "sesswin:v1", sf_dir, ev.unionByName(sentinel)
    )
    qname = "session_run_" + tag
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    run_available_now(agg, query_name=qname, memory=True)
    return (
        spark.table(qname)
        .filter(F.col("w.start") < F.lit("2029-01-01").cast("timestamp"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
        )
    )


# --------------------------------------------------------------------------
# Python UDTF (arrow-optimized table function) on the oracle surface
# --------------------------------------------------------------------------

def q_udtf_repeat_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 3.5+/4.x user-defined TABLE function) on the
    oracle surface: span-level repetition detection — for each document
    emit every maximal run of ≥2 consecutive identical tokens as
    (start_pos, token, run_len). The span-level sibling of the scalar
    ``repetition_ratio`` quality signal: an LLM-data curation pass uses
    these spans to excise degenerate text instead of dropping whole
    docs (reference has no text-quality surface at all; this extends
    transform.py's row-filter family to sub-row granularity).

    Engine surface: ``@udtf(useArrow=True)`` — rows stream to the
    Python worker in Arrow batches (ArrowEvalPythonUDTF, never the
    row-pickling BatchEvalPython path) and the correlated ``LATERAL
    repeat_runs(text)`` join is planned by Catalyst like any generator:
    per-partition, zero shuffle, no driver participation — embarrassing
    parallelism at 100 TB. The class is defined factory-local so
    cloudpickle serializes it BY VALUE (same rule as the Python
    DataSource classes): workers never need this repo importable.

    Tokenization is ``split(" ")`` — exactly DuckDB's
    ``string_split(text, ' ')`` — so the oracle's gaps-and-islands
    restatement is token-for-token identical."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="start_pos int, token string, run_len int", useArrow=True)
    class RepeatRuns:
        def eval(self, text):  # noqa: ANN001 — UDTF eval signature
            if text is None:
                return
            toks = text.split(" ")
            n = len(toks)
            i = 0
            while i < n:
                j = i
                while j + 1 < n and toks[j + 1] == toks[i]:
                    j += 1
                if j > i and toks[i] != "":
                    yield i, toks[i], j - i + 1
                i = j + 1

    spark.udtf.register("repeat_runs", RepeatRuns)
    # r10: the Arrow UDTF evaluates per-row Python over every doc, and
    # a single-row-group parquet file is ONE task — the whole Python
    # stage serialized on one worker. A dedicated min-partitions view
    # parallelizes it (sf0.1 min-of-3: 1.29 → 0.69 s, identical rows);
    # no-op on multi-file inputs.
    from kaggle_ecommerce_etl_spark.util import ensure_min_partitions

    # view name tagged on the source (ADVICE r10): a FIXED name could
    # race between createOrReplaceTempView and the spark.sql analysis
    # when two constructions with different sf_dirs interleave in one
    # session, silently binding the query to the wrong dataset
    v = "__ext3_documents_minpart_" + _fixture_tag("minpart", sf_dir, "documents")
    ensure_min_partitions(
        _t(spark, sf_dir, "documents")
    ).createOrReplaceTempView(v)
    return spark.sql(
        f"""
        SELECT d.doc_id, r.start_pos, r.token, r.run_len
        FROM {v} d, LATERAL repeat_runs(d.text) r
        """
    )


#: gaps-and-islands restatement: 1-based generate_subscripts positions,
#: runs keyed by i - row_number() within (doc, token); start_pos is the
#: 0-based run head to match the UDTF's Python indexing.
ORACLE_UDTF_REPEAT_RUNS = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
           WHERE text IS NOT NULL),
     e AS (SELECT doc_id, unnest(w) AS tok,
                  generate_subscripts(w, 1) AS i FROM t),
     g AS (SELECT doc_id, tok, i,
                  i - row_number() OVER (
                      PARTITION BY doc_id, tok ORDER BY i) AS grp
           FROM e WHERE tok <> ''),
     r AS (SELECT doc_id, tok, min(i) - 1 AS start_pos,
                  count(*) AS run_len
           FROM g GROUP BY doc_id, tok, grp)
SELECT doc_id, CAST(start_pos AS INT) AS start_pos, tok AS token,
       CAST(run_len AS INT) AS run_len
FROM r WHERE run_len >= 2
"""


# --------------------------------------------------------------------------
# state-store READER: streaming state as a queryable table (Spark 4)
# --------------------------------------------------------------------------

def q_state_store_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 state-store reader on the oracle surface: drain the
    exact-dedup stream (duplicated events fixture, AvailableNow) into a
    ``noop`` sink, then read the checkpoint's state back with
    ``spark.read.format("statestore")`` — streaming state as a plain
    queryable table. This is the operational tool every 100 TB
    streaming deployment needs (audit state growth, debug a hot key,
    migrate a checkpoint) and it works WITHOUT replaying the stream:
    the reader scans the per-partition state files directly, in
    parallel, no driver participation.

    Correctness anchor: after a full drain, ``dropDuplicates(event_id)``
    state is BY CONTRACT exactly the distinct key set — so the state
    read is oracle-checkable as ``SELECT DISTINCT event_id`` over the
    ORIGINAL batch table (the duplicated fixture adds no new keys).
    A fresh checkpoint per call keeps the drain deterministic; the
    state is materialized with one eager ``localCheckpoint`` before
    the checkpoint directory is removed. That barrier need not survive
    executor loss, because rebuilding the query re-runs the stream."""
    import tempfile

    from kaggle_ecommerce_etl_spark.streaming.dedup import dedup_stream_exact

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value", "ts"
    )
    dups = ev.filter(F.col("event_id") % 5 == 0)
    stream, _ = _parquet_stream(
        spark, "statekeys:v1", sf_dir, ev.unionByName(dups)
    )
    with tempfile.TemporaryDirectory(prefix="ckpt_statekeys_") as ckpt:
        run_available_now(dedup_stream_exact(stream, ["event_id"]), ckpt)
        state = spark.read.format("statestore").load(ckpt)
        return state.select(
            F.col("key.event_id").alias("event_id")
        ).localCheckpoint()


ORACLE_STATE_STORE_READ = """
SELECT DISTINCT event_id FROM events
"""


# --------------------------------------------------------------------------
# applyInArrow: per-group robust statistics the engine lacks natively
# --------------------------------------------------------------------------

def q_arrow_group_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation MEDIAN ABSOLUTE DEVIATION of customer balances via
    ``groupBy(...).applyInArrow`` (Spark 4's Arrow-native grouped-map —
    no pandas conversion layer at all: the UDF receives and returns
    ``pyarrow.Table``). MAD is the robust dispersion statistic outlier
    sweeps use instead of stddev, and Spark has NO built-in for it
    (median-of-transformed-residuals is not expressible as a single
    aggregate), so this is exactly the sanctioned custom-op tier:
    composition impossible → Arrow-batched per-group kernel.

    Exactness contract: balances convert to integer CENTS before the
    kernel, so both medians land on exact .0/.5/.25 binary fractions —
    numpy's interpolated median then equals DuckDB's ``median``/``mad``
    bit-for-bit at any scale (verified: the double product path in both
    engines sees identical IEEE inputs; no decimal-tie risk).

    Scale shape: one hash-partial-free shuffle on the group key, then
    per-group Arrow kernels sized by |group| (largest nation's
    customers must fit one task — the documented applyIn* contract,
    same as the reference's whole-frame pandas but per-key instead of
    per-dataset). groupBy cardinality 25 → trivially balanced here;
    for high-skew keys the salt-and-recombine pattern in
    operators/scale.py applies (MAD is not algebraic, so the exact
    path cannot map-side combine — that irreducibility is WHY this op
    needs the custom tier)."""
    import numpy as np
    import pyarrow as pa

    cust = _t(spark, sf_dir, "customer").select(
        "c_nationkey",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )

    def _mad(tbl: "pa.Table") -> "pa.Table":
        cents = tbl.column("cents").to_numpy(zero_copy_only=False)
        med = float(np.median(cents))
        mad = float(np.median(np.abs(cents - med)))
        return pa.table(
            {
                "c_nationkey": pa.array(
                    [tbl.column("c_nationkey")[0].as_py()], pa.int32()
                ),
                "n_cust": pa.array([len(cents)], pa.int64()),
                "median_cents": pa.array([med], pa.float64()),
                "mad_cents": pa.array([mad], pa.float64()),
            }
        )

    return cust.groupBy("c_nationkey").applyInArrow(
        _mad,
        schema="c_nationkey int, n_cust bigint, "
        "median_cents double, mad_cents double",
    )


ORACLE_ARROW_GROUP_MAD = """
SELECT c_nationkey, count(*) AS n_cust,
       median(CAST(round(c_acctbal * 100) AS BIGINT)) AS median_cents,
       mad(CAST(round(c_acctbal * 100) AS BIGINT)) AS mad_cents
FROM customer GROUP BY c_nationkey
"""


# --------------------------------------------------------------------------
# streaming Python DataSource: the landing zone as a micro-batch stream
# --------------------------------------------------------------------------

def q_pyds_stream_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NINTH streaming paradigm: a custom PYTHON streaming source
    (Spark 4 ``DataSourceStreamReader`` — the partition-based API, not
    the driver-side Simple variant) drained end-to-end. The landing
    zone itself becomes the stream: offsets are consumed-file counts,
    each micro-batch fans one InputPartition per newly-landed CSV to
    the executors, and the reader yields raw strings + a
    ``_source_file`` lineage column (the same contract as the batch
    ``csv_manifest`` source). This supersedes the reference's cron
    re-scan (modified-in-last-Δ, pg.py:74-121) with exact
    checkpointed progress over the same directory layout.

    The fixture is BOUNDED by construction (event_id < 6000 →
    ≤6000 rows at ANY sf), split across three landed files — a
    control-plane-sized drop; the scale path is the same reader over
    10 000 files, where the driver only lists names."""
    import csv as _csv
    import os

    from kaggle_ecommerce_etl_spark.sources.pyds import register_stream

    ev = (
        _t(spark, sf_dir, "events")
        .select("event_id", "user_id", "event_type")
        .filter(F.col("event_id") < 6000)
    )
    src_dir = _stream_fixture_dir("pydsstream:v1", sf_dir)

    def _build(stage: str) -> None:
        os.makedirs(stage, exist_ok=True)
        rows = ev.collect()  # ≤6000 rows by the filter — bounded at any sf
        buckets: dict[int, list] = {0: [], 1: [], 2: []}
        for r in rows:
            buckets[r["event_id"] % 3].append(r)
        for k, rs in buckets.items():
            with open(
                f"{stage}/events_{k}.csv", "w", newline=""
            ) as fh:
                w = _csv.writer(fh)
                w.writerow(["event_id", "user_id", "event_type"])
                for r in sorted(rs, key=lambda x: x["event_id"]):
                    w.writerow(
                        [r["event_id"], r["user_id"], r["event_type"]]
                    )

    _publish_fixture_dir(src_dir, _build)
    register_stream(spark)

    qname = "pyds_stream_" + os.path.basename(src_dir)
    stream = (
        spark.readStream.format("landing_stream")
        .option("path", src_dir)
        .option("columns", "event_id,user_id,event_type")
        .load()
    )
    run_available_now(stream, query_name=qname, memory=True)
    return spark.table(qname)


ORACLE_PYDS_STREAM = """
SELECT CAST(event_id AS VARCHAR) AS event_id,
       CAST(user_id AS VARCHAR) AS user_id,
       event_type,
       'events_' || CAST(event_id % 3 AS VARCHAR) || '.csv'
         AS _source_file
FROM events WHERE event_id < 6000
"""


# --------------------------------------------------------------------------
# order-statistic window aggregate: rolling median, natively
# --------------------------------------------------------------------------

def q_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling MEDIAN per user over event history — the order-statistic
    window the robust-feature path needs (outlier-resistant level
    estimate; the windowed sibling of arrow_group_mad). Spark-first
    answer: native ``percentile(value, 0.5)`` evaluated over a bounded
    ROWS frame — no Python anywhere; the engine buffers exactly the
    5-row frame per partition position (state O(frame), not
    O(history)), one shuffle on the user key shared with the count
    feature. tests/test_udtf_state.py proves the pandas-UDAF spelling
    (ArrowWindowPython) returns the identical column, pinning that
    the native path is the right default and the UDAF tier is only a
    fallback for statistics percentile can't express.

    Exactness: both engines interpolate an even-count median as the
    mean of the two middle DOUBLES — same IEEE inputs, same output,
    no rounding applied (single arithmetic op, no reduce-order
    dependence)."""
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") % 7 == 0)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    frame = w.rowsBetween(-4, 0)
    return ev.select(
        "user_id",
        "event_id",
        F.expr("percentile(value, 0.5)").over(frame).alias("roll_median5"),
        F.count(F.lit(1)).over(frame).alias("frame_n"),
    )


ORACLE_ROLLING_MEDIAN = """
SELECT user_id, event_id,
       median(value) OVER w AS roll_median5,
       count(*) OVER w AS frame_n
FROM events WHERE user_id % 7 = 0
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
"""
