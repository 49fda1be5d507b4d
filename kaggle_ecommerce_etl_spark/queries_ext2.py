"""Third query wave: the remaining classic relational shapes the base
schema supports (TPC-H Q12/Q13/Q17/Q21 adaptations — conditional
counts over a join, outer-join distribution, aggregate-then-join
scalar correlation, multi-supplier blame attribution) plus the
training-corpus operations a 100 TB LLM-data pipeline runs between
dedup and the tokenizer: sequence packing, deterministic global
shuffle, document-frequency rarity scoring, semantic (embedding)
dedup with canonical selection, and target-mix rebalancing — and a
fifth streaming paradigm (stream-stream interval join).

Same determinism rules as queries.py: rounded doubles, total-order
tiebreaks, aliases matching the oracle exactly. Registered in
``queries.REGISTRY``.

Reference parity: the reference engine's ETL surface (pipelines,
dedup, profiling) is already covered by queries.py/queries_ext.py;
this module widens the engine surface beyond it, per SURVEY §2's
"training-data pipeline" mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

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
from kaggle_ecommerce_etl_spark.sinks.csv_sink import write_csv_file
from kaggle_ecommerce_etl_spark.streaming.file_source import (
    run_available_now,
    stream_csv_directory,
)


# --------------------------------------------------------------------------
# relational breadth: the last TPC-H shapes expressible on this schema
# --------------------------------------------------------------------------

def q_priority_line_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipmode → linestatus, no l_shipmode column in
    this schema): conditional counts over a join — per linestatus, how
    many shipped lines belonged to urgent/high- vs lower-priority
    orders in one year. One shuffle join on l_orderkey (the date
    filter pushes to the lineitem scan), then a 2-group aggregate."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    # coalesce: a NULL priority must count as LOW (the oracle's CASE
    # routes NULL to ELSE), not vanish from both sums
    high = F.coalesce(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("long"),
        F.lit(0),
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(high).alias("high_line_count"),
            F.sum(1 - high).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


ORACLE_PRIORITY_LINES = """
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY l_linestatus ORDER BY l_linestatus
"""


def q_cust_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: customer LEFT OUTER JOIN orders with a
    join-side predicate (non-urgent orders only), per-customer order
    count, then the distribution of those counts. Two shuffles
    (custkey join+agg, then the tiny count-of-counts agg); customers
    with zero qualifying orders stay in the distribution at c_count=0
    — the outer-join semantics Q13 exists to test."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_custkey", "o_orderkey")
    per_cust = (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


ORACLE_CUST_ORDER_DIST = """
WITH per_cust AS (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey)
SELECT c_count, COUNT(*) AS custdist
FROM per_cust GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar subquery (per-part average
    quantity) decorrelated to aggregate-then-join — the per-part
    averages are a |parts|-row aggregate joined back to lineitem, and
    the brand filter semi-joins through a BROADCAST part dim, so the
    only real shuffle is the avg-qty aggregation. Revenue of
    below-half-average-quantity lines, /7 for the yearly figure."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#12")
    li_b = li.join(
        F.broadcast(part.select("p_partkey")),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    avg_qty = li.groupBy(F.col("l_partkey").alias("ap_key")).agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    return (
        li_b.join(avg_qty, F.col("l_partkey") == F.col("ap_key"))
        .filter(F.col("l_quantity") < F.lit(0.5) * F.col("avg_qty"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(23,8)"))
                / F.lit(7),
                2,
            )
            .cast("double")
            .alias("avg_yearly")
        )
    )


ORACLE_SMALL_QTY = """
WITH avg_qty AS (
  SELECT l_partkey AS ap_key, AVG(l_quantity) AS aq FROM lineitem GROUP BY 1)
SELECT CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(23,8))) / 7, 2)
            AS DOUBLE) AS avg_yearly
FROM lineitem
JOIN part ON l_partkey = p_partkey AND p_brand = 'Brand#12'
JOIN avg_qty ON l_partkey = ap_key
WHERE l_quantity < 0.5 * aq
"""


def q_late_supplier_blame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting) re-expressed
    Spark-first: instead of Q21's EXISTS + NOT EXISTS lineitem
    self-joins (three passes over the fact table), ONE pass aggregates
    per (order, supplier) lateness flags, a second tiny aggregate per
    order finds multi-supplier orders where EXACTLY ONE supplier was
    late (>90 days after order date), and that supplier takes the
    blame. Two shuffles on l_orderkey, then a broadcast supplier-name
    join — same answer, a fraction of Q21's plan."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    per_supp = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.max(
                (
                    F.col("l_shipdate")
                    > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
                ).cast("int")
            ).alias("is_late")
        )
    )
    blamed = (
        per_supp.groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_supp"),
            F.sum("is_late").alias("n_late"),
            F.max(
                F.when(F.col("is_late") == 1, F.col("l_suppkey"))
            ).alias("blame_key"),
        )
        .filter((F.col("n_supp") > 1) & (F.col("n_late") == 1))
    )
    return (
        blamed.groupBy("blame_key")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(F.broadcast(supp), F.col("blame_key") == F.col("s_suppkey"))
        .select("s_name", "numwait")
        .orderBy(F.desc("numwait"), "s_name")
        .limit(10)
    )


ORACLE_LATE_BLAME = """
WITH per_supp AS (
  SELECT l_orderkey, l_suppkey,
         MAX(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
                  THEN 1 ELSE 0 END) AS is_late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
  GROUP BY l_orderkey, l_suppkey),
blamed AS (
  SELECT l_orderkey,
         MAX(CASE WHEN is_late = 1 THEN l_suppkey END) AS blame_key
  FROM per_supp GROUP BY l_orderkey
  HAVING COUNT(*) > 1 AND SUM(is_late) = 1)
SELECT s_name, COUNT(*) AS numwait
FROM blamed JOIN supplier ON blame_key = s_suppkey
GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 10
"""


# --------------------------------------------------------------------------
# training-corpus operations: packing, shuffle, rarity, semantic dedup,
# mix rebalance
# --------------------------------------------------------------------------

_PACK_CAPACITY = 2048
_PACK_BUCKET = 64  # docs per cumsum bucket (range partition stand-in)


def _pack_binned(d: DataFrame) -> DataFrame:
    """Shared two-phase packing cumsum (ONE definition for
    q_pack_sequences and q_pack_materialize — boundary semantics must
    never diverge between them): per-bucket token totals → broadcast
    offsets → within-bucket exclusive cumsum → bin_id. Returns
    (doc_id, n_tokens, norm_text, bin_id); callers that don't select
    norm_text get it pruned by Catalyst for free."""
    toks = F.split(F.lower(F.trim(F.col("text"))), WS_SPLIT)
    tok = d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.array_join(toks, " ").alias("norm_text"),
        F.floor(F.col("doc_id") / _PACK_BUCKET).alias("bkt"),
    )
    offsets = (
        tok.groupBy("bkt")
        .agg(F.sum("n_tokens").alias("bkt_tokens"))
        .withColumn(
            "offset",
            F.coalesce(
                F.sum("bkt_tokens").over(
                    Window.orderBy("bkt").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("bkt", "offset")
    )
    win = Window.partitionBy("bkt").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    return (
        tok.join(F.broadcast(offsets), "bkt")
        .withColumn(
            "running",
            F.col("offset") + F.coalesce(F.sum("n_tokens").over(win), F.lit(0)),
        )
        .withColumn(
            "bin_id", F.floor(F.col("running") / _PACK_CAPACITY).cast("long")
        )
        .select("doc_id", "n_tokens", "norm_text", "bin_id")
    )


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing — the step that turns a deduped corpus into
    fixed-budget training rows: documents in doc_id order are laid
    head-to-tail and cut into 2048-token bins (a doc spanning a
    boundary belongs to the bin where it starts, exactly like a
    streaming packer that lets sequences cross boundaries).

    The global exclusive prefix-sum is computed SCALABLY — never one
    giant window partition: per-bucket token totals (tiny aggregate)
    give broadcast offsets, the within-bucket cumsum windows only over
    its bucket. At 100 TB the bucket would be the range-partition id
    from a sorted write; the two-phase shape is identical. Binning is
    the shared _pack_binned helper (one definition with
    pack_materialize)."""
    packed = _pack_binned(_t(spark, sf_dir, "documents"))
    return (
        packed.groupBy("bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("bin_id")
    )


ORACLE_PACK_SEQUENCES = f"""
WITH t AS (
  SELECT doc_id,
         len(string_split_regex(lower(trim(text)), '[ \\t\\n\\r\\x0B\\f]+')) AS n_tokens
  FROM documents),
c AS (
  SELECT doc_id, n_tokens,
         COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS running
  FROM t)
SELECT CAST(floor(running / {_PACK_CAPACITY}) AS BIGINT) AS bin_id,
       COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
FROM c GROUP BY 1 ORDER BY 1
"""


_TRUNC_TOKENS = 64


def q_doc_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length truncation — cap every document at 64 whitespace
    tokens (the cheap head-truncation every fixed-window trainer
    applies): pure array slice + rejoin expressions, whole-stage
    codegen, zero shuffle. Reports kept/dropped token counts so the
    loss is measurable."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), WS_SPLIT)
    kept = F.slice(toks, 1, _TRUNC_TOKENS)
    return d.select(
        "doc_id",
        F.array_join(kept, " ").alias("text_trunc"),
        F.least(F.size(toks), F.lit(_TRUNC_TOKENS)).alias("n_kept"),
        F.greatest(
            F.size(toks) - F.lit(_TRUNC_TOKENS), F.lit(0)
        ).alias("n_dropped"),
    )


ORACLE_DOC_TRUNCATE = f"""
WITH t AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '[ \\t\\n\\r\\x0B\\f]+') AS w
  FROM documents)
SELECT doc_id,
       array_to_string(w[1:{_TRUNC_TOKENS}], ' ') AS text_trunc,
       least(len(w), {_TRUNC_TOKENS}) AS n_kept,
       greatest(len(w) - {_TRUNC_TOKENS}, 0) AS n_dropped
FROM t
"""


def q_pack_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MATERIALIZATION step of sequence packing: documents in each
    2048-token bin (same contract as pack_sequences) are concatenated
    in order with an <eos> separator into ONE training row per bin.
    sort_array over (doc_id, text) structs makes the concatenation
    order deterministic — never collect_list luck; the only shuffle is
    the groupBy(bin). Binning is the shared _pack_binned helper (one
    definition with pack_sequences)."""
    binned = _pack_binned(_t(spark, sf_dir, "documents"))
    return (
        binned.groupBy("bin_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(F.col("doc_id"), F.col("norm_text"))
                        )
                    ),
                    lambda x: x["norm_text"],
                ),
                " <eos> ",
            ).alias("packed_text"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
        )
        .orderBy("bin_id")
    )


ORACLE_PACK_MATERIALIZE = f"""
WITH t AS (
  SELECT doc_id,
         array_to_string(string_split_regex(lower(trim(text)), '[ \\t\\n\\r\\x0B\\f]+'),
                         ' ') AS norm_text,
         len(string_split_regex(lower(trim(text)), '[ \\t\\n\\r\\x0B\\f]+')) AS n_tokens
  FROM documents),
c AS (
  SELECT doc_id, norm_text, n_tokens,
         COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS running
  FROM t)
SELECT CAST(floor(running / {_PACK_CAPACITY}) AS BIGINT) AS bin_id,
       string_agg(norm_text, ' <eos> ' ORDER BY doc_id) AS packed_text,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
FROM c GROUP BY 1 ORDER BY 1
"""


_SHUF_SEED = "shuf42:"


def q_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle — the reproducible corpus-order
    randomization every training run needs (same seed → same order,
    no sampling state to checkpoint). Shuffle key = md5(seed || id);
    the GLOBAL position is assigned scalably: 256 ordered hash-prefix
    buckets get broadcast row-count offsets (tiny aggregate + tiny
    window), row_number windows only within a bucket. No stage ever
    sees a single global partition."""
    d = _t(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id",
        F.md5(
            F.concat(F.lit(_SHUF_SEED), F.col("doc_id").cast("string")).cast(
                "binary"
            )
        ).alias("shuf_key"),
    ).withColumn("bkt", F.substring("shuf_key", 1, 2))
    offsets = (
        keyed.groupBy("bkt")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            "offset",
            F.coalesce(
                F.sum("n").over(
                    Window.orderBy("bkt").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("bkt", "offset")
    )
    win = Window.partitionBy("bkt").orderBy("shuf_key", "doc_id")
    return (
        keyed.join(F.broadcast(offsets), "bkt")
        .select(
            (F.col("offset") + F.row_number().over(win)).alias("pos"),
            "doc_id",
        )
    )


ORACLE_CORPUS_SHUFFLE = f"""
SELECT ROW_NUMBER() OVER (
         ORDER BY md5('{_SHUF_SEED}' || CAST(doc_id AS VARCHAR)), doc_id
       ) AS pos,
       doc_id
FROM documents
"""


def q_token_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document rarity profile from corpus document frequency — the
    integer-exact cousin of unigram-LM perplexity scoring (a
    deliberately FP-free contract: DF counts are integers, so the
    oracle match is exact at any scale). Two-phase: corpus DF from one
    explode+agg over DISTINCT per-doc tokens, joined back to score
    each document by mean token DF and the fraction of corpus-unique
    tokens. High rare_frac + low mean_df = candidate gibberish; high
    mean_df = boilerplate — the filter signal C4/Gopher derive from
    far costlier LM scoring."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.split(F.lower(F.trim(F.col("text"))), WS_SPLIT))
        ).alias("tok"),
    )
    df = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    return (
        toks.join(df, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_distinct"),
            F.round(F.avg("df"), 4).alias("mean_df"),
            F.round(
                F.sum((F.col("df") == 1).cast("long"))
                / F.count(F.lit(1)).cast("double"),
                4,
            ).alias("rare_frac"),
        )
    )


ORACLE_TOKEN_RARITY = """
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(
           string_split_regex(lower(trim(text)), '[ \\t\\n\\r\\x0B\\f]+'))) AS tok
  FROM documents),
df AS (SELECT tok, COUNT(*) AS df FROM toks GROUP BY tok)
SELECT doc_id, COUNT(*) AS n_distinct,
       round(AVG(df), 4) AS mean_df,
       round(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 4) AS rare_frac
FROM toks JOIN df USING (tok)
GROUP BY doc_id
"""


def _semantic_dedup(spark: SparkSession, sf_dir: str, pairs) -> DataFrame:
    """The semantic dedup decision over the pair generator ``pairs``
    (``pairs(emb, threshold=0.4)`` → edges): connected components
    (iterative min-label propagation, functions.dedup_ml.dup_clusters)
    → keep the min vec_id per cluster; unpaired vectors are their own
    cluster. dup_clusters eagerly checkpoints the edge set, so the
    pair scan runs exactly once."""
    from kaggle_ecommerce_etl_spark.functions.dedup_ml import dup_clusters

    emb = _t(spark, sf_dir, "embeddings")
    labels = dup_clusters(pairs(emb, threshold=0.4))
    return (
        emb.select("vec_id")
        .join(labels, F.col("vec_id") == F.col("id"), "left")
        .select(
            "vec_id",
            F.coalesce("cluster", "vec_id").alias("cluster_id"),
        )
        .withColumn("is_kept", F.col("vec_id") == F.col("cluster_id"))
    )


def q_semantic_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup decision: exact blocked-matmul
    cosine pairs >= 0.4 (never a cross join) → connected components
    (iterative min-label propagation, functions.dedup_ml.dup_clusters)
    → keep the min vec_id per semantic cluster. The iterative Spark
    algorithm is oracle-checked against a DuckDB RECURSIVE CTE
    transitive closure over the same pair predicate — an exact-value
    check of the full dedup DECISION, not just the pair list."""
    from kaggle_ecommerce_etl_spark.functions.similarity import (
        cosine_pairs_above,
    )

    return _semantic_dedup(spark, sf_dir, cosine_pairs_above)


def q_semantic_dedup_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup with the scale regime chosen by the ENGINE —
    identical decision contract to q_semantic_dedup_keep, but the pair
    generator is functions.similarity.semantic_pairs_auto, which
    routes exact-pairs ↔ LSH from lsh_auto_params' occupancy estimate
    (VERDICT r6 next-round #5: the one place the engine still made the
    USER pick the regime). At sf0.01 (500 vectors, θ=0.4) the router
    MUST pick the exact route (low-θ wall — see the routing table in
    SCALING.md), so the result is oracle-exact against the same
    RECURSIVE-CTE closure as the keep variant;
    tests/test_similarity_blocked.py pins the route choice itself."""
    from kaggle_ecommerce_etl_spark.functions.similarity import (
        semantic_pairs_auto,
    )

    return _semantic_dedup(spark, sf_dir, semantic_pairs_auto)


ORACLE_SEMANTIC_DEDUP = """
WITH RECURSIVE t AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cand AS (
  SELECT a.vec_id AS id1, b.vec_id AS id2
  FROM t a JOIN t b ON a.vec_id < b.vec_id
  WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4),
edges AS (SELECT id1 AS src, id2 AS dst FROM cand
          UNION SELECT id2, id1 FROM cand),
reach(id, r) AS (
  SELECT src, src FROM (SELECT DISTINCT src FROM edges)
  UNION
  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
cc AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id)
SELECT em.vec_id,
       COALESCE(cc.cluster_id, em.vec_id) AS cluster_id,
       em.vec_id = COALESCE(cc.cluster_id, em.vec_id) AS is_kept
FROM embeddings em LEFT JOIN cc ON em.vec_id = cc.id
"""


_MIX_SEED = "mix42:"
#: target corpus mix (lang → share); shares sum to 1
_MIX_TARGET = [("en", 0.4), ("zh", 0.25), ("es", 0.2), ("de", 0.1), ("fr", 0.05)]


def q_mix_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Target-mix rebalancing — downsample each language to hit a
    target mix (en 40 / zh 25 / es 20 / de 10 / fr 5) at the largest
    total the corpus supports: scale = min over langs of count/share
    (one tiny aggregate), per-lang quota = floor(share * scale), and
    the quota picks the lowest seeded-hash-ranked docs (deterministic,
    reproducible — no sampling state). The rank windows per lang (the
    natural partition), quotas broadcast; the only wide exchange is
    the per-lang rank shuffle. The scale factor is rounded to 6
    decimals on both sides so double vs decimal division can't flip a
    floor()."""
    d = _t(spark, sf_dir, "documents")
    shares = F.create_map(
        *[x for lang, s in _MIX_TARGET for x in (F.lit(lang), F.lit(s))]
    )
    counts = (
        d.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("share", shares[F.col("lang")])
    )
    scale = counts.agg(
        F.round(F.min(F.col("n") / F.col("share")), 6).alias("scale")
    )
    quota = (
        counts.join(F.broadcast(scale))
        .select(
            "lang",
            F.floor(F.col("share") * F.col("scale")).cast("long").alias("q"),
        )
    )
    win = Window.partitionBy("lang").orderBy("mix_key", "doc_id")
    ranked = d.select(
        "doc_id",
        "lang",
        F.md5(
            F.concat(F.lit(_MIX_SEED), F.col("doc_id").cast("string")).cast(
                "binary"
            )
        ).alias("mix_key"),
    ).withColumn("rk", F.row_number().over(win))
    return (
        ranked.join(F.broadcast(quota), "lang")
        .filter(F.col("rk") <= F.col("q"))
        .select("doc_id", "lang")
    )


ORACLE_MIX_REBALANCE = f"""
WITH shares(lang, share) AS (
  VALUES {", ".join(f"('{lang}', {s})" for lang, s in _MIX_TARGET)}),
counts AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
sc AS (SELECT round(MIN(CAST(n AS DOUBLE) / share), 6) AS scale
       FROM counts JOIN shares USING (lang)),
quota AS (SELECT lang, CAST(floor(share * (SELECT scale FROM sc)) AS BIGINT)
                 AS q
          FROM shares),
r AS (SELECT doc_id, lang,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5('{_MIX_SEED}' || CAST(doc_id AS VARCHAR)), doc_id
             ) AS rk
      FROM documents)
SELECT doc_id, lang FROM r JOIN quota USING (lang) WHERE rk <= q
"""


def q_multimodal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact media dedup on binary content (functions.multimodal.
    dedup_by_content, previously pytest-only): documents are remapped
    onto 250 payload blobs (doc_id mod 250 → genuine duplicates), and
    dedup groups by the sha256 CONTENT hash — a metadata-only plan:
    the blob itself never shuffles, only its digest and byte length.
    At 100 TB that difference (32-byte hash vs multi-MB payload per
    shuffle row) is the whole design."""
    from kaggle_ecommerce_etl_spark.functions.multimodal import (
        dedup_by_content,
        wrap_as_media,
    )

    docs = _t(spark, sf_dir, "documents")
    pay = docs.filter(F.col("doc_id") < 250).select(
        F.col("doc_id").alias("pid"), F.col("text").alias("payload")
    )
    joined = docs.select(
        "doc_id", (F.col("doc_id") % 250).alias("pid")
    ).join(F.broadcast(pay), "pid")
    media = wrap_as_media(joined, "doc_id", "payload", "text/plain")
    return dedup_by_content(media)


ORACLE_MULTIMODAL_DEDUP = """
WITH pay AS (SELECT doc_id AS pid, text AS payload
             FROM documents WHERE doc_id < 250),
j AS (SELECT d.doc_id, p.payload
      FROM documents d JOIN pay p ON d.doc_id % 250 = p.pid),
m AS (SELECT doc_id AS media_id, sha256(payload) AS sha,
             octet_length(CAST(payload AS BLOB)) AS n_bytes
      FROM j)
SELECT sha, MIN(media_id) AS media_id, COUNT(*) AS n_copies,
       'text/plain' AS mime, MIN(n_bytes) AS n_bytes
FROM m GROUP BY sha
"""


def q_range_frame_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window (value-based, not row-based — the frame mode
    the surface lacked): per customer, each order's trailing-30-DAY
    revenue and order count. Ordering by an integer day ordinal keeps
    the frame arithmetic exact and engine-portable (interval RANGE
    frames differ subtly across engines; epoch-day longs do not). One
    shuffle on the customer key; frame state is bounded by the window
    span, not history."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") % 25 == 0)
    day = F.datediff(F.col("o_orderdate"), F.lit("1990-01-01").cast("date"))
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("day")
        .rangeBetween(-29, 0)
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            day.alias("day"),
            F.col("o_totalprice").alias("total"),
        )
        .withColumn(
            "trail30_revenue",
            F.round(
                F.sum(F.col("total").cast("decimal(23,8)")).over(w), 2
            ).cast("double"),
        )
        .withColumn("trail30_orders", F.count(F.lit(1)).over(w))
        .select(
            "o_custkey", "o_orderkey", "day",
            F.round("total", 2).alias("total"),
            "trail30_revenue", "trail30_orders",
        )
    )


ORACLE_RANGE_FRAME = """
WITH o AS (
  SELECT o_custkey, o_orderkey,
         date_diff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE))
           AS day,
         o_totalprice AS total
  FROM orders WHERE o_custkey % 25 = 0)
SELECT o_custkey, o_orderkey, day, round(total, 2) AS total,
       CAST(round(SUM(CAST(total AS DECIMAL(23,8)))
                    OVER (PARTITION BY o_custkey ORDER BY day
                          RANGE BETWEEN 29 PRECEDING AND CURRENT ROW),
                  2) AS DOUBLE) AS trail30_revenue,
       COUNT(*) OVER (PARTITION BY o_custkey ORDER BY day
                      RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)
         AS trail30_orders
FROM o
"""


def q_jdbc_partitioned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parallel JDBC ingestion: a Derby table is scanned back through
    FOUR concurrent range partitions on the key column
    (sinks.jdbc.read_jdbc_partitioned) instead of one cursor — the
    scale-out read path a DB migration needs (the reference reads with
    a single psycopg2 cursor). Partitioning is an execution detail:
    values equal the plain projection (the oracle); the 4-way split is
    asserted in pytest via rdd.getNumPartitions."""
    from kaggle_ecommerce_etl_spark.sinks.jdbc import (
        DERBY_DRIVER,
        derby_memory_url,
        jdbc_table_exists,
        read_jdbc_partitioned,
        write_jdbc_append,
    )

    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 4 == 0
    ).select(
        "o_orderkey",
        F.round("o_totalprice", 2).alias("total"),
    )
    url = derby_memory_url(
        "pr_" + _fixture_tag("jdbcpr:v1", sf_dir, "orders")
    )
    props = {"driver": DERBY_DRIVER}
    hi = o.agg(F.max("o_orderkey")).first()[0] or 1
    if not jdbc_table_exists(spark, url, "orders_pr", props):
        write_jdbc_append(
            o, url, "orders_pr", properties=props,
            column_types="o_orderkey BIGINT, total DOUBLE",
        )
    return read_jdbc_partitioned(
        spark, url, "orders_pr",
        partition_column="o_orderkey",
        lower_bound=0, upper_bound=int(hi), num_partitions=4,
        properties=props,
    )


ORACLE_JDBC_PARTITIONED = """
SELECT o_orderkey, round(o_totalprice, 2) AS total
FROM orders WHERE o_orderkey % 4 = 0
"""


def q_conflict_split_flagged_aggjoin(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The skew-immune formulation of op 15's flagged side
    (operators.dedup.conflict_split_aggjoin): values identical to
    conflict_split_flagged — SAME oracle — but per-key counts come
    from a map-side-combined groupBy joined back, so a pathological
    hot key never concentrates its full row set in one window task.
    The engine carries BOTH shapes; this entry keeps the skew-immune
    one oracle-verified."""
    from kaggle_ecommerce_etl_spark.operators.dedup import (
        conflict_split_aggjoin,
    )

    _clean, flagged = conflict_split_aggjoin(
        _t(spark, sf_dir, "lineitem"), ["l_orderkey"]
    )
    return flagged


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff — the data-ops answer to "what changed between
    yesterday's load and today's": two table versions (v2 derived
    deterministically: keys %7==0 deleted, %5==0 re-priced by an
    FP-exact +10.00 — a *1.1 perturbation loses half-cent rounding
    ties between engines — fresh keys appended) full-outer-join on the key and classify every row as
    added / removed / changed / unchanged, reporting counts and a
    value-delta control sum per class. ONE key shuffle; at 100 TB the
    per-row compare would ride a content hash instead of the full
    payload — same plan."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.round("o_totalprice", 2).alias("total")
    )
    v1 = o.filter(F.col("o_orderkey") % 2 == 0)
    v2_base = v1.filter(F.col("o_orderkey") % 7 != 0)  # deletions
    v2 = v2_base.select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 5 == 0, F.round(F.col("total") + 10, 2)
        ).otherwise(F.col("total")).alias("total"),
    ).unionByName(  # additions: odd keys %3==0
        o.filter((F.col("o_orderkey") % 2 == 1) & (F.col("o_orderkey") % 3 == 0))
    )
    # classify on KEY presence, never payload NULL-ness: a row whose
    # total is legitimately NULL in one version must not masquerade as
    # added/removed
    a = v1.select(F.col("o_orderkey").alias("ka"), F.col("total").alias("old_t"))
    b = v2.select(F.col("o_orderkey").alias("kb"), F.col("total").alias("new_t"))
    j = a.join(b, a.ka == b.kb, "full_outer")
    cls = (
        F.when(F.col("ka").isNull(), F.lit("added"))
        .when(F.col("kb").isNull(), F.lit("removed"))
        .when(
            ~F.col("old_t").eqNullSafe(F.col("new_t")), F.lit("changed")
        )
        .otherwise(F.lit("unchanged"))
    )
    return (
        j.select(
            cls.alias("change"),
            F.coalesce("new_t", F.lit(0)).alias("new_total"),
            F.coalesce("old_t", F.lit(0)).alias("old_total"),
        )
        .groupBy("change")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            _dsum(F.col("new_total") - F.col("old_total")).alias("delta"),
        )
        .orderBy("change")
    )


ORACLE_SNAPSHOT_DIFF = """
WITH o AS (SELECT o_orderkey, round(o_totalprice, 2) AS total FROM orders),
v1 AS (SELECT * FROM o WHERE o_orderkey % 2 = 0),
v2 AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 5 = 0 THEN round(total + 10, 2)
              ELSE total END AS total
  FROM v1 WHERE o_orderkey % 7 <> 0
  UNION ALL
  SELECT o_orderkey, total FROM o
  WHERE o_orderkey % 2 = 1 AND o_orderkey % 3 = 0),
j AS (
  SELECT a.o_orderkey AS ka, b.o_orderkey AS kb,
         a.total AS old_t, b.total AS new_t
  FROM v1 a FULL OUTER JOIN v2 b ON a.o_orderkey = b.o_orderkey)
SELECT CASE WHEN ka IS NULL THEN 'added'
            WHEN kb IS NULL THEN 'removed'
            WHEN old_t IS DISTINCT FROM new_t THEN 'changed'
            ELSE 'unchanged' END AS change,
       COUNT(*) AS n_rows,
       CAST(round(SUM(CAST(COALESCE(new_t, 0) - COALESCE(old_t, 0)
                           AS DECIMAL(23,8))), 2) AS DOUBLE) AS delta
FROM j GROUP BY 1 ORDER BY 1
"""


def q_sessionize_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with a DYNAMIC, per-event gap —
    ``session_window`` with an expression gap (purchase/signup events
    hold a session open 30 minutes, everything else 10): the
    engagement-weighted sessionization product analytics actually
    ships, impossible with a fixed-gap window. Same single-shuffle
    shape as the fixed-gap op; the oracle reproduces the semantics via
    a running MAX of per-event session ends (an early long-gap event
    can hold a session open across short-gap successors — a lag-only
    restatement would split too eagerly)."""
    ev = _t(spark, sf_dir, "events")
    gap = F.when(
        F.col("event_type").isin("purchase", "signup"),
        F.lit("30 minutes"),
    ).otherwise(F.lit("10 minutes"))
    return (
        ev.groupBy(
            F.session_window(F.col("ts"), gap).alias("w"), F.col("user_id")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
        )
    )


ORACLE_SESSIONIZE_DYNAMIC = """
WITH g AS (
  SELECT user_id, ts,
         ts + CASE WHEN event_type IN ('purchase', 'signup')
                   THEN INTERVAL 30 MINUTE
                   ELSE INTERVAL 10 MINUTE END AS ts_end
  FROM events),
-- a session's extent is the RUNNING MAX of per-event ends, not the
-- previous event's end: an early long-gap event can hold the session
-- open across several short-gap successors
marks AS (
  SELECT user_id, ts,
         CASE WHEN MAX(ts_end) OVER pre IS NULL
                OR ts >= MAX(ts_end) OVER pre
              THEN 1 ELSE 0 END AS new_session
  FROM g
  WINDOW pre AS (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
sessions AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
  FROM marks)
SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
FROM sessions GROUP BY user_id, sid
"""


def q_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent table checksum — the anti-entropy primitive
    for verifying a 100 TB replica/migration without sorting or
    moving rows: each row hashes to an md5-derived 32-bit integer
    (the cross-engine-stable recipe hash_sample proved) and a plain
    SUM aggregates them — commutative, so ANY partitioning/ordering
    yields the same digest; map-side partials mean the shuffle carries
    one number per partition. Per-status grouping localizes a
    mismatch to a partition of the keyspace."""
    o = _t(spark, sf_dir, "orders")

    def _f(c):
        # NULL-sentinel encoding: concat_ws silently DROPS null fields
        # and their separators, which both collides distinct rows and
        # diverges from the oracle's || chain (NULL row hash) — a
        # checksum must encode nulls explicitly
        return F.coalesce(c.cast("string"), F.lit("<NULL>"))

    row_repr = F.concat_ws(
        "|",
        _f(F.col("o_orderkey")),
        _f(F.col("o_custkey")),
        _f(F.col("o_orderstatus")),
        _f(F.col("o_totalprice").cast("decimal(18,2)")),
        _f(F.date_format("o_orderdate", "yyyy-MM-dd")),
        _f(F.col("o_orderpriority")),
    )
    h32 = F.conv(
        F.substring(F.md5(row_repr.cast("binary")), 1, 8), 16, 10
    ).cast("long")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(h32).alias("checksum"),
        )
        .orderBy("o_orderstatus")
    )


ORACLE_TABLE_CHECKSUM = """
WITH h AS (
  SELECT o_orderstatus,
         ('0x' || substr(md5(
            COALESCE(CAST(o_orderkey AS VARCHAR), '<NULL>') || '|' ||
            COALESCE(CAST(o_custkey AS VARCHAR), '<NULL>') || '|' ||
            COALESCE(o_orderstatus, '<NULL>') || '|' ||
            COALESCE(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR),
                     '<NULL>') || '|' ||
            COALESCE(strftime(o_orderdate, '%Y-%m-%d'), '<NULL>') || '|' ||
            COALESCE(o_orderpriority, '<NULL>')
         ), 1, 8))::BIGINT AS h32
  FROM orders)
SELECT o_orderstatus, COUNT(*) AS n_rows,
       CAST(SUM(h32) AS BIGINT) AS checksum
FROM h GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


def q_join_hints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-strategy control surface: the same logical join executed
    under an explicit SHUFFLE_MERGE hint — values identical to the
    optimizer's own choice (the oracle), while tests/test_queries_ext2
    asserts the hint actually flipped the physical plan to a
    SortMergeJoin where AQE would have broadcast. The escape hatch for
    when statistics mislead the planner (a 'small' side that explodes
    after filters) — at 100 TB forcing merge avoids an executor-OOM
    broadcast of an underestimated build side."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    ).hint("shuffle_merge")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            _dsum("l_quantity").alias("sum_qty"),
        )
        .orderBy("o_orderpriority")
    )


ORACLE_JOIN_HINTS = """
SELECT o_orderpriority, COUNT(*) AS n_lines,
       CAST(round(SUM(CAST(l_quantity AS DECIMAL(23,8))), 2) AS DOUBLE)
         AS sum_qty
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def q_set_ops_multiset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset (bag) set operations — EXCEPT ALL / INTERSECT ALL keep
    DUPLICATE CARDINALITY, unlike the distinct variants already on the
    surface (set_ops_customers): per-status order-priority bags from
    two halves of orders, intersected and differenced with
    multiplicity, then counted. Spark plans these as hash aggregations
    over (row, count) — one shuffle each, no distinct collapse."""
    o = _t(spark, sf_dir, "orders").select("o_orderstatus", "o_orderpriority")
    left = o.filter(F.col("o_orderstatus") != "P").drop("o_orderstatus")
    right = o.filter(F.col("o_orderstatus") != "O").drop("o_orderstatus")
    inter = left.intersectAll(right).groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_intersect_all")
    )
    diff = left.exceptAll(right).groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_except_all")
    )
    return (
        inter.join(diff, "o_orderpriority", "full_outer")
        .select(
            "o_orderpriority",
            F.coalesce("n_intersect_all", F.lit(0)).alias("n_intersect_all"),
            F.coalesce("n_except_all", F.lit(0)).alias("n_except_all"),
        )
        .orderBy("o_orderpriority")
    )


ORACLE_SET_OPS_MULTISET = """
WITH l AS (SELECT o_orderpriority FROM orders WHERE o_orderstatus <> 'P'),
r AS (SELECT o_orderpriority FROM orders WHERE o_orderstatus <> 'O'),
i AS (SELECT o_orderpriority, COUNT(*) AS n_intersect_all
      FROM (SELECT * FROM l INTERSECT ALL SELECT * FROM r)
      GROUP BY 1),
d AS (SELECT o_orderpriority, COUNT(*) AS n_except_all
      FROM (SELECT * FROM l EXCEPT ALL SELECT * FROM r)
      GROUP BY 1)
SELECT COALESCE(i.o_orderpriority, d.o_orderpriority) AS o_orderpriority,
       COALESCE(n_intersect_all, 0) AS n_intersect_all,
       COALESCE(n_except_all, 0) AS n_except_all
FROM i FULL OUTER JOIN d ON i.o_orderpriority = d.o_orderpriority
ORDER BY o_orderpriority
"""


def q_variant_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured analytics through the engine's VARIANT type
    (Spark 4 ``parse_json``/``try_variant_get``): the events props
    column is parsed ONCE into a binary variant and fields are
    extracted by path with typed gets — the open-schema ingestion
    model (no fixed struct schema declared up front, unlike
    from_json). At scale the variant parse is a pure expression riding
    the scan; the aggregate is one shuffle over |event_type| groups."""
    ev = _t(spark, sf_dir, "events")
    v = ev.select("event_type", F.parse_json(F.col("props")).alias("v"))
    k = F.try_variant_get(F.col("v"), "$.k", "bigint")
    return (
        v.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(k).alias("sum_k"),
            F.min(k).alias("min_k"),
            F.max(k).alias("max_k"),
        )
        .orderBy("event_type")
    )


ORACLE_VARIANT_SHRED = """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
         AS sum_k,
       MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
       MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
FROM events GROUP BY event_type ORDER BY event_type
"""


def q_rolling_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-window feature engineering (the feature-store staple):
    per customer over order history — previous total (lag), 3-order
    trailing mean (bounded ROWS frame), trailing max, and the delta
    vs the previous order. ONE window spec / one shuffle on the
    customer key serves all four features; the bounded frame keeps
    per-row state O(frame), not O(history). Trailing mean divides the
    exact decimal sum by the frame row count so the oracle matches
    bit-for-bit."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") % 10 == 0)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    frame = w.rowsBetween(-2, 0)
    total = F.round("o_totalprice", 2)
    prev = F.lag(total).over(w)
    return o.select(
        "o_custkey",
        "o_orderkey",
        total.alias("total"),
        F.round(prev, 2).alias("prev_total"),
        F.round(
            F.sum(total.cast("decimal(23,8)")).over(frame).cast("double")
            / F.count(F.lit(1)).over(frame),
            4,
        ).alias("trailing_mean3"),
        F.round(F.max(total).over(frame), 2).alias("trailing_max3"),
        F.round(total - prev, 2).alias("delta"),
    )


ORACLE_ROLLING_FEATURES = """
SELECT o_custkey, o_orderkey,
       round(o_totalprice, 2) AS total,
       round(lag(round(o_totalprice, 2)) OVER w, 2) AS prev_total,
       round(CAST(SUM(CAST(round(o_totalprice, 2) AS DECIMAL(23,8)))
                    OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
                  AS DOUBLE)
             / COUNT(*) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
             4) AS trailing_mean3,
       round(MAX(round(o_totalprice, 2))
               OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
             2) AS trailing_max3,
       round(round(o_totalprice, 2) - lag(round(o_totalprice, 2)) OVER w, 2)
         AS delta
FROM orders WHERE o_custkey % 10 = 0
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


def q_interpolate_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series LINEAR INTERPOLATION across gaps — the step beyond
    resample_gapfill's zero-fill: per user, hourly event counts on the
    [first, last] observed-hour spine, with missing hours interpolated
    between the nearest observed neighbors. Neighbor discovery is two
    window passes with IGNORE NULLS (backward last / forward first) —
    no self-join, one shuffle on the user key (the spine explode is
    shuffle-free). The interpolated value rounds half-up via INTEGER
    floor-div + remainder (counts are integers), so the oracle matches
    exactly at any scale — no doubles anywhere."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") % 20 == 0)
    obs = ev.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.count(F.lit(1)).alias("c"))
    spine = (
        obs.groupBy("user_id")
        .agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
        .select(
            "user_id",
            F.explode(
                F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
            ).alias("h"),
        )
    )
    g = spine.join(obs, ["user_id", "h"], "left")
    # epoch-hour ordinal keeps the arithmetic integral
    hh = (F.unix_timestamp("h") / 3600).cast("long")
    pt = F.when(F.col("c").isNotNull(), F.struct(hh.alias("hh"), F.col("c")))
    wb = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    g = (
        g.withColumn("hh", hh)
        .withColumn("prev", F.last(pt, ignorenulls=True).over(wb))
        .withColumn("nxt", F.first(pt, ignorenulls=True).over(wf))
    )
    span = F.col("nxt.hh") - F.col("prev.hh")
    num = F.col("prev.c") * (F.col("nxt.hh") - F.col("hh")) + F.col(
        "nxt.c"
    ) * (F.col("hh") - F.col("prev.hh"))
    r = F.pmod(num, span)
    lerp = ((num - r) / span).cast("long") + (r * 2 >= span).cast("long")
    return g.select(
        "user_id",
        F.col("h").alias("hour"),
        F.coalesce("c", lerp).alias("n_events"),
        F.col("c").isNull().alias("interpolated"),
    )


ORACLE_INTERPOLATE_TS = """
WITH obs AS (
  SELECT user_id, date_trunc('hour', ts) AS h, COUNT(*) AS c
  FROM events WHERE user_id % 20 = 0 GROUP BY 1, 2),
spine AS (
  SELECT user_id, unnest(generate_series(min(h), max(h),
                                         INTERVAL 1 HOUR)) AS h
  FROM obs GROUP BY user_id),
g AS (
  SELECT s.user_id, s.h, o.c,
         CAST(epoch(s.h) / 3600 AS BIGINT) AS hh
  FROM spine s LEFT JOIN obs o ON s.user_id = o.user_id AND s.h = o.h),
n AS (
  SELECT user_id, h, c, hh,
         last_value(CASE WHEN c IS NOT NULL
                         THEN {'hh': hh, 'c': c} END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY h
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev,
         first_value(CASE WHEN c IS NOT NULL
                          THEN {'hh': hh, 'c': c} END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY h
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nxt
  FROM g)
SELECT user_id, h AS hour,
       COALESCE(c,
         (prev.c * (nxt.hh - hh) + nxt.c * (hh - prev.hh))
           // (nxt.hh - prev.hh)
         + CASE WHEN 2 * ((prev.c * (nxt.hh - hh) + nxt.c * (hh - prev.hh))
                          % (nxt.hh - prev.hh)) >= (nxt.hh - prev.hh)
                THEN 1 ELSE 0 END) AS n_events,
       c IS NULL AS interpolated
FROM n
"""


def q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-corpus pipeline END-TO-END in one plan: quality
    gate (>= 20 tokens) → exact dedup (min doc per normalized-text
    fingerprint) → near-dup removal (minhash → LSH bands → connected
    components; only each cluster's canonical doc survives) → seeded
    deterministic shuffle → 2048-token sequence packing. Every stage
    is the already-verified operator; this entry proves they COMPOSE —
    one oracle restates the whole chain (recursive-CTE closure
    included). The shuffle/pack positions use the scalable two-phase
    pattern with ONE shared per-bucket aggregate carrying both the
    row-count and token-sum offsets."""
    from kaggle_ecommerce_etl_spark.functions.dedup_ml import (
        dup_clusters,
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from kaggle_ecommerce_etl_spark.functions.text import fingerprint_expr

    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), WS_SPLIT)
    base = docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        fingerprint_expr(F.col("text")).alias("fp"),
    )
    kept1 = base.filter(F.col("n_tokens") >= 20)
    wfp = Window.partitionBy("fp").orderBy("doc_id")
    kept2 = (
        kept1.withColumn("rn", F.row_number().over(wfp))
        .filter(F.col("rn") == 1)
        .select("doc_id", "n_tokens")
    )
    labels = dup_clusters(lsh_candidate_pairs(minhash_signatures(docs)))
    kept3 = (
        kept2.join(labels, kept2.doc_id == labels.id, "left")
        .filter(
            F.coalesce("cluster", kept2.doc_id) == kept2.doc_id
        )
        .select(kept2.doc_id, "n_tokens")
    )
    keyed = kept3.withColumn(
        "shuf_key",
        F.md5(
            F.concat(F.lit("pipe42:"), F.col("doc_id").cast("string")).cast(
                "binary"
            )
        ),
    ).withColumn("bkt", F.substring("shuf_key", 1, 2))
    off_w = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        keyed.groupBy("bkt")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_tokens").alias("btoks"),
        )
        .withColumn("pos_off", F.coalesce(F.sum("n").over(off_w), F.lit(0)))
        .withColumn(
            "tok_off", F.coalesce(F.sum("btoks").over(off_w), F.lit(0))
        )
        .select("bkt", "pos_off", "tok_off")
    )
    w_in = Window.partitionBy("bkt").orderBy("shuf_key", "doc_id")
    return (
        keyed.join(F.broadcast(offsets), "bkt")
        .withColumn("pos", F.col("pos_off") + F.row_number().over(w_in))
        .withColumn(
            "run",
            F.col("tok_off")
            + F.coalesce(
                F.sum("n_tokens").over(
                    w_in.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select(
            "doc_id",
            "n_tokens",
            "pos",
            F.floor(F.col("run") / _PACK_CAPACITY).cast("long").alias("bin_id"),
        )
    )


ORACLE_CORPUS_PIPELINE = _CC_REACH_SQL + f"""),
cc AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
base AS (SELECT doc_id,
                len(string_split_regex(lower(trim(text)), '[ \\t\\n\\r\\x0B\\f]+')) AS n_tokens,
                md5(regexp_replace(lower(trim(text)), '[ \\t\\n\\r\\x0B\\f]+', ' ', 'g')) AS fp
         FROM documents),
kept1 AS (SELECT * FROM base WHERE n_tokens >= 20),
kept2 AS (SELECT doc_id, n_tokens FROM (
            SELECT doc_id, n_tokens,
                   ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
            FROM kept1) WHERE rn = 1),
kept3 AS (SELECT k.doc_id, k.n_tokens
          FROM kept2 k LEFT JOIN cc ON k.doc_id = cc.id
          WHERE COALESCE(cc.cluster_id, k.doc_id) = k.doc_id),
ordered AS (SELECT doc_id, n_tokens,
                   ROW_NUMBER() OVER w AS pos,
                   COALESCE(SUM(n_tokens) OVER (w ROWS BETWEEN UNBOUNDED
                     PRECEDING AND 1 PRECEDING), 0) AS run
            FROM kept3
            WINDOW w AS (ORDER BY md5('pipe42:' || CAST(doc_id AS VARCHAR)),
                         doc_id))
SELECT doc_id, n_tokens, pos,
       CAST(floor(run / {_PACK_CAPACITY}) AS BIGINT) AS bin_id
FROM ordered
"""


def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics (SCD1: update matched, insert new) as a
    full-outer coalesce — the reference's sink only knows DO-NOTHING
    (pg.py:544-547); warehouses need the update path too. Target =
    orders with even keys, batch = keys divisible by 3 with re-priced
    totals; matched rows take the batch's values, unmatched keep their
    side. ONE shuffle join on the key — no per-row driver logic."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", F.round("o_totalprice", 2).alias("total")
    )
    target = o.filter(F.col("o_orderkey") % 2 == 0)
    batch = o.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        F.lit("M").alias("o_orderstatus"),
        F.round(F.col("total") * 2, 2).alias("total"),
    )
    t = target.alias("t")
    b = batch.alias("b")
    return t.join(b, "o_orderkey", "full_outer").select(
        "o_orderkey",
        F.coalesce("b.o_orderstatus", "t.o_orderstatus").alias("o_orderstatus"),
        F.coalesce("b.total", "t.total").alias("total"),
    )


ORACLE_MERGE_UPSERT = """
WITH target AS (
  SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS total
  FROM orders WHERE o_orderkey % 2 = 0),
batch AS (
  SELECT o_orderkey, 'M' AS o_orderstatus,
         round(round(o_totalprice, 2) * 2, 2) AS total
  FROM orders WHERE o_orderkey % 3 = 0)
SELECT COALESCE(b.o_orderkey, t.o_orderkey) AS o_orderkey,
       COALESCE(b.o_orderstatus, t.o_orderstatus) AS o_orderstatus,
       COALESCE(b.total, t.total) AS total
FROM target t FULL OUTER JOIN batch b USING (o_orderkey)
"""


def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC log application: an ordered stream of I/U/D operations per
    key collapses to final table state — keep each key's LATEST op
    (one window shuffle), then drop keys whose last op is a delete.
    Ops are synthesized deterministically from the orders table
    (seq = o_orderkey ordering within key % 1000 groups); the D case
    is exercised (every 7th last-op is a delete)."""
    o = _t(spark, sf_dir, "orders")
    log = o.select(
        (F.col("o_orderkey") % 1000).alias("key"),
        F.col("o_orderkey").alias("seq"),
        F.when(F.col("o_orderkey") % 7 == 0, F.lit("D"))
        .when(F.col("o_orderkey") % 3 == 0, F.lit("U"))
        .otherwise(F.lit("I"))
        .alias("op"),
        F.round("o_totalprice", 2).alias("val"),
    )
    w = Window.partitionBy("key").orderBy(F.desc("seq"))
    latest = log.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    return latest.filter(F.col("op") != "D").select("key", "seq", "op", "val")


ORACLE_CDC_APPLY = """
WITH log AS (
  SELECT o_orderkey % 1000 AS key, o_orderkey AS seq,
         CASE WHEN o_orderkey % 7 = 0 THEN 'D'
              WHEN o_orderkey % 3 = 0 THEN 'U' ELSE 'I' END AS op,
         round(o_totalprice, 2) AS val
  FROM orders),
latest AS (
  SELECT key, seq, op, val,
         ROW_NUMBER() OVER (PARTITION BY key ORDER BY seq DESC) AS rn
  FROM log)
SELECT key, seq, op, val FROM latest WHERE rn = 1 AND op <> 'D'
"""


def q_dedup_keep_richest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed dedup keeping the RICHEST row — survivorship by
    completeness (most non-null fields), the master-data rule when
    duplicate records carry different gaps. Synthesizes gaps
    deterministically (key-derived NULLs), scores each row by its
    non-null count as a pure expression, and one window picks
    max(completeness, tiebreak seq). Same single-shuffle shape as
    conflict_split."""
    o = _t(spark, sf_dir, "orders")
    rows = o.select(
        (F.col("o_orderkey") % 500).alias("key"),
        F.col("o_orderkey").alias("seq"),
        F.when(F.col("o_orderkey") % 4 == 0, F.lit(None)).otherwise(
            F.col("o_orderstatus")
        ).alias("status"),
        F.when(F.col("o_orderkey") % 5 == 0, F.lit(None)).otherwise(
            F.round("o_totalprice", 2)
        ).alias("total"),
    )
    score = (
        F.col("status").isNotNull().cast("int")
        + F.col("total").isNotNull().cast("int")
    )
    w = Window.partitionBy("key").orderBy(
        F.desc("score"), F.desc("seq")
    )
    return (
        rows.withColumn("score", score)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("key", "seq", "status", "total", "score")
    )


ORACLE_DEDUP_RICHEST = """
WITH rows_ AS (
  SELECT o_orderkey % 500 AS key, o_orderkey AS seq,
         CASE WHEN o_orderkey % 4 = 0 THEN NULL
              ELSE o_orderstatus END AS status,
         CASE WHEN o_orderkey % 5 = 0 THEN NULL
              ELSE round(o_totalprice, 2) END AS total
  FROM orders),
scored AS (
  SELECT key, seq, status, total,
         CAST(status IS NOT NULL AS INT) + CAST(total IS NOT NULL AS INT)
           AS score
  FROM rows_),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY key
                               ORDER BY score DESC, seq DESC) AS rn
  FROM scored)
SELECT key, seq, status, total, score FROM ranked WHERE rn = 1
"""


def q_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-flight audit metrics via ``Dataset.observe``
    (operators/quality.observed_write): the write pass itself reports
    row count, a conditional count, and an exact decimal control sum —
    no second scan over the input. Executes the observed write inside
    the query fn (like the streaming runs) and returns the metrics as
    one row for the oracle, which restates them as a plain aggregate."""
    from kaggle_ecommerce_etl_spark.operators.quality import observed_write

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    got = observed_write(
        o,
        [
            ("n_rows", F.count(F.lit(1))),
            ("n_hi", F.sum((F.col("o_totalprice") > 100000).cast("long"))),
            ("sum_total", _dsum("o_totalprice")),
        ],
    )
    return spark.createDataFrame(
        [(got["n_rows"], got["n_hi"], float(got["sum_total"]))],
        "n_rows long, n_hi long, sum_total double",
    )


ORACLE_OBSERVED_METRICS = """
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN o_totalprice > 100000 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hi,
       CAST(round(SUM(CAST(o_totalprice AS DECIMAL(23,8))), 2) AS DOUBLE)
         AS sum_total
FROM orders WHERE o_orderstatus = 'F'
"""


_SPAN_W = 8  # words per dedup span


def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style duplicated-span removal: every document is cut into
    non-overlapping 8-word spans; a span seen anywhere before
    (global first occurrence = lexicographic min (doc_id, pos)) is
    dropped from later documents, and each document is reconstructed
    from its surviving spans in order. Two shuffles: one window over
    the span text (first-occurrence rank), one groupBy(doc) for the
    ordered reconstruction via sort_array — never collect_list order
    luck. Spans partition by their text here (exact); at 100 TB the
    window key would be a 128-bit span hash to shrink shuffle width —
    same plan shape."""
    d = _t(spark, sf_dir, "documents")
    # token array MATERIALIZED through its own projection: slicing the
    # split expression inside the transform lambda re-evaluates it per
    # span (CSE-in-HOF — the shingles_expr/minhash lesson)
    dt = d.select(
        "doc_id", F.split(F.lower(F.trim(F.col("text"))), WS_SPLIT).alias("__toks")
    )
    toks = F.col("__toks")
    spans = F.transform(
        F.sequence(
            F.lit(0), F.ceil(F.size(toks) / _SPAN_W).cast("int") - 1
        ),
        lambda i: F.struct(
            i.alias("pos"),
            F.array_join(
                F.slice(toks, i * _SPAN_W + 1, _SPAN_W), " "
            ).alias("span"),
        ),
    )
    sp = dt.select("doc_id", F.explode(spans).alias("s")).select(
        "doc_id", F.col("s.pos").alias("pos"), F.col("s.span").alias("span")
    )
    w = Window.partitionBy("span").orderBy("doc_id", "pos")
    ranked = sp.withColumn("rn", F.row_number().over(w))
    return (
        ranked.groupBy("doc_id")
        .agg(
            F.coalesce(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(
                                    F.col("rn") == 1,
                                    F.struct(F.col("pos"), F.col("span")),
                                )
                            )
                        ),
                        lambda x: x["span"],
                    ),
                    " ",
                ),
                F.lit(""),
            ).alias("text_dedup"),
            F.sum((F.col("rn") == 1).cast("long")).alias("n_kept"),
            F.sum((F.col("rn") > 1).cast("long")).alias("n_dropped"),
        )
    )


ORACLE_SPAN_DEDUP = f"""
WITH t AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '[ \\t\\n\\r\\x0B\\f]+') AS w
  FROM documents),
sp0 AS (
  SELECT doc_id,
         [{{'pos': i,
            'span': array_to_string(w[(i*{_SPAN_W}+1):(i*{_SPAN_W}+{_SPAN_W})], ' ')}}
          for i in range(0, CAST(ceil(len(w) / {_SPAN_W}.0) AS BIGINT))] AS spans
  FROM t),
sp AS (SELECT doc_id, unnest(spans, recursive := true) FROM sp0),
ranked AS (
  SELECT doc_id, pos, span,
         ROW_NUMBER() OVER (PARTITION BY span ORDER BY doc_id, pos) AS rn
  FROM sp)
SELECT doc_id,
       COALESCE(string_agg(span, ' ' ORDER BY pos)
                  FILTER (WHERE rn = 1), '') AS text_dedup,
       CAST(COUNT(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_kept,
       CAST(COUNT(*) FILTER (WHERE rn > 1) AS BIGINT) AS n_dropped
FROM ranked GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# source/sink formats beyond CSV/parquet/JDBC: JSONL (the training-data
# interchange format) and ORC
# --------------------------------------------------------------------------

def q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL sink → source round-trip: the documents corpus written as
    newline-delimited JSON (the de-facto LLM-training interchange
    format) and read back with an EXPLICIT schema — never
    inferSchema, which would cost a full extra pass at 100 TB. The
    distributed write keeps one JSON file per partition; the read
    lists the directory (pathGlobFilter skips the publish marker)."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    path = _format_fixture(sf_dir, "docs_jsonl", "documents")

    def _build(stage: str) -> None:
        d.repartition(4).write.mode("overwrite").json(stage)

    _publish_fixture_dir(path, _build)
    from kaggle_ecommerce_etl_spark.sources.json_source import read_jsonl

    return read_jsonl(
        spark,
        path,
        "doc_id long, text string, lang string, source string, n_chars long",
        glob="part-*",
    )


ORACLE_JSONL_ROUNDTRIP = """
SELECT doc_id, text, lang, source, n_chars FROM documents
"""


def q_jsonl_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-record quarantine on the JSONL path: web-scraped JSONL
    always carries malformed lines; a PERMISSIVE read with an explicit
    ``_corrupt_record`` column splits good rows from garbage in ONE
    scan (no retry pass), mirroring read_csv_quarantine
    (sources/csv_source.py). Returns the good rows; the two injected
    broken lines land in quarantine and are asserted in pytest."""
    from kaggle_ecommerce_etl_spark.sources.json_source import (
        read_jsonl_quarantine,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    path = _format_fixture(sf_dir, "docs_jsonl_corrupt", "documents")

    def _build(stage: str) -> None:
        d.repartition(2).write.mode("overwrite").json(stage)
        with open(f"{stage}/part-99999-garbage.json", "w") as fh:
            fh.write('{"doc_id": 1, "lang": "en", "n_chars": \n')
            fh.write("not json at all\n")

    _publish_fixture_dir(path, _build)
    good, _bad = read_jsonl_quarantine(
        spark, path, "doc_id long, lang string, n_chars long", glob="part-*"
    )
    return good


ORACLE_JSONL_QUARANTINE = """
SELECT doc_id, lang, n_chars FROM documents
"""


def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink → source round-trip (the warehouse-native columnar
    sibling of the parquet path): orders projected, written
    distributed, read back; predicate and projection push into the ORC
    scan exactly as with parquet."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", F.round("o_totalprice", 2).alias("total")
    )
    path = _format_fixture(sf_dir, "orders_orc", "orders")

    def _build(stage: str) -> None:
        o.repartition(4).write.mode("overwrite").orc(stage)

    _publish_fixture_dir(path, _build)
    return (
        spark.read.option("pathGlobFilter", "part-*")
        .orc(path)
        .filter(F.col("o_orderstatus") == "O")
    )


ORACLE_ORC_ROUNDTRIP = """
SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS total
FROM orders WHERE o_orderstatus = 'O'
"""


def q_medallion_stream_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's WHOLE architecture (S3 landing → clean → DB,
    README:27-44) as a medallion STREAMING chain, two hops drained
    end-to-end: raw CSV files land (one carries a cross-batch
    re-delivery — the duplicate-Lambda failure) → BRONZE ingests via a
    schema-explicit CSV file stream into parquet → SILVER streams
    bronze through foreachBatch + upsert_anti_join (idempotent keyed
    dedup) → GOLD is the per-type aggregate over silver. The landing
    fixture is cached; bronze and silver live under ONE per-call
    temporary parent (unique by construction — children are never
    pre-created, so there is no delete-then-recreate window) and the
    drains own their checkpoints. Gold is materialized with one eager
    ``localCheckpoint`` before the parent is removed, so nothing
    outlives the call; that barrier need not survive executor loss,
    because rebuilding the query re-runs the stream. Oracle = the
    same aggregate over the distinct event set."""
    import os
    import tempfile

    from kaggle_ecommerce_etl_spark.operators.dedup import upsert_anti_join

    ev = _t(spark, sf_dir, "events").filter(
        F.col("user_id") % 10 == 0
    ).select(
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "user_id",
        "event_type",
        "value",
    )
    landing = _stream_fixture_dir("med", sf_dir)

    def _build(stage: str) -> None:
        batches = (
            ("a", ev.filter(F.col("event_id") % 2 == 0)),
            # batch b re-delivers every event_id % 4 == 0 (already in a)
            ("b", ev.filter(
                (F.col("event_id") % 2 == 1) | (F.col("event_id") % 4 == 0)
            )),
        )
        for name, frame in batches:
            write_csv_file(frame, f"{stage}/{name}.csv")

    _publish_fixture_dir(landing, _build)

    from pyspark.sql import types as T

    schema = T.StructType.fromDDL(
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double"
    )
    raw = stream_csv_directory(spark, landing, schema, glob="*.csv")

    with tempfile.TemporaryDirectory(prefix="med_") as base:
        bronze, silver = f"{base}/bronze", f"{base}/silver"
        run_available_now(raw, parquet_path=bronze, query_name="bronze")

        def _to_silver(batch: DataFrame, _bid: int) -> None:
            # first batch: no silver yet, nothing to join. A real read
            # failure must PROPAGATE — swallowing it would silently
            # disable dedup and append duplicates
            existing = (
                spark.read.parquet(silver) if os.path.exists(silver) else None
            )
            upsert_anti_join(batch, existing, ["event_id"]).write.mode(
                "append"
            ).parquet(silver)

        run_available_now(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(bronze),
            foreach_batch=_to_silver,
            query_name="silver",
        )

        return (
            spark.read.parquet(silver)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                _dsum("value").alias("sum_value"),
            )
            .orderBy("event_type")
            .localCheckpoint()
        )


ORACLE_MEDALLION = """
SELECT event_type, COUNT(*) AS n_events,
       CAST(round(SUM(CAST(value AS DECIMAL(23,8))), 2) AS DOUBLE)
         AS sum_value
FROM events WHERE user_id % 10 = 0
GROUP BY event_type ORDER BY event_type
"""


# --------------------------------------------------------------------------
# streaming: stream-stream interval join (fifth paradigm on the surface)
# --------------------------------------------------------------------------

def q_stream_stream_join_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM interval join drained end-to-end: purchases and
    clicks are two live streams over the same event feed; each
    purchase joins the SAME user's clicks from the preceding 30
    minutes. Both sides watermarked (2 h) so the join state is
    bounded — the time-range conjunct is what lets Spark expire
    buffered rows; an unbounded stream-stream join would grow state
    forever. Inner joins emit eagerly, so no sentinel flush is needed
    (unlike the windowed-agg run)."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"),
        "user_id", "event_type",
    )
    stream, tag = _parquet_stream(spark, "ssj:v1", sf_dir, ev)
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
            F.col("user_id").alias("p_user"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
            F.col("user_id").alias("c_user"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts")),
    )
    qname = "ssj_run_" + tag
    run_available_now(joined, query_name=qname, memory=True)
    return spark.table(qname).select("purchase_id", "click_id")


ORACLE_STREAM_STREAM_JOIN = """
SELECT p.event_id AS purchase_id, c.event_id AS click_id
FROM events p JOIN events c
  ON p.user_id = c.user_id
 AND p.event_type = 'purchase' AND c.event_type = 'click'
 AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts <= p.ts
"""
