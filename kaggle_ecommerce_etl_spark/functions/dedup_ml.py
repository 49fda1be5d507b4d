"""Near-duplicate detection for training-data pipelines (north_star:
dedup at 100 TB).

Four families, all deterministic and expressed as native Spark
expressions (no Python UDFs):

- **MinHash**: word-3-gram shingles → k md5-derived hash functions →
  per-seed minimum. Signatures are computed in ONE narrow projection
  (array expressions, no explode/shuffle). LSH banding groups signature
  slices so candidate pairs come from an equi-join on band keys — the
  100 TB path: shuffle is proportional to Σ bucket sizes, never n².
- **SimHash**: per-bit majority vote over token hashes, packed to an
  int — a locality-sensitive fingerprint for hamming-distance dedup
  (hash array staged through its own projection, then the votes).
- **n-gram Jaccard**: exact pairwise similarity via an inverted index
  (explode token → equi-join on token → count-based Jaccard) inside a
  blocking key; never materializes the full cross product.
- **embedding near-dup**: nearest neighbor by cosine (delegates to
  functions.similarity).

Hash function: first 8 hex chars of md5(seed ':' value) parsed as a
64-bit int — chosen because DuckDB can replicate it exactly
(('0x' || substr(md5(..),1,8))::BIGINT), making every stage
oracle-checkable.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from kaggle_ecommerce_etl_spark.functions.text import WS_SPLIT
from kaggle_ecommerce_etl_spark.util import checkpoint_profiled, ensure_min_partitions, qcol

#: minhash signature width (mh0..mh7) and minhash values per LSH band
#: (so 4 bands)
N_MINHASH = 8
BAND_SIZE = 2


def tokens_ws(col: Column) -> Column:
    """Whitespace tokens of lower/trim text."""
    return F.split(F.lower(F.trim(col)), WS_SPLIT)


def shingles_expr(col: Column, n: int = 3) -> Column:
    """Word n-gram shingles (distinct). Short texts (< n tokens) yield
    one shingle covering all tokens.

    Built as n−1 chained ``zip_with``s over offset slices rather than
    a ``transform`` whose lambda slices the token array: a lambda body
    referencing the split re-evaluates it PER ELEMENT (Catalyst CSE
    does not reach inside higher-order functions), turning
    tokenization O(tokens²) per document; zip_with evaluates its input
    arrays once, so the split runs a constant ~n+1 times per row.
    Measured 3.4× on the trigram explode at sf0.1 (same lesson as
    minhash_base_expr's materialized projection, applied at the
    expression level so every caller benefits)."""
    t = tokens_ws(col)
    m = F.size(t) - (n - 1)  # number of full shingles when size >= n
    acc = F.slice(t, 1, m)
    for j in range(2, n + 1):
        acc = F.zip_with(
            acc, F.slice(t, j, m), lambda a, b: F.concat_ws(" ", a, b)
        )
    covering = F.array(F.array_join(t, " "))  # one shingle, all tokens
    return F.array_distinct(
        F.when(F.size(t) >= n, acc).otherwise(covering)
    )


def _h64(seed: int, value: Column) -> Column:
    """64-bit int from md5 — DuckDB-replicable (see module doc)."""
    hexpart = F.substring(F.md5(F.concat(F.lit(f"{seed}:"), value).cast("binary")), 1, 8)
    return F.conv(hexpart, 16, 10).cast("long")


# Affine rehash family over ONE base md5 per shingle: mh_i =
# (A_i·x + B_i) mod P with x < 2^32 and A_i < 2^29, so A_i·x + B_i
# < 2^61 never overflows a signed 64-bit long in either Spark or
# DuckDB (which errors, not wraps, on BIGINT overflow). 8× fewer md5
# calls than one seeded digest per signature component.
MH_P = (1 << 61) - 1
MH_A = [536870909, 433494437, 268435399, 190979711, 122949829, 86028157, 53687090, 28657333]
MH_B = [15485863, 32452843, 49979687, 67867967, 86028121, 104395301, 122949823, 141650939]


def _affine_fn(i: int):
    # single-arg lambda: a 2-arg lambda would make F.transform pass the
    # ARRAY INDEX as the second argument, silently corrupting the seed
    a, b = MH_A[i], MH_B[i]
    return lambda x: (F.lit(a) * x + F.lit(b)) % F.lit(MH_P)


def minhash_base_expr(col: Column) -> Column:
    """Array of 64-bit base hashes, one md5 per shingle. Materialize
    this through its OWN projection before fanning out the k affine
    rehashes: referencing the array expression from k sibling columns
    re-evaluates the md5s k× (Catalyst's common-subexpression
    elimination does not reach inside higher-order functions —
    measured 3× on the full signature job at sf0.1)."""
    return F.transform(
        shingles_expr(col),
        lambda s: F.conv(
            F.substring(F.md5(s.cast("binary")), 1, 8), 16, 10
        ).cast("long"),
    )


def minhash_signature_exprs(bases: Column) -> list[Column]:
    """:data:`N_MINHASH` minhash columns mh0..mh7 over an
    ALREADY-MATERIALIZED base-hash array column (see
    minhash_base_expr)."""
    return [
        F.array_min(F.transform(bases, _affine_fn(i))).alias(f"mh{i}")
        for i in range(N_MINHASH)
    ]


def minhash_signatures(df: DataFrame) -> DataFrame:
    """(doc_id, mh0..mh7): the minhash signature of each document's
    ``text``."""
    # |shingles| md5 calls per row: CPU-bound → guarantee parallelism
    df = ensure_min_partitions(df)
    based = df.select(
        F.col("doc_id"), minhash_base_expr(F.col("text")).alias("__bases")
    )
    return based.select(F.col("doc_id"), *minhash_signature_exprs(F.col("__bases")))


def _banded_pairs(index: DataFrame) -> DataFrame:
    """The banded LSH self-join core: candidate pairs (id1 < id2,
    distinct) of rows that share a (band, key) in ``index``, an
    ``(__id, __band, __key)`` frame with one row per (item, band).
    :func:`lsh_candidate_pairs` feeds it MinHash bands;
    ``similarity.lsh_neardup_pairs`` feeds it hyperplane buckets
    (band = hyperplane table, key = bucket).

    Single-join shape (the 100 TB path): each item's band keys are
    computed ONCE per row in one projection upstream, then ONE
    self-equi-join on (band, key) + a distinct. Exactly two shuffles
    total (join on the band key, distinct on the pair), versus the
    naive n_bands separate self-joins + union + distinct. Per-bucket
    skew (a degenerate band value) is handled by AQE skew-join; shuffle
    volume stays ∝ Σ bucket sizes, never n².

    Construction-time side effect: the index is eagerly
    localCheckpoint-ed before the self-join (r10) — the two join
    inputs otherwise each recompute the whole upstream pipeline (for
    MinHash, k md5 rehashes per shingle per doc; for hyperplanes, the
    T×b plane projections per vector). The materialization is bounded
    (n_bands small rows per item — exactly the index a production LSH
    build persists); measured sf0.1 q_dup_clusters end-to-end 1.38 →
    1.20 s (min-of-4, identical rows), and at scale it halves the
    signature compute.
    """
    index = index.localCheckpoint(eager=True)
    left = index.select(F.col("__id").alias("id1"), "__band", "__key")
    right = index.select(F.col("__id").alias("id2"), "__band", "__key")
    return (
        left.join(right, ["__band", "__key"])
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
        .dropDuplicates()
    )


def lsh_candidate_pairs(signatures: DataFrame) -> DataFrame:
    """Candidate pairs (id1 < id2) of :func:`minhash_signatures` rows
    sharing at least one LSH band.

    Each signature explodes to N_MINHASH/BAND_SIZE (band, key) rows —
    band keys computed ONCE per row in one projection, the key the md5
    of the band's :data:`BAND_SIZE` minhash values — and the banded
    self-join core :func:`_banded_pairs` (eager index checkpoint, one
    self-equi-join on (band, key), distinct) yields the pairs.
    """
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        ",",
                        *[F.col(f"mh{b * BAND_SIZE + j}") for j in range(BAND_SIZE)],
                    ).cast("binary")
                ).alias("key"),
            )
            for b in range(N_MINHASH // BAND_SIZE)
        ]
    )
    return _banded_pairs(
        signatures.select(
            F.col("doc_id").alias("__id"), F.explode(band_structs).alias("bk")
        ).select(
            "__id", F.col("bk.band").alias("__band"), F.col("bk.key").alias("__key")
        )
    )


def simhash_hashes_expr(col: Column) -> Column:
    """Distinct-token 64-bit hash array — materialize through its own
    projection before the per-bit votes (CSE doesn't reach inside
    higher-order functions; inlined, the md5s would re-run once per
    bit — see minhash_base_expr)."""
    return F.transform(F.array_distinct(tokens_ws(col)), lambda t: _h64(99, t))


#: SimHash fingerprint width in bits
SIMHASH_BITS = 16


def simhash_from_hashes(hashes: Column) -> Column:
    """:data:`SIMHASH_BITS`-bit SimHash packed long from an
    already-materialized hash array (:func:`simhash_hashes_expr`): per
    bit position, majority vote of the hash bits (+1/-1)."""

    def _vote_fn(b: int):
        # exactly-2-arg merge lambda (see _seeded_hash_fn note)
        return lambda acc, h: acc + F.shiftright(h, b).bitwiseAND(F.lit(1)) * 2 - 1

    total = F.lit(0).cast("long")
    for b in range(SIMHASH_BITS):
        vote = F.aggregate(hashes, F.lit(0).cast("long"), _vote_fn(b))
        total = total + F.when(vote > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0))
    return total


def ngram_jaccard_pairs(
    df: DataFrame,
    block_col: str | None = None,
    threshold: float = 0.5,
    use_shingles: bool = True,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram (or word-set) Jaccard for all pairs (id1 < id2),
    of ``doc_id``s over their ``text``, via inverted index: explode
    distinct tokens, equi-join on token (+ optional blocking key),
    count intersections, derive |union| from per-doc set sizes.
    Output: id1, id2, jaccard (round 4) ≥ threshold.

    ``max_df`` — the scale guard. Inverted-index join work is
    Σ df(token)², so ONE stopword-frequency token ('the' in nearly
    every document) degrades the equi-join toward n². With ``max_df``
    set, tokens whose document frequency (within the blocking group)
    exceeds it are removed from the token UNIVERSE — both from the
    index and from the set sizes, so the reported value is the exact
    Jaccard over the ≤max_df-frequency vocabulary. Recall argument: a
    token in >max_df docs carries ~no near-duplicate signal (it cannot
    distinguish pairs — it is evidence shared with thousands of
    non-duplicates), which is exactly the stopword-removal convention
    of production dedup pipelines; pairs whose entire overlap is such
    tokens are noise at any reasonable threshold. Cost when enabled:
    one tiny (vocab-sized) DF aggregate + a broadcast anti-join + a
    size-recount window — linear; the avoided join blowup is quadratic.

    Not routed through the prefix-join core (:func:`_prefix_join`):
    the capped Jaccard is a different value (sizes over the capped
    vocabulary, which the ``max_df`` queries' oracles encode), and
    with every df ≤ max_df the join is already linear, so prefixes
    would only add the core's shuffles and construction-time
    checkpoint. Measured (local[4], third build, build + execution):
    ``word_jaccard_pairs`` 0.41 + 0.78 s vs ``jaccard_pairs_prefix``
    0.96 + 0.39 s at sf0.01, 0.64 + 1.38 s vs 1.80 + 2.24 s at sf0.1.
    """
    tok_expr = (
        shingles_expr(F.col("text"))
        if use_shingles
        else F.array_distinct(tokens_ws(F.col("text")))
    )
    # tokenization is CPU-bound; single-file parquet arrives as one
    # partition → force parallelism before the explode
    df = ensure_min_partitions(df)
    base = df.select(
        F.col("doc_id").alias("__id"),
        *( [qcol(block_col).alias("__blk")] if block_col else [] ),
        tok_expr.alias("__toks"),
    ).withColumn("__size", F.size("__toks"))

    exploded = base.select(
        "__id", *(["__blk"] if block_col else []), "__size",
        F.explode("__toks").alias("__tok"),
    )
    if max_df is not None:
        from pyspark.sql.window import Window

        tok_cols = ["__tok", "__blk"] if block_col else ["__tok"]
        hot = (
            exploded.groupBy(*tok_cols)
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") > max_df)
            .select(*tok_cols)
        )
        # hot side is ≤ |vocab| rows → broadcast anti-join, no shuffle
        # of the exploded set beyond the one the equi-join needs anyway
        exploded = exploded.join(F.broadcast(hot), tok_cols, "left_anti")
        w = Window.partitionBy("__id")
        exploded = exploded.withColumn(
            "__size", F.count(F.lit(1)).over(w)
        )
    left = exploded.select(
        F.col("__id").alias("id1"), F.col("__size").alias("s1"),
        *( [F.col("__blk")] if block_col else [] ),
        "__tok",
    )
    right = exploded.select(
        F.col("__id").alias("id2"), F.col("__size").alias("s2"),
        *( [F.col("__blk")] if block_col else [] ),
        "__tok",
    )
    # block key INSIDE the equi-join (not a post-filter): the shuffle
    # hash-partitions on (token, block), so cross-block candidates never
    # materialize
    join_cond = ["__tok", "__blk"] if block_col else ["__tok"]
    joined = left.join(right, join_cond).filter(F.col("id1") < F.col("id2"))
    inter = joined.groupBy("id1", "id2", "s1", "s2").agg(
        F.count(F.lit(1)).alias("__inter")
    )
    jac = F.round(
        F.col("__inter").cast("double")
        / (F.col("s1") + F.col("s2") - F.col("__inter")).cast("double"),
        4,
    )
    return (
        inter.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id1", "id2", "jaccard")
    )


#: Edge cap for the driver union-find fast path in :func:`dup_clusters`.
#: Collect volume at the cap is 2 int64 columns × 2M rows = 32 MB of
#: Arrow — half this session's autoBroadcastJoinThreshold (64 MB), i.e.
#: the same order of driver traffic Spark itself incurs building ONE
#: broadcast relation, and it replaces O(log d) materialized rounds.
#: Measured r10 (local[32], random graphs, min-of-1 after warm-up):
#:   edges=200k → fast path 1.4 s vs loop 19.2 s (13.7×)
#:   edges=1M   → fast path 7.8 s vs loop 31.6 s (4.1×)
#:   edges=3M   → fast path 19.7 s vs loop 80.3 s (4.1×)
#: The cap is exact (gated on the checkpoint COUNT, never an estimate)
#: and conservative: the wall-time crossover is far above 3M edges,
#: but 32 MB keeps the driver footprint boring on any deployment.
#: Above the cap the unchanged distributed loop runs — 100 TB edge
#: sets never reach the driver.
_DRIVER_CC_MAX_EDGES = 2_000_000

#: Round cap of the distributed CC loop. With pointer doubling, 20
#: rounds cover component diameters up to ~2^19; exhausting it raises.
_CC_MAX_ITER = 20


def dup_clusters(pairs: DataFrame) -> DataFrame:
    """Connected components over a near-duplicate (id1, id2) pair set →
    cluster label per member (min id in the component), the step that turns
    pairwise dedup output into "keep one canonical doc per group".

    Iterative min-label propagation WITH pointer doubling
    (Shiloach-Vishkin style, public literature): each round every node
    takes the min of its own and its neighbors' labels, then JUMPS to
    its new label's own label (label-of-label join). Doubling makes
    label distances halve per round — O(log diameter) rounds instead
    of O(diameter), which is what matters at scale where every round
    is a full shuffle of the label table. Near-dup components are
    near-cliques, so 2-3 rounds + one fixpoint confirmation typically
    suffice. The per-round change flag is EMBEDDED in the checkpointed
    frame, so fixpoint detection is a cheap scan of cached partitions,
    not an extra join job. ``localCheckpoint`` truncates lineage each
    round so the plan stays O(1) deep instead of O(rounds); on a real
    cluster prefer a reliable checkpoint dir for fault tolerance on
    long chains.

    Output: (id, cluster) for every id appearing in ``pairs``.
    Singletons never appear — callers left-join and coalesce to the
    row's own id.

    Partitioning: every round's joins shuffle at the SESSION partition
    count, and ``localCheckpoint`` freezes that partitioning — AQE
    cannot coalesce an already-materialized RDD, so on a small edge
    set each of the O(log d) rounds pays (partitions × stages) of pure
    task overhead (measured 11 s → 4.5 s at sf0.1 going 32 → 2
    partitions for a 920-edge graph). The loop therefore sizes its
    shuffle partitioning from the MATERIALIZED edge count — shrink-only
    (never above the session setting, so 100 TB edge sets keep full
    parallelism), restored on exit.

    SMALL-GRAPH FAST PATH (r10): when the materialized edge count is
    ≤ :data:`_DRIVER_CC_MAX_EDGES`, the checkpointed edge list is
    collected and solved with an exact min-root union-find on the
    driver, and the labels return as a local relation. Rationale: the
    distributed loop's cost floor is (rounds × per-round scheduling),
    and rounds = O(log diameter) — measured 11 rounds × ~0.5 s on a
    920-edge sf0.1 graph, i.e. ~5 s of pure job latency for
    microseconds of actual work. The collect is bounded (see the cap
    constant: ≤ 32 MB, half this session's broadcast threshold, exact
    count-gated), the result is IDENTICAL (union-find by min root ≡
    min-label fixpoint; pinned by
    tests/test_dedup_ml.py::test_dup_clusters_fastpath_matches_loop),
    and edge sets past the cap take the unchanged distributed loop —
    the same engine-routes-by-measured-size discipline as
    similarity.semantic_pairs_auto. The convergence-contract tests set
    the cap to 0 to force the distributed loop.

    Both paths materialize the HALF edge set (one direction) first and
    derive the reversed direction from the checkpoint: the previous
    shape unioned two selects over the un-materialized ``pairs`` plan,
    which executed the (potentially expensive) pair generator TWICE.
    """
    spark = pairs.sparkSession
    # the edge count rides the checkpoint (observed), not a second job
    half, stats = checkpoint_profiled(
        pairs.select(F.col("id1").alias("src"), F.col("id2").alias("dst")),
        ["count(1) AS n"],
    )
    n_half = stats["n"]
    if n_half <= _DRIVER_CC_MAX_EDGES:
        local = _dup_clusters_driver(spark, half)
        if local is not None:
            return local
    # reversed direction re-reads the CHECKPOINT (no recompute of pairs)
    edges = half.union(
        half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    n_edges = 2 * n_half
    conf_key = "spark.sql.shuffle.partitions"
    session_parts = int(spark.conf.get(conf_key))
    # ~200k edge rows (3 longs) per partition keeps tasks meaningful;
    # a 1000-executor cluster reaches session_parts again at ~6G edges
    loop_parts = max(1, min(session_parts, n_edges // 200_000 + 1))
    try:
        spark.conf.set(conf_key, str(loop_parts))
        # labels bootstrap INSIDE the override: localCheckpoint builds
        # the physical plan at call time, so constructing it earlier
        # would bake the session partition count into round 0's
        # distinct shuffle
        labels = (
            edges.select(F.col("src").alias("id"))
            .distinct()
            .withColumn("cluster", F.col("id"))
            .localCheckpoint(eager=False)
        )
        return _dup_clusters_loop(edges, labels)
    finally:
        spark.conf.set(conf_key, str(session_parts))


def _dup_clusters_driver(spark, half: DataFrame) -> DataFrame | None:
    """Exact min-root union-find over a BOUNDED, already-materialized
    edge list — the small-graph fast path of :func:`dup_clusters`.
    Returns ``None`` (→ caller falls through to the distributed loop)
    for shapes the local solver does not claim: non-integral or
    mixed-type id columns, or null ids. Labels are identical to the
    distributed fixpoint by construction: union by MIN root means every
    node's final root is the minimum id reachable from it, which is
    exactly the min-label propagation fixpoint."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        ByteType, IntegerType, LongType, ShortType, StructField, StructType,
    )

    t_src = half.schema["src"].dataType
    t_dst = half.schema["dst"].dataType
    integral = (ByteType, ShortType, IntegerType, LongType)
    if t_src != t_dst or not isinstance(t_src, integral):
        return None
    pdf = half.toPandas()
    # nullable=True matches the distributed loop's output nullability
    # (its least/coalesce projections are nullable), so the SAME call
    # returns the SAME schema whichever path the edge count routes to
    # (ADVICE r10: small-vs-large inputs must not look like schema
    # drift to downstream unions/mergeSchema writers).
    out_schema = StructType(
        [StructField("id", t_src, True), StructField("cluster", t_src, True)]
    )
    np_t = {"byte": np.int8, "short": np.int16,
            "integer": np.int32, "long": np.int64}[t_src.typeName()]
    if len(pdf) == 0:
        empty = pd.DataFrame({"id": np.array([], dtype=np_t),
                              "cluster": np.array([], dtype=np_t)})
        return spark.createDataFrame(empty, schema=out_schema)
    if pdf["src"].isnull().any() or pdf["dst"].isnull().any():
        return None
    a = pdf["src"].to_numpy()
    b = pdf["dst"].to_numpy()
    # np.unique sorts ascending, so index order == id order and the
    # min ROOT INDEX is the min id — union always hooks the larger
    # root under the smaller.
    ids, idx = np.unique(np.concatenate([a, b]), return_inverse=True)
    e1 = idx[: len(a)]
    e2 = idx[len(a):]
    parent = np.arange(len(ids), dtype=np.int64)

    def find(x: int) -> int:
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for x, y in zip(e1.tolist(), e2.tolist()):
        rx, ry = find(x), find(y)
        if rx != ry:
            if rx < ry:
                parent[ry] = rx
            else:
                parent[rx] = ry
    roots = np.fromiter(
        (find(i) for i in range(len(ids))), dtype=np.int64, count=len(ids)
    )
    out = pd.DataFrame(
        {"id": ids.astype(np_t), "cluster": ids[roots].astype(np_t)}
    )
    return spark.createDataFrame(out, schema=out_schema)


#: Pointer-doubling hops per materialized round of the distributed CC
#: loop: one min-neighbor step (edges⋈labels + agg) plus this many
#: label-of-label self-joins per barrier. MEASURED r11
#: (OPTIMIZATION_r11.md §3b, local[32], forced loop, noop sink,
#: deterministic xxhash64 random graphs — the supercritical avg-deg-4
#: regime): extra hops DO NOT cut rounds there — label propagation is
#: BFS-limited by the single neighbor-min step (rounds ≈ the min
#: node's eccentricity), and long label chains for doubling to
#: compress never form. hops 1/3/4 at 1M edges: 11/10/10 rounds,
#: 26.97/31.60/35.64 s; hops 1/3 at 10M edges: 12/12 rounds,
#: 132.8/197.2 s (hops=3 +48 % wall, same rounds). The extra narrow
#: self-joins are pure cost in the realistic regime, so ONE doubling
#: hop (the r10 design) stays; deep-diameter chains remain covered by
#: its O(log d) bound. The r11 win in this loop is the per-round
#: barrier fix below (persist-then-checkpoint — see _dup_clusters_loop).
_CC_DOUBLING_HOPS = 1

#: Rounds between Catalyst-statistics resets in the CC loop (see the
#: barrier comment in _dup_clusters_loop). Growth between resets is
#: ~8×/round from a ~14-bit measured base, so K=4 caps the planner's
#: BigInt size estimates under ~10k bits at any round count.
_CC_STATS_RESET_EVERY = 4

def _dup_clusters_loop(edges: DataFrame, labels: DataFrame) -> DataFrame:
    from pyspark.storagelevel import StorageLevel

    for _round in range(_CC_MAX_ITER):
        nbr_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy(F.col("src").alias("nid"))
            .agg(F.min("cluster").alias("nmin"))
        )
        cur = labels.join(
            nbr_min, labels.id == nbr_min.nid, "left"
        ).select(
            "id",
            F.least(
                F.col("cluster"), F.coalesce("nmin", F.col("cluster"))
            ).alias("cluster"),
            (F.coalesce("nmin", F.col("cluster")) < F.col("cluster")).alias(
                "__changed"
            ),
        )
        # pointer doubling ×hops: labels are always ids of nodes in
        # `labels` (they start as self-ids and only ever take existing
        # label values — an invariant every hop preserves), so each
        # parent lookup is a plain equi-join. Multiple hops inside one
        # round shrink label distances 2^hops× per checkpoint barrier.
        for _hop in range(_CC_DOUBLING_HOPS):
            parents = cur.select(
                F.col("id").alias("pid"), F.col("cluster").alias("pcluster")
            )
            cur = cur.join(parents, cur.cluster == parents.pid, "left").select(
                "id",
                F.coalesce("pcluster", "cluster").alias("cluster"),
                (
                    F.col("__changed")
                    | (F.coalesce("pcluster", "cluster") < F.col("cluster"))
                ).alias("__changed"),
            )
        # Per-round barrier = localCheckpoint, with a persist+count
        # stats RESET folded in every _CC_STATS_RESET_EVERY rounds
        # (r11). The checkpoint alone is a driver hazard: it PRESERVES
        # the child plan's size ESTIMATE, and join estimates MULTIPLY,
        # so the per-round estimate compounds geometrically round over
        # round — measured 200 → 1691 → 13615 BigInt bits in three
        # rounds of a 3-hop variant, ending in planner
        # BigInteger-multiply OOM (the 1-hop loop grows ~8×/round —
        # slower, same cliff). Materializing a cache first makes the
        # following checkpoint snapshot the MEASURED size, restarting
        # the growth from a ~tens-of-bits base; doing that every K
        # rounds bounds the estimate at ~base×8^K bits (K=4 → <10k
        # bits, trivial BigInt math) while paying the extra narrow
        # n-row label pass only 1/K of the time (an every-round reset
        # measured +42 % wall at 10M edges — the planner cost it
        # removes is smaller than a full extra materialization).
        # The fixpoint test is observed on the round's checkpoint: no
        # probe job over the stored labels.
        count_changed = ["count_if(__changed) AS changed"]
        if _round % _CC_STATS_RESET_EVERY == 0:
            cached = cur.persist(StorageLevel.MEMORY_AND_DISK)
            try:
                cached.count()
                doubled, stats = checkpoint_profiled(cached, count_changed)
            finally:  # release the cache when the count or checkpoint throws too
                cached.unpersist()
        else:
            doubled, stats = checkpoint_profiled(cur, count_changed)
        labels = doubled.drop("__changed")
        if stats["changed"] == 0:
            return labels
    # Exhausting the round cap without a fixpoint means the labels are
    # NOT components yet — returning them silently would hand callers a
    # wrong dedup decision. This firing means the input graph is
    # nothing like near-dup data.
    raise ValueError(
        f"dup_clusters did not converge within {_CC_MAX_ITER} rounds; "
        "raise _CC_MAX_ITER for graphs with extreme diameter"
    )


#: Rounding guard for prefix lengths: outputs are filtered on
#: round(jaccard, 4) >= t, so a pair whose TRUE jaccard lies in
#: [t − 5e-5, t) still belongs in the result set. Prefixes are built
#: for the slightly lower effective threshold so the prefix-filter
#: theorem covers those boundary pairs too — at most one extra prefix
#: token per ~20k-token document, and identical output everywhere
#: else.
_ROUND4_MARGIN = 5e-5


def _word_sets(df: DataFrame, block_col: str | None = None) -> DataFrame:
    """(__id, [__blk], __toks, __size): each ``doc_id``'s distinct
    whitespace-word set of its ``text`` and its size — one side of
    :func:`_prefix_join`."""
    # tokenization is CPU-bound; single-file parquet arrives as one
    # partition → force parallelism before the explode
    return ensure_min_partitions(df).select(
        F.col("doc_id").alias("__id"),
        *([qcol(block_col).alias("__blk")] if block_col else []),
        F.array_distinct(tokens_ws(F.col("text"))).alias("__toks"),
    ).withColumn("__size", F.size("__toks"))


def _prefix_candidates(
    sides: list[DataFrame], ids: tuple[str, str], threshold: float
) -> DataFrame:
    """Candidate pairs ``ids`` of :func:`_prefix_join`: the ranked,
    checkpointed prefix index joined with itself, then the size and
    count/last-position filters."""
    from pyspark.sql.window import Window

    t_eff = threshold - _ROUND4_MARGIN
    keys = ["__tok", *(["__blk"] if "__blk" in sides[0].columns else [])]
    ex = functools.reduce(DataFrame.unionAll, [
        side.select(
            F.lit(i).alias("__side"), "__id", *keys[1:], "__size",
            F.explode("__toks").alias("__tok"),
        )
        for i, side in enumerate(sides)
    ])
    dfreq = ex.groupBy(*keys).agg(F.count(F.lit(1)).alias("__df"))
    w = Window.partitionBy("__side", "__id").orderBy("__df", "__tok")
    prefix = (
        ex.join(dfreq, keys)
        .withColumn("__rn", F.row_number().over(w))
        .filter(
            F.col("__rn")
            <= F.floor(F.lit(1.0 - t_eff) * F.col("__size")) + F.lit(1)
        )
        .select("__side", "__id", *keys, "__size", "__rn")
        .localCheckpoint(eager=True)
    )

    def postings(side: int, k: int) -> DataFrame:
        return prefix.filter(F.col("__side") == side).select(
            F.col("__id").alias(ids[k - 1]), *keys,
            F.col("__size").alias(f"__s{k}"), F.col("__rn").alias(f"__p{k}"),
        )

    pairs = postings(0, 1).join(postings(len(sides) - 1, 2), keys)
    if len(sides) == 1:
        pairs = pairs.filter(F.col(ids[0]) < F.col(ids[1]))
    alpha = F.lit(t_eff / (1.0 + t_eff)) * (F.col("__s1") + F.col("__s2"))
    return (
        pairs.filter(
            (F.col("__s2") * F.lit(t_eff) <= F.col("__s1"))
            & (F.col("__s1") * F.lit(t_eff) <= F.col("__s2"))
        )
        .groupBy(*ids, "__s1", "__s2")
        .agg(
            F.count(F.lit(1)).alias("__c"),
            F.max("__p1").alias("__p1x"),
            F.max("__p2").alias("__p2x"),
        )
        .filter(
            F.col("__c")
            + F.least(
                F.col("__s1") - F.col("__p1x"),
                F.col("__s2") - F.col("__p2x"),
            )
            >= alpha
        )
        .select(*ids)
    )


def _prefix_join(
    sides: list[DataFrame], ids: tuple[str, str], threshold: float
) -> DataFrame:
    """Exact word-set Jaccard join with PREFIX FILTERING — the
    SSJoin/PPJoin family (Chaudhuri et al. 2006; Xiao et al. 2008) —
    behind :func:`jaccard_pairs_prefix` (one shared side, pairs
    ``id1 < id2``) and :func:`jaccard_cross_prefix` (batch and corpus
    sides). ``sides`` are :func:`_word_sets` frames; a ``__blk``
    column makes the block an extra equi key of the df count and the
    pair join. Output: ``ids`` + jaccard (round 4) ≥ ``threshold``.

    Exactness: rank every token by document frequency over all sides
    (within the block) ascending, ties by token, and keep each doc's
    first ⌊(1−t')·|d|⌋+1 tokens as its prefix (t' = t −
    ``_ROUND4_MARGIN``). |A∩B| ≥ α forces prefixes of length |X|−α+1
    to intersect, and α ≥ t'/(1+t')·(s1+s2) ≥ t'·max(s1,s2) for
    size-compatible pairs, so any pair with Jaccard ≥ t' shares a
    prefix token. Stopword posting lists never reach the join, and the
    result equals the unfiltered join at every scale (``max_df``
    instead redefines the vocabulary). Candidates are pruned by size
    compatibility (min(s1,s2) ≥ t'·max) and by the count +
    last-position bound: with cnt shared prefix tokens and p1x/p2x the
    last matched ranks, an uncounted common token ranks after both
    (same global order), so overlap ≤ cnt + min(s1−p1x, s2−p2x) < α
    prunes the pair. That bound dominates the first-position form
    (p1x ≥ p1min + cnt − 1), and its groupBy replaces a ``distinct``
    at the same shuffle.

    Shape: all sides are ranked in ONE pass over a side-tagged union
    (one df aggregate, one window), and the ranked prefix index
    (≤(1−t')+1/|d| of the exploded tokens) is eagerly
    ``localCheckpoint``-ed, so both pair-join inputs read one
    materialization instead of each replanning explode → df shuffle →
    rank window (a lost executor forfeits the block; SCALING.md's
    ``localCheckpoint`` ledger). The verify computes ONE
    ``array_union`` per candidate (inter = s1+s2−|union|, exact over
    distinct arrays); ``+ rand(42)*0.0`` adds exactly 0.0 but makes
    the column non-deterministic, so the optimizer cannot push the
    threshold filter into the join and re-inline the set operation
    (pinned by tests/test_queries_ext.py::test_single_evaluation_plan_pins).

    Side effect at construction: because of the checkpoint, CALLING
    either public wrapper runs Spark jobs (explode → df aggregate →
    rank window over every side) before the DataFrame is returned,
    even for a caller that only inspects the plan (pinned by
    tests/test_dedup_ml.py::test_prefix_join_construction_jobs).

    Measured (local[32]): prefix filtering is a HIGH-t tool — at
    t=0.5 half of every doc enters the index, and a hot-token 15k-doc
    replica ran slower than the naive join + size filter (313 vs
    211 s, r5); use t ≥ 0.8. Without a hot token the extra shuffles
    dominate (sf0.1 self-join: ``max_df`` 1.4 s vs prefix 9.2 s,
    before the r11 checkpoint). Cross gate at sf0.1 (50k docs,
    1.4k-doc batch, t=0.8): the verify dominated (~3.2 of 5.2 s, r6;
    persisting the tokenized sides was a wash); the positional bound
    cut candidates 338k → 319k → 300k (r6, r9) for no wall-time gain,
    because 146.9k are true pairs on this dup-dense corpus; one-pass
    ranking + checkpoint took 3.65 → 2.72 s and one ``array_union`` +
    barrier 6.2 → 3.5 s (r10), identical 146,875-row result."""
    cand = _prefix_candidates(sides, ids, threshold)
    t1 = sides[0].select(F.col("__id").alias(ids[0]), F.col("__toks").alias("__t1"))
    t2 = sides[-1].select(F.col("__id").alias(ids[1]), F.col("__toks").alias("__t2"))
    u = F.size(F.array_union("__t1", "__t2"))
    inter = F.size("__t1") + F.size("__t2") - u
    jac = F.round(inter.cast("double") / u.cast("double"), 4)
    return (
        cand.join(t1, ids[0])
        .join(t2, ids[1])
        .withColumn("jaccard", jac + F.rand(42) * F.lit(0.0))
        .filter(F.col("jaccard") >= threshold)
        .select(*ids, "jaccard")
    )


def jaccard_pairs_prefix(
    df: DataFrame, block_col: str | None = None, threshold: float = 0.5
) -> DataFrame:
    """(id1, id2, jaccard) for every pair id1 < id2 (within
    ``block_col``, if given) with word-set Jaccard ≥ threshold (rounded
    to 4dp) — EXACT, the no-recall-loss alternative to
    ``ngram_jaccard_pairs``' ``max_df`` guard. Prefix-filtered self-join
    on :func:`_prefix_join`, which runs Spark jobs at construction."""
    return _prefix_join([_word_sets(df, block_col)], ("id1", "id2"), threshold)


def jaccard_cross_prefix(
    batch: DataFrame, corpus: DataFrame, threshold: float = 0.5
) -> DataFrame:
    """(in_id, ex_id, jaccard) for every batch×corpus pair with word
    Jaccard ≥ threshold (rounded to 4dp) — EXACT, the two-sided
    ingestion-gate sibling of :func:`jaccard_pairs_prefix`, on the same
    :func:`_prefix_join` core (and its construction-time jobs). Use it
    at t ≥ 0.8 (the measured regime note is on the core); at 100 TB
    the batch side is small, so its prefix postings broadcast."""
    return _prefix_join(
        [_word_sets(batch), _word_sets(corpus)],
        ("in_id", "ex_id"),
        threshold,
    )
