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
  int — a locality-sensitive fingerprint for hamming-distance dedup.
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

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from kaggle_ecommerce_etl_spark.functions.text import WS_SPLIT
from kaggle_ecommerce_etl_spark.util import ensure_min_partitions, qcol

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


def minhash_signature_exprs(bases: Column, k: int = N_MINHASH) -> list[Column]:
    """k minhash columns mh0..mh{k-1} over an ALREADY-MATERIALIZED
    base-hash array column (see minhash_base_expr)."""
    return [
        F.array_min(F.transform(bases, _affine_fn(i))).alias(f"mh{i}")
        for i in range(k)
    ]


def minhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = N_MINHASH
) -> DataFrame:
    # |shingles| md5 calls per row: CPU-bound → guarantee parallelism
    df = ensure_min_partitions(df)
    based = df.select(
        qcol(id_col), minhash_base_expr(qcol(text_col)).alias("__bases")
    )
    return based.select(
        qcol(id_col), *minhash_signature_exprs(F.col("__bases"), k)
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    k: int = N_MINHASH,
    band_size: int = BAND_SIZE,
) -> DataFrame:
    """Candidate pairs (id1 < id2) sharing at least one LSH band.

    Single-join shape (the 100 TB path, same as similarity.
    lsh_bucket_topk): each signature explodes to n_bands (band, key)
    rows — band keys computed ONCE per row in one projection — then ONE
    self-equi-join on (band, key) + a distinct. Exactly two shuffles
    total (join on the band key, distinct on the pair), versus the
    naive n_bands separate self-joins + union + distinct. Per-bucket
    skew (a degenerate band value) is handled by AQE skew-join; shuffle
    volume stays ∝ Σ bucket sizes, never n².

    r10: the banded index is eagerly localCheckpoint-ed before the
    self-join — the two join inputs otherwise each recompute the whole
    minhash pipeline (k md5 rehashes per shingle per doc, the dominant
    per-row cost). The materialization is bounded (n_bands small rows
    per doc — exactly the index a production LSH build persists);
    measured sf0.1 q_dup_clusters end-to-end 1.38 → 1.20 s (min-of-4,
    identical rows), and at scale it halves the signature compute.
    """
    n_bands = k // band_size
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        ",",
                        *[qcol(f"mh{b * band_size + j}") for j in range(band_size)],
                    ).cast("binary")
                ).alias("key"),
            )
            for b in range(n_bands)
        ]
    )
    exploded = signatures.select(
        qcol(id_col).alias("__id"), F.explode(band_structs).alias("bk")
    ).select(
        "__id", F.col("bk.band").alias("__band"), F.col("bk.key").alias("__key")
    ).localCheckpoint(eager=True)
    left = exploded.select(F.col("__id").alias("id1"), "__band", "__key")
    right = exploded.select(F.col("__id").alias("id2"), "__band", "__key")
    return (
        left.join(right, ["__band", "__key"])
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
        .dropDuplicates()
    )


def simhash_hashes_expr(col: Column) -> Column:
    """Distinct-token 64-bit hash array — materialize through its own
    projection before the per-bit votes (CSE doesn't reach inside
    higher-order functions; inlined, the md5s would re-run once per
    bit — see minhash_base_expr)."""
    return F.transform(F.array_distinct(tokens_ws(col)), lambda t: _h64(99, t))


def simhash_from_hashes(hashes: Column, bits: int = 16) -> Column:
    """SimHash packed long from an already-materialized hash array:
    per bit position, majority vote of the hash bits (+1/-1)."""

    def _vote_fn(b: int):
        # exactly-2-arg merge lambda (see _seeded_hash_fn note)
        return lambda acc, h: acc + F.shiftright(h, b).bitwiseAND(F.lit(1)) * 2 - 1

    total = F.lit(0).cast("long")
    for b in range(bits):
        vote = F.aggregate(hashes, F.lit(0).cast("long"), _vote_fn(b))
        total = total + F.when(vote > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0))
    return total


def simhash_expr(col: Column, bits: int = 16) -> Column:
    """One-shot SimHash of a text column. Convenience/compat path: in
    a hot projection prefer staging simhash_hashes_expr first and
    applying simhash_from_hashes to the materialized column."""
    return simhash_from_hashes(simhash_hashes_expr(col), bits)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str | None = None,
    threshold: float = 0.5,
    use_shingles: bool = True,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram (or word-set) Jaccard for all pairs (id1 < id2),
    via inverted index: explode distinct tokens, equi-join on token
    (+ optional blocking key), count intersections, derive |union| from
    per-doc set sizes. Output: id1, id2, jaccard (round 4) ≥ threshold.

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
    """
    tok_expr = (
        shingles_expr(qcol(text_col))
        if use_shingles
        else F.array_distinct(tokens_ws(qcol(text_col)))
    )
    # tokenization is CPU-bound; single-file parquet arrives as one
    # partition → force parallelism before the explode
    df = ensure_min_partitions(df)
    base = df.select(
        qcol(id_col).alias("__id"),
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


def dup_clusters(
    pairs: DataFrame,
    id1: str = "id1",
    id2: str = "id2",
    max_iter: int = 20,
    driver_fastpath_max_edges: int | None = None,
) -> DataFrame:
    """Connected components over a near-duplicate pair set → cluster
    label per member (min id in the component), the step that turns
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
    ≤ ``driver_fastpath_max_edges`` (default
    :data:`_DRIVER_CC_MAX_EDGES`), the checkpointed edge list is
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
    similarity.semantic_pairs_auto. Pass ``driver_fastpath_max_edges=0``
    to force the distributed loop (the convergence-contract tests do).

    Both paths materialize the HALF edge set (one direction) first and
    derive the reversed direction from the checkpoint: the previous
    shape unioned two selects over the un-materialized ``pairs`` plan,
    which executed the (potentially expensive) pair generator TWICE.
    """
    spark = pairs.sparkSession
    half = pairs.select(
        F.col(id1).alias("src"), F.col(id2).alias("dst")
    ).localCheckpoint(eager=True)
    n_half = half.count()  # cheap: scans the checkpoint just built
    if driver_fastpath_max_edges is None:
        driver_fastpath_max_edges = _DRIVER_CC_MAX_EDGES
    if n_half <= driver_fastpath_max_edges:
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
        return _dup_clusters_loop(edges, labels, max_iter)
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
#: (scripts/cc_loop_probe.py, local[32], forced loop, noop sink,
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

#: diagnostic only: materialized rounds the MOST RECENT
#: _dup_clusters_loop call took to converge (None before any call).
#: Read by scripts/cc_loop_probe.py to report the rounds×wall trade;
#: never consulted by engine code.
LAST_LOOP_ROUNDS: int | None = None


def _dup_clusters_loop(
    edges: DataFrame, labels: DataFrame, max_iter: int
) -> DataFrame:
    from pyspark.storagelevel import StorageLevel

    global LAST_LOOP_ROUNDS
    for _round in range(max_iter):
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
        if _round % _CC_STATS_RESET_EVERY == 0:
            cached = cur.persist(StorageLevel.MEMORY_AND_DISK)
            try:
                cached.count()
                doubled = cached.localCheckpoint(eager=True)
            finally:  # release the cache when the count or checkpoint throws too
                cached.unpersist()
        else:
            doubled = cur.localCheckpoint(eager=True)
        changed = doubled.filter(F.col("__changed")).limit(1).count()
        labels = doubled.drop("__changed")
        if changed == 0:
            LAST_LOOP_ROUNDS = _round + 1
            return labels
    # Exhausting max_iter without a fixpoint means the labels are NOT
    # components yet — returning them silently would hand callers a
    # wrong dedup decision. With pointer doubling, max_iter=20 covers
    # component diameters up to ~2^19, so this firing means the input
    # graph is nothing like near-dup data (or max_iter was lowered).
    raise ValueError(
        f"dup_clusters did not converge within max_iter={max_iter} "
        "rounds; raise max_iter for graphs with extreme diameter"
    )


def jaccard_pairs_prefix(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str | None = None,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact word-set Jaccard self-join with PREFIX FILTERING — the
    SSJoin/PPJoin family (Chaudhuri et al. 2006; Xiao et al. 2008,
    both public literature), the no-recall-loss alternative to
    ``ngram_jaccard_pairs``'s ``max_df`` stopword guard.

    Principle: order every document's tokens by a GLOBAL rank
    (document frequency ascending, token ascending — rarest first)
    and keep only the first ⌊(1−t)·|d|⌋+1 as its *prefix*. Any pair
    with Jaccard ≥ t MUST share a prefix token, so the inverted-index
    join runs over prefixes only: posting lists concentrate on RARE
    tokens, and the stopword lists that make Σdf² quadratic never
    enter the index at all. Survivors are verified exactly with
    ``array_intersect`` on the full token sets — the result is
    IDENTICAL to the unfiltered join at every scale (unlike max_df,
    which redefines the vocabulary).

    Plan: explode → df-count agg → token-rank join → per-doc window
    (prefix cut) → prefix equi-join → two id joins + array verify.
    More (bounded) shuffles than the max_df path, but candidate count
    collapses from Σdf(token)² to Σdf(prefix-token)².

    Measured trade (sf0.1, local[32], warm): max_df 1.4 s vs prefix
    9.2 s — on a corpus with NO quadratic hot token the fixed extra
    shuffles dominate. Use max_df for benign vocabularies; use this
    when a stopword-frequency token would otherwise square a posting
    list, or when exactness of the full vocabulary is contractual.

    SHAPE (r11, VERDICT r10 next-round #2 — the r10 cross-gate tricks
    applied to the self-join variant; every change is candidate-set-
    or value-preserving, so the output is byte-identical):

    - the ranked PREFIX index (~(1−t′) of exploded tokens, bounded) is
      eagerly localCheckpoint-ed before the self-join — previously the
      whole rank pipeline (explode → dfreq shuffle → rank window) was
      planned ONCE PER SIDE of the join (same fault-tolerance caveat
      as dup_clusters' loop: a lost executor forfeits the block).
    - PPJoin size-compatibility + count/last-position filters (see
      _cross_prefix_candidates for the exactness proof) prune
      candidates at the same shuffle the old ``distinct`` paid — the
      groupBy replaces it 1:1.
    - the exact verify computes ONE ``array_union`` per candidate
      (inter = s1+s2−|union|, exact integer arithmetic over distinct
      arrays) instead of up to four ``array_intersect`` evaluations —
      the `+ rand(42)*0.0` term is the §4.4 optimizer barrier that
      stops the threshold filter being pushed into the join and
      re-inlining the set-op (pinned by
      tests/test_queries_ext.py::test_single_evaluation_plan_pins)."""
    from pyspark.sql.window import Window

    t_eff = threshold - _ROUND4_MARGIN
    df = ensure_min_partitions(df)
    blk = [qcol(block_col).alias("__blk")] if block_col else []
    base = df.select(
        qcol(id_col).alias("__id"),
        *blk,
        F.array_distinct(tokens_ws(qcol(text_col))).alias("__toks"),
    ).withColumn("__size", F.size("__toks"))

    blk_cols = ["__blk"] if block_col else []
    ex = base.select(
        "__id", *blk_cols, "__size", F.explode("__toks").alias("__tok")
    )
    tok_cols = ["__tok", *blk_cols]
    dfreq = ex.groupBy(*tok_cols).agg(F.count(F.lit(1)).alias("__df"))
    w = Window.partitionBy("__id").orderBy("__df", "__tok")
    prefix = (
        ex.join(dfreq, tok_cols)
        .withColumn("__rn", F.row_number().over(w))
        .filter(
            F.col("__rn")
            <= F.floor(F.lit(1.0 - t_eff) * F.col("__size")) + F.lit(1)
        )
        .select("__id", *blk_cols, "__size", "__rn", "__tok")
        .localCheckpoint(eager=True)
    )
    p1 = prefix.select(
        F.col("__id").alias("id1"), *blk_cols, "__tok",
        F.col("__size").alias("__s1"), F.col("__rn").alias("__p1"),
    )
    p2 = prefix.select(
        F.col("__id").alias("id2"), *blk_cols, "__tok",
        F.col("__size").alias("__s2"), F.col("__rn").alias("__p2"),
    )
    alpha = F.lit(t_eff / (1.0 + t_eff)) * (F.col("__s1") + F.col("__s2"))
    cand = (
        p1.join(p2, tok_cols)
        .filter(F.col("id1") < F.col("id2"))
        .filter(
            (F.col("__s2") * F.lit(t_eff) <= F.col("__s1"))
            & (F.col("__s1") * F.lit(t_eff) <= F.col("__s2"))
        )
        .groupBy("id1", "id2", "__s1", "__s2")
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
        .select("id1", "id2")
    )
    t1 = base.select(F.col("__id").alias("id1"), F.col("__toks").alias("__t1"))
    t2 = base.select(F.col("__id").alias("id2"), F.col("__toks").alias("__t2"))
    u = F.size(F.array_union("__t1", "__t2"))
    inter = F.size("__t1") + F.size("__t2") - u
    jac = F.round(inter.cast("double") / u.cast("double"), 4)
    return (
        cand.join(t1, "id1")
        .join(t2, "id2")
        .withColumn("jaccard", jac + F.rand(42) * F.lit(0.0))
        .filter(F.col("jaccard") >= threshold)
        .select("id1", "id2", "jaccard")
    )


#: Rounding guard for prefix lengths: outputs are filtered on
#: round(jaccard, 4) >= t, so a pair whose TRUE jaccard lies in
#: [t − 5e-5, t) still belongs in the result set. Prefixes are built
#: for the slightly lower effective threshold so the prefix-filter
#: theorem covers those boundary pairs too — at most one extra prefix
#: token per ~20k-token document, and identical output everywhere
#: else.
_ROUND4_MARGIN = 5e-5


def _cross_prefix_candidates(
    b_ex: DataFrame, c_ex: DataFrame, threshold: float
) -> DataFrame:
    """Candidate (in_id, ex_id) pairs from PREFIX posting lists only.

    ``b_ex``/``c_ex`` are exploded token rows (__id, __size, __tok).
    The global token order is document frequency over BOTH sides
    ascending (ties by token), so each side's prefix is its
    ⌊(1−t')·size⌋+1 rarest tokens. Any pair with jaccard ≥ t' must
    share a prefix token: |A∩B| ≥ α forces prefixes of length
    |X|−α+1 to intersect (Chaudhuri et al. 2006), and
    α ≥ t'/(1+t')·(s1+s2) ≥ t'·max(s1,s2) for size-compatible pairs,
    so ⌊(1−t')·s⌋+1 ≥ s−α+1 on both sides independently. Stopword
    posting lists never reach the join — candidate volume is
    Σ_rare-tok df_b·df_c, not Σ_all-tok df_b·df_c. A size-
    compatibility conjunct (j ≥ t' forces min(s1,s2) ≥ t'·max) prunes
    the equi-join output before the aggregation.

    POSITIONAL FILTER (PPJoin-style, Xiao et al. 2008 — exact; r6
    first-position form upgraded r9 to the full count+last-position
    bound): both docs' token lists are sorted by the SAME global
    (df, token) order, so prefixes are PREFIXES of that order. Let
    cnt = number of shared prefix tokens and p1x/p2x the pair's LAST
    matched prefix positions (1-based ranks). Any common token NOT
    counted in cnt must rank after that last matched token in BOTH
    docs — if it ranked before it anywhere, order consistency puts
    it before rank p1x ≤ prefix-length in both docs, i.e. in both
    prefixes, so it would have been counted. Hence
    overlap ≤ cnt + min(s1−p1x, s2−p2x), and the pair is pruned when
    that bound < α = t'/(1+t')·(s1+s2), the minimum intersection
    Jaccard ≥ t' forces. This dominates the r6 first-position bound
    1 + min(s1−p1min, s2−p2min): matched positions are distinct, so
    p1x ≥ p1min + cnt − 1, giving cnt + (s−p1x) ≤ 1 + (s−p1min) on
    each side. Using t_eff (the round-4 margin) loosens α → never
    prunes a true pair; exact array verification downstream makes
    any remaining false candidate harmless.

    Measured honestly (r6, sf0.1, t=0.8, first-position form):
    338k → 319k candidates and a time wash — 146.9k of the
    candidates are TRUE pairs on this dup-dense synthetic corpus
    (~46% precision bounds what ANY candidate filter can remove).
    The filter's regime is the sparse one — a real crawl batch where
    admitted pairs are ≪ candidates; it costs nothing here (the
    groupBy replaces the distinct at the same shuffle), so it stays
    on unconditionally. r9 re-measure with the count+last-position
    bound: see q_jaccard_cross_gate's cost-profile note.

    SHAPE (r10): both sides are ranked in ONE pass over a side-tagged
    union — one dfreq aggregate and one window instead of one each per
    side (the old per-side `_prefix` planned the dfreq subtree and the
    exploded scans twice) — and the ranked PREFIX index (~(1−t') of
    the exploded tokens) is eagerly localCheckpoint-ed before the pair
    join, whose two inputs become filters over that materialization.
    Without it the self-referencing join recomputes the full rank
    pipeline (dfreq shuffle + window sort) once per side; with it the
    pipeline runs once and the join re-reads a bounded ~(1−t')-sized
    index from executor memory/disk — strictly less work at any scale
    (same localCheckpoint fault-tolerance caveat as dup_clusters'
    loop). Measured sf0.1 (t=0.8, min-of-4, same session):
    3.65 → 2.72 s end-to-end, identical 146,875-row result. The
    global (df, token) order is unchanged, so prefixes — and therefore
    the candidate set — are byte-identical."""
    from pyspark.sql.window import Window

    t_eff = threshold - _ROUND4_MARGIN
    ex = b_ex.select(
        F.lit(True).alias("__b"), "__id", "__size", "__tok"
    ).unionAll(
        c_ex.select(F.lit(False).alias("__b"), "__id", "__size", "__tok")
    )
    dfreq = ex.groupBy("__tok").agg(F.count(F.lit(1)).alias("__df"))
    w = Window.partitionBy("__b", "__id").orderBy("__df", "__tok")
    ranked = (
        ex.join(dfreq, "__tok")
        .withColumn("__rn", F.row_number().over(w))
        .filter(
            F.col("__rn")
            <= F.floor(F.lit(1.0 - t_eff) * F.col("__size")) + F.lit(1)
        )
        .localCheckpoint(eager=True)
    )
    pb = ranked.filter(F.col("__b")).select(
        F.col("__id").alias("in_id"), F.col("__size").alias("__s1"),
        F.col("__rn").alias("__p1"), "__tok",
    )
    pc = ranked.filter(~F.col("__b")).select(
        F.col("__id").alias("ex_id"), F.col("__size").alias("__s2"),
        F.col("__rn").alias("__p2"), "__tok",
    )
    alpha = F.lit(t_eff / (1.0 + t_eff)) * (F.col("__s1") + F.col("__s2"))
    return (
        pb.join(pc, "__tok")
        .filter(
            (F.col("__s2") * F.lit(t_eff) <= F.col("__s1"))
            & (F.col("__s1") * F.lit(t_eff) <= F.col("__s2"))
        )
        .groupBy("in_id", "ex_id", "__s1", "__s2")
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
        .select("in_id", "ex_id")
    )


def jaccard_cross_prefix(
    batch: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """(in_id, ex_id, jaccard) for every batch×corpus pair with word
    Jaccard ≥ threshold (rounded to 4dp) — EXACT, the two-sided
    ingestion-gate sibling of ``jaccard_pairs_prefix``.

    Only PREFIX tokens (each doc's ⌊(1−t')·size⌋+1 rarest) enter the
    inverted-index join; survivors are verified exactly on the full
    token arrays (``array_intersect`` over distinct arrays ≡ the
    naive groupBy count), so the output is identical to the naive
    all-token equi-join at every scale.

    REGIME HONESTY (measured, r5): the filter's strength is
    (1−t) — at t=0.5 the prefix keeps HALF of every doc, the
    mid-frequency token band passes through, and on a hot-token 15k-
    doc replica this path measured SLOWER than the naive join + size
    filter (313 s vs 211 s) while both stayed ~quadratic. Use it at
    t ≥ 0.8 where the prefix is the rarest ≤20% of each doc and the
    candidate volume collapses (same threshold-regime lesson as
    similarity.lsh_auto_params); at t ≈ 0.5 prefer the naive join +
    size filter for exactness, or MinHash-LSH for the recall-trading
    scale route. At 100 TB the batch side is small — its prefix
    index broadcasts — and the df-count aggregation over the union
    is one map-side-combined shuffle.

    COST PROFILE (measured r6, sf0.1 = 50k docs, 1.4k-doc batch,
    t=0.8, local[32], warm): tokenize+explode 0.5 s, prefix
    candidates 1.5 s (338k pairs), exact verification ~3.2 s of the
    5.2 s total — the array_intersect re-check of candidates
    DOMINATES, not tokenization (persisting the tokenized projections
    measured a wash, 5.5-6.1 s both ways, and was rejected). To make
    this faster, shrink the CANDIDATE set (raise t, positional
    filtering) — not the scan. r9: the count+last-position bound
    (see _cross_prefix_candidates) cut candidates 319k → 300k at the
    same shuffle cost; end-to-end a wash here (min-of-3 4.75 vs 5.1 s,
    canaries in band) because 146.9k of the candidates are TRUE pairs
    on this dup-dense corpus — the filter's payoff regime is a sparse
    real crawl where false candidates dominate."""
    b_base = ensure_min_partitions(batch).select(
        qcol(id_col).alias("__id"),
        F.array_distinct(tokens_ws(qcol(text_col))).alias("__toks"),
    ).withColumn("__size", F.size("__toks"))
    c_base = ensure_min_partitions(corpus).select(
        qcol(id_col).alias("__id"),
        F.array_distinct(tokens_ws(qcol(text_col))).alias("__toks"),
    ).withColumn("__size", F.size("__toks"))
    b_ex = b_base.select("__id", "__size", F.explode("__toks").alias("__tok"))
    c_ex = c_base.select("__id", "__size", F.explode("__toks").alias("__tok"))
    cand = _cross_prefix_candidates(b_ex, c_ex, threshold)
    t1 = b_base.select(F.col("__id").alias("in_id"), F.col("__toks").alias("__t1"))
    t2 = c_base.select(F.col("__id").alias("ex_id"), F.col("__toks").alias("__t2"))
    # Verify cost shape (r10, guide §4.4's duplicated-evaluation trap —
    # it applies to expensive EXPRESSIONS exactly as to UDFs): the
    # original `withColumn(jaccard, f(intersect)).filter(jaccard >= t)`
    # pushed the filter into the ex_id join condition, so
    # array_intersect — a per-row hash set over ~2×|doc| STRING tokens,
    # the dominant term of this query (measured r6: ~3.2 s of 5.2 s) —
    # was evaluated once in the join condition and AGAIN in the output
    # projection, and appeared twice per expression on top. Two exactly
    # value-preserving rewrites:
    #  1. |union| IS the Jaccard denominator: inter = s1+s2-|union| in
    #     exact integer arithmetic, so ONE array_union subexpression
    #     replaces two array_intersects and the single double division
    #     (inter/|union|) is bit-identical to inter/(s1+s2-inter).
    #  2. `+ rand(42)*0.0` — adds exactly 0.0 (rand ∈ [0,1), no NaN/inf)
    #     but marks the column NON-DETERMINISTIC, which stops the
    #     optimizer pushing the threshold filter into the join and
    #     re-inlining the expression (the expression-level twin of
    #     udf.asNondeterministic() in the optimization guide §4.4); the
    #     set arithmetic now runs ONCE per candidate. Retry-safe: the
    #     added term is the constant 0.0.
    # Measured (sf0.1, 295k candidates, min-of-3): 6.2 s → 3.5 s with
    # the identical 146,875-row result.
    u = F.size(F.array_union("__t1", "__t2"))
    inter = F.size("__t1") + F.size("__t2") - u
    jac = F.round(inter.cast("double") / u.cast("double"), 4)
    return (
        cand.join(t1, "in_id")
        .join(t2, "ex_id")
        .withColumn("jaccard", jac + F.rand(42) * F.lit(0.0))
        .filter(F.col("jaccard") >= threshold)
        .select("in_id", "ex_id", "jaccard")
    )
