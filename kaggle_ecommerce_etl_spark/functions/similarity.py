"""Similarity search over embedding columns (north_star extension).

Embeddings are ``array<float>`` columns. Every path has the same two
stages — candidate generation, then one exact refine — and writes each
stage once: top-k paths end in :func:`_rank_topk` (sim HALF_UP-rounded
to 6 before ranking, ties by neighbor_id, self excluded), the blocked
numpy paths score with the closures of :func:`_make_block_sims`, and
the LSH paths share one hyperplane index (:func:`hyperplane_tables`,
:func:`_bucket_index`).

Top-k neighbors per query:

- :func:`cosine_topk` — exact; broadcast the (small) query set against
  the corpus, score each pair with the Arrow cosine UDF, window top-k.
  The reference implementation the faster paths are tested against.
- :func:`cosine_topk_matmul` — exact; the query side streams to the
  driver in chunks (:func:`_chunked_blocks`), each chunk scores every
  corpus Arrow batch in one numpy matmul that emits only its partial
  top-k.
- :func:`cosine_self_topk_blocked` — exact all-pairs top-k within one
  table; both sides distributed as packed blocks, no driver stage.
- :func:`ivf_topk` — approximate; k-means cells (inverted file), one
  equi-join on cell id.
- :func:`lsh_bucket_topk` — approximate; random-hyperplane (SimHash)
  buckets from seed-derived constant planes, one equi-join on
  (table, bucket).

Near-duplicate pairs (id1 < id2, sim ≥ θ):

- :func:`cosine_pairs_above` — exact; the chunked matmul scan with a
  threshold mask, over a lazily checkpointed corpus projection whose
  blocks live and die with the returned DataFrame.
- :func:`lsh_neardup_pairs` — recall-trading; hyperplane buckets
  through the banded self-join core
  (:func:`~kaggle_ecommerce_etl_spark.functions.dedup_ml._banded_pairs`,
  shared with MinHash banding), then an exact cosine verify.
- :func:`semantic_pairs_auto` — picks one of the two from the corpus
  size and θ.

:func:`cosine_expr` is the pure-expression cosine the tests use as a
second reference.
"""

from __future__ import annotations

import math
import random

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kaggle_ecommerce_etl_spark.functions.dedup_ml import _banded_pairs


def _make_block_sims():
    """CLOSURE ``(qmat, cmat) → sims``: the rounded cosine matrix of
    two raw float64 row blocks — both sides L2-normalized (into new
    arrays: a broadcast block is shared across tasks and must not be
    normalized twice), one matmul, then round-half-AWAY-FROM-ZERO to
    6 decimals. That rounding matches Spark ``F.round`` / DuckDB
    ``round`` (HALF_UP); ``np.round`` is half-to-even and can diverge
    from the SQL oracles on exact .5 ties at the 6th decimal. Sims are
    rounded BEFORE any rank or threshold, as the oracles do.

    A factory, not a module-level function: cloudpickle serializes
    module-level functions BY REFERENCE (the worker must import this
    package — breaks when only the driver extended sys.path); a
    closure pickles by value. Every mapInPandas body captures closures
    built here or in the kernel factories below."""

    def _sims(qmat: np.ndarray, cmat: np.ndarray) -> np.ndarray:
        qn = qmat / np.linalg.norm(qmat, axis=1, keepdims=True)
        cn = cmat / np.linalg.norm(cmat, axis=1, keepdims=True)
        x = qn @ cn.T
        return np.copysign(np.floor(np.abs(x) * 1e6 + 0.5) / 1e6, x)

    return _sims


def _make_block_topk(k: int):
    """CLOSURE ``(qids, qmat, cids, cmat) → pandas frame`` of
    (query_id, neighbor_id, sim): each query's top-``k`` candidates
    within one (query block × candidate block), ordered by (-sim,
    neighbor_id), self-matches dropped. The partial top-k of the
    blocked matmul paths; :func:`_rank_topk` merges the partials."""
    sims_of = _make_block_sims()

    def _topk(qids, qmat, cids, cmat) -> pd.DataFrame:
        sims = sims_of(qmat, cmat)
        sims[qids[:, None] == cids[None, :]] = -np.inf  # self
        # per-row sort by (-sim, neighbor_id): lexsort the block
        order = np.lexsort(
            (np.broadcast_to(cids, sims.shape), -sims), axis=-1
        )[:, : min(k, sims.shape[1])]
        top_s = np.take_along_axis(sims, order, axis=1)
        keep = np.isfinite(top_s)
        n_per_q = keep.sum(axis=1)
        return pd.DataFrame(
            {
                "query_id": np.repeat(qids, n_per_q),
                "neighbor_id": cids[order][keep],
                "sim": top_s[keep],
            }
        )

    return _topk


def _make_block_pairs(threshold: float):
    """CLOSURE ``(qids, qmat, cids, cmat) → pandas frame`` of (id1,
    id2, sim): every pair of the block with qid < cid and rounded sim
    ≥ ``threshold``."""
    sims_of = _make_block_sims()

    def _pairs(qids, qmat, cids, cmat) -> pd.DataFrame:
        sims = sims_of(qmat, cmat)
        mask = (sims >= threshold) & (qids[:, None] < cids[None, :])
        ii, jj = np.nonzero(mask)
        return pd.DataFrame(
            {"id1": qids[ii], "id2": cids[jj], "sim": sims[ii, jj]}
        )

    return _pairs


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """The exact refine stage of every top-k path: rank each query's
    scored candidates by (sim desc, neighbor_id asc), keep rank ≤ k,
    project (query_id, neighbor_id, sim, rank)."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def _as_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def dot_expr(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ as a fold — sequential over the array, deterministic."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(dot_expr(a, a))


def cosine_expr(a: Column, b: Column) -> Column:
    a, b = _as_double(a), _as_double(b)
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def cosine_udf():
    """Arrow-batched cosine similarity over two array columns — the hot
    path for pairwise scoring. The pure-expression :func:`cosine_expr`
    is interpreted per-row (~45 µs/pair at dim 64); this is one numpy
    batch matmul, ~50× faster, and the idiomatic Pandas-UDF use.
    Differences vs the expression/DuckDB value are fp-summation-order
    only (≪ the round-6 output granularity)."""
    from pyspark.sql.pandas.functions import pandas_udf

    @pandas_udf("double")
    def _cos(a: pd.Series, b: pd.Series) -> pd.Series:
        va = np.asarray(a.tolist(), dtype=np.float64)
        vb = np.asarray(b.tolist(), dtype=np.float64)
        dots = np.einsum("ij,ij->i", va, vb)
        norms = np.linalg.norm(va, axis=1) * np.linalg.norm(vb, axis=1)
        return pd.Series(dots / norms)

    return _cos


def cosine_topk(queries: DataFrame, corpus: DataFrame, k: int = 5) -> DataFrame:
    """Exact top-k cosine neighbors per query.

    Output: query_id, neighbor_id, sim (round 6), rank. Self-matches
    (same id) are excluded. Ties broken by neighbor_id for determinism.
    """
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("__qv")
    )
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("__cv")
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", F.round(cosine_udf()(F.col("__qv"), F.col("__cv")), 6))
        .drop("__qv", "__cv")
    )
    return _rank_topk(scored, k)


#: rows of the query side held on the driver at once. Caps BOTH driver
#: memory (one chunk of vectors) and the per-executor-batch sims matrix
#: (chunk × arrow-batch doubles: 4096 × 10 000 × 8 B ≈ 330 MB).
QUERY_CHUNK_ROWS = 4096


def _query_chunks(queries: DataFrame):
    """Stream the query side to the driver in chunks of
    :data:`QUERY_CHUNK_ROWS`.

    ``toLocalIterator`` materializes ONE partition at a time, so the
    PYTHON-side working set is O(chunk). NOTE: each chunk is then
    ``sc.broadcast``-ed and every broadcast stays referenced by the
    lazily-returned plan until it executes, so the driver BLOCK-MANAGER
    footprint across chunks is O(|queries|) — the query side is
    contractually small. A huge query side means |Q|/QUERY_CHUNK_ROWS
    corpus scans AND O(|Q|) broadcast bytes: use :func:`lsh_bucket_topk` or
    :func:`cosine_self_topk_blocked` there (a warning fires past
    ``_CHUNK_WARN_LIMIT`` chunks). Yields (ids, raw vec lists)."""
    import warnings

    n_chunks = 0
    ids: list = []
    vecs: list = []
    for row in queries.select("vec_id", "embedding").toLocalIterator(
        prefetchPartitions=True
    ):
        ids.append(row[0])
        vecs.append(row[1])
        if len(ids) >= QUERY_CHUNK_ROWS:
            n_chunks += 1
            if n_chunks == _CHUNK_WARN_LIMIT:
                warnings.warn(
                    f"query side exceeds {_CHUNK_WARN_LIMIT} chunks of "
                    f"{QUERY_CHUNK_ROWS} rows; this path broadcasts O(|Q|) "
                    "bytes and rescans the corpus per chunk — route through "
                    "lsh_bucket_topk or cosine_self_topk_blocked instead",
                    stacklevel=3,
                )
            yield ids, vecs
            ids, vecs = [], []
    if ids:
        yield ids, vecs


#: chunks of the query side after which _query_chunks warns that the
#: "contractually small query side" contract is being stretched
_CHUNK_WARN_LIMIT = 64


def _chunked_blocks(
    queries: DataFrame,
    corpus: DataFrame,
    kernel,
    schema: str,
) -> DataFrame:
    """The small-query-side scan of :func:`cosine_topk_matmul` and
    :func:`cosine_pairs_above`: stream ``queries`` to the driver in
    bounded chunks (:func:`_query_chunks`), broadcast each chunk as
    (int64 ids, raw float64 matrix), scan ``corpus`` (already projected
    to ``vec_id, embedding``) once per chunk with ``mapInPandas`` —
    every Arrow batch is one ``kernel(qids, qmat, cids, cmat)`` call
    returning rows of ``schema`` — and union the passes. ``kernel``
    comes from a factory (:func:`_make_block_topk`,
    :func:`_make_block_pairs`) so workers never import this package.
    An empty query side yields an empty frame of ``schema``."""
    spark = corpus.sparkSession
    sc = spark.sparkContext
    partials: list[DataFrame] = []
    for ids, vecs in _query_chunks(queries):
        bc = sc.broadcast(
            (np.asarray(ids, dtype=np.int64), np.asarray(vecs, dtype=np.float64))
        )

        def _blocks(batches, _bc=bc):
            qids, qmat = _bc.value
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                cmat = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)
                cids = pdf["vec_id"].to_numpy(dtype=np.int64)
                yield kernel(qids, qmat, cids, cmat)

        partials.append(corpus.mapInPandas(_blocks, schema))

    if not partials:
        return spark.createDataFrame([], schema)
    out = partials[0]
    for p in partials[1:]:
        out = out.unionByName(p)
    return out


def cosine_topk_matmul(
    queries: DataFrame, corpus: DataFrame, k: int = 5
) -> DataFrame:
    """Exact top-k via blocked matmul, corpus fully distributed.

    Shape (the 100 TB-corpus path): the QUERY side — the contractually
    small side — is streamed to the driver in bounded chunks and
    broadcast; the corpus is scanned ONCE per chunk with
    ``mapInPandas``, each Arrow batch computing Qᵀ-block @ C-batch in
    numpy and emitting only its per-query top-k candidates (≤ |Q|·k
    rows per batch). A final window re-rank merges the partial top-ks.
    The corpus is never collected, never broadcast, and no |Q|×|C|
    pair rows ever materialize — the cross product lives only inside
    the numpy block.

    Contract: the QUERY side fits on the driver in chunks (its chunks
    are re-broadcast per corpus pass, so a huge query side means
    |Q|/QUERY_CHUNK_ROWS corpus scans — use :func:`lsh_bucket_topk`
    there). Output/determinism identical to :func:`cosine_topk`: sim
    rounded to 6 BEFORE ranking, ties by neighbor_id, self-matches
    excluded. ``vec_id`` must be integral on both sides — ids are
    coerced to int64 and the output schema pins long ids (string/UUID
    ids would need a surrogate-key projection first).

    Construction-time side effect: building the returned DataFrame
    already drains the whole query side to the driver through
    ``toLocalIterator`` in :func:`_chunked_blocks` — one Spark job per
    query-side partition, run before any action.
    """
    partial = _chunked_blocks(
        queries,
        corpus.select("vec_id", "embedding"),
        _make_block_topk(k),
        "query_id long, neighbor_id long, sim double",
    )
    return _rank_topk(partial, k)


def release_corpus_caches() -> None:
    """No-op: :func:`cosine_pairs_above` holds its corpus projection in
    a lazy ``localCheckpoint`` that goes with the returned DataFrame,
    so there is nothing to release. Kept only because
    ``perfbench/workloads.py`` still calls it."""


def cosine_pairs_above(df: DataFrame, threshold: float) -> DataFrame:
    """EXACT all-pairs (id1 < id2) with cosine ≥ threshold — blocked
    matmul, no cross join in the plan.

    The 2-column corpus projection is held in a lazy
    ``localCheckpoint``: the chunk loop re-scans the corpus
    |Q|/QUERY_CHUNK_ROWS times, and each re-scan paying a fresh parquet
    decode was the dominant variance source in the 30× semantic-dedup
    band (r6; parquet decode pressure is scheduling/GC-sensitive, a
    scan of stored blocks is not). The query-side drain (the
    construction-time side effect noted below) is the checkpoint's
    first action, so it stores the blocks and every chunk's corpus
    scan reads them. The blocks belong to the returned
    DataFrame's plan, not to the session's ``CacheManager``: they go
    when the frame is garbage-collected, on success and on failure
    alike, and no caller releases anything (SCALING.md's
    ``localCheckpoint`` ledger). A size-bounded hold by CONTRACT: the
    exact-n² path is only routed to corpora small enough that n/chunk
    full scans are acceptable (see the LSH crossover in SCALING.md).

    Same physical shape as :func:`cosine_topk_matmul` (one
    :func:`_chunked_blocks` loop): one side streamed in bounded driver
    chunks + broadcast, the other scanned distributed; each (chunk ×
    Arrow batch) block scores in one numpy matmul and emits only the
    (qid < cid, sim ≥ threshold) survivors. Every unordered pair is
    seen exactly once under qid < cid because the chunk loop covers
    all rows on the query side. Exact — unlike an LSH prefilter there
    is no recall loss, so results match the brute-force SQL oracle
    (same HALF_UP rounding, see :func:`_make_block_sims`; residual
    divergence limited to fp-summation-order ULPs feeding the 6th
    decimal); the O(n²/block) work runs vectorized inside numpy
    instead of materializing pair rows. For corpora where even blocked
    n² is too much, the recall-trading path is
    :func:`lsh_neardup_pairs` / minhash banding. ``vec_id`` must be
    integral (int64-coerced, long output schema).

    Construction-time side effect: building the returned DataFrame
    already drains (and so checkpoints) the whole projection through
    ``toLocalIterator`` in :func:`_chunked_blocks` — one Spark job per
    partition, run before any action.
    """
    side = df.select("vec_id", "embedding").localCheckpoint(eager=False)
    return _chunked_blocks(
        side, side, _make_block_pairs(threshold), "id1 long, id2 long, sim double"
    )


def _estimated_rows(df: DataFrame, dim: int) -> int:
    """Row-count estimate WITHOUT a full scan: Catalyst's sizeInBytes
    statistic divided by the row width of a ``dim``-vector. Sizes the
    blocked grid of :func:`cosine_self_topk_blocked` and the route
    choice of :func:`semantic_pairs_auto`.

    Stat-less sources (JDBC, RDD-backed frames) report the
    defaultSizeInBytes sentinel (~Long.MaxValue): the derived "row
    count" would put every row in its own singleton block and the
    block cross join would degenerate to the exact n² that blocking
    exists to prevent. The absurd estimate falls back to ONE real
    count — a full pass, but a correct grid."""
    size_bytes = int(
        str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    )
    row_bytes = max(dim * 8 + 48, 64)
    n_rows = max(1, size_bytes // row_bytes)
    if n_rows > 10**12:
        n_rows = max(1, df.count())
    return n_rows


#: rows per packed block of :func:`cosine_self_topk_blocked` — one
#: block payload is BLOCK_ROWS × dim × 8 B
BLOCK_ROWS = 4096


def cosine_self_topk_blocked(df: DataFrame, k: int = 1) -> DataFrame:
    """Exact top-k cosine neighbors WITHIN one table (every row is both
    query and candidate), both sides fully distributed — the all-pairs
    sibling of :func:`cosine_topk_matmul` with ZERO driver
    participation: no collect, no toLocalIterator, no broadcast.

    Physical shape (the 100 TB path for nearest-neighbor-per-row):

    1. rows hash into B = ⌈n/BLOCK_ROWS⌉ coarse blocks; each block is
       packed into ONE (ids, matrix) row (one shuffle, block payload
       ≈ BLOCK_ROWS × dim × 8 B);
    2. the B×B block-pair cross join gives each task exactly two block
       payloads; the |C|² pair space exists only inside that task's
       numpy matmul, which emits ≤ BLOCK_ROWS·k candidate rows;
    3. a window re-rank merges partial top-ks per query.

    Network cost is B·|C| vector bytes (every block meets every other
    block) — the irreducible exact all-pairs shuffle, spread over B²
    independent tasks. Recall-trading alternative when even that is too
    much: :func:`lsh_bucket_topk` + exact re-rank of its candidates.

    Output/determinism identical to :func:`cosine_topk`: sim HALF_UP-
    rounded to 6 BEFORE ranking, ties by neighbor_id, self excluded.
    ``vec_id`` must be integral (output schema pins long ids).

    The block grid is sized WITHOUT a full-scan action (at 100 TB a
    plan-construction ``count()`` is a whole extra pass): row count is
    estimated from Catalyst's sizeInBytes statistic divided by an
    estimated row width (vector dim from a bounded 1-row probe — the
    same class of driver action as the sanctioned 1-row header fetch).
    Grid granularity only shapes task sizing, never results: the
    algorithm is exact under ANY blocking, so a 2-4× row-estimate error
    just moves block payloads within the same order of magnitude.
    """
    probe = df.select("embedding").head(1)
    dim = len(probe[0][0]) if probe and probe[0][0] is not None else 0
    n_blocks = max(1, math.ceil(_estimated_rows(df, dim) / BLOCK_ROWS))
    src = df.select(
        F.pmod(F.xxhash64(F.col("vec_id")), F.lit(n_blocks)).alias("__blk"),
        F.col("vec_id").alias("__id"),
        _as_double(F.col("embedding")).alias("__vec"),
    )
    # collect_list order is nondeterministic — harmless: scoring is
    # per-element and the output is (query, neighbor, sim) rows
    packed = src.groupBy("__blk").agg(
        F.collect_list("__id").alias("ids"),
        F.collect_list("__vec").alias("vecs"),
    )
    pairs = packed.select(
        F.col("ids").alias("qids_l"), F.col("vecs").alias("qvecs_l")
    ).crossJoin(
        packed.select(F.col("ids").alias("cids_l"), F.col("vecs").alias("cvecs_l"))
    )
    topk = _make_block_topk(k)

    def _score(batches):
        for pdf in batches:
            for qi, qv, ci, cv in zip(
                pdf["qids_l"], pdf["qvecs_l"], pdf["cids_l"], pdf["cvecs_l"]
            ):
                yield topk(
                    np.asarray(qi, dtype=np.int64),
                    np.asarray([np.asarray(v) for v in qv], dtype=np.float64),
                    np.asarray(ci, dtype=np.int64),
                    np.asarray([np.asarray(v) for v in cv], dtype=np.float64),
                )

    partial = pairs.mapInPandas(
        _score, "query_id long, neighbor_id long, sim double"
    )
    return _rank_topk(partial, k)


#: Embedding width the hyperplane planes are drawn for, and the row
#: width the route estimate assumes (no probe needed): the corpus's
#: 64-d vectors.
EMBED_DIM = 64

#: Seed of the hyperplane planes (table t draws from SEED + 1000·t)
#: and of the k-means initial centroids. The DuckDB oracles re-derive
#: the planes from the same value.
SEED = 42

#: :func:`lsh_auto_params` sizing: expected rows per bucket, the recall
#: the table count must reach at the threshold, and the table cap past
#: which the router treats LSH as the low-θ wall (or a logged recall
#: trade — see :data:`LSH_CAPPED_RECALL_FLOOR`).
LSH_TARGET_BUCKET_ROWS = 256
LSH_RECALL_TARGET = 0.9
LSH_MAX_TABLES = 64


def lsh_auto_params(n_rows: int, threshold: float) -> tuple[int, int]:
    """(n_planes, n_tables) sized for the corpus and the threshold.

    The fixed-b failure mode this exists to prevent (measured, r5 —
    SCALING.md dedup section): at b=3/T=16 a RANDOM pair is a
    candidate with probability 1−(1−2⁻³)¹⁶ ≈ 0.88, so past a few
    thousand vectors the "prefilter" admits ~all of n² and the LSH
    path measures slower than the exact blocked matmul (608 s vs
    ~19 s at n=20k). Sizing rule:

    - b = max(3, ⌈log₂(n / LSH_TARGET_BUCKET_ROWS)⌉): expected bucket
      occupancy stays ~LSH_TARGET_BUCKET_ROWS at every corpus size, so
      per-table candidate volume is ~n·target/2, linear in n.
    - T = ⌈ln(1/(1−recall)) / p₁ᵇ⌉ with p₁ = 1−arccos(θ)/π keeps
      1−(1−p₁ᵇ)ᵀ ≥ LSH_RECALL_TARGET.

    T explodes when θ is low — sign-LSH's exponent ρ = ln p₁/ln ½
    approaches 1 as θ→0 and no (b, T) beats blocked-exact. Hitting
    ``LSH_MAX_TABLES`` logs that routing warning (→
    :func:`cosine_pairs_above`) and caps T, trading recall for
    boundedness. At θ ≥ 0.85 (the real near-dup regime) p₁ ≥ 0.86
    and T stays single-digit through b ≈ 12 (n ≈ 10⁶·target)."""
    import logging

    b = 3
    if n_rows > LSH_TARGET_BUCKET_ROWS:
        b = max(3, min(24, math.ceil(math.log2(n_rows / LSH_TARGET_BUCKET_ROWS))))
    p1 = 1.0 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
    need = math.log(1.0 / (1.0 - LSH_RECALL_TARGET))
    t = max(1, math.ceil(need / max(p1**b, 1e-300)))
    if t > LSH_MAX_TABLES:
        achieved = 1.0 - (1.0 - p1**b) ** LSH_MAX_TABLES
        logging.getLogger("spark_graft").warning(
            "lsh_auto_params: recall %.2f at threshold %.2f needs %d "
            "tables at b=%d (capped to %d, achieved recall %.3f) — the "
            "router treats the cap as the low-θ wall (→ blocked exact) "
            "only when the capped recall collapses; a high-θ/huge-n cap "
            "with tolerable recall routes LSH best-effort instead of an "
            "infeasible n²/2 scan.",
            LSH_RECALL_TARGET, threshold, t, b, LSH_MAX_TABLES, achieved,
        )
        t = LSH_MAX_TABLES
    return b, t


def lsh_neardup_pairs(
    df: DataFrame, threshold: float, n_planes: int, n_tables: int
) -> DataFrame:
    """Near-duplicate pairs (id1 < id2, cosine ≥ threshold) with an LSH
    prefilter — the recall-trading scale sibling of
    :func:`cosine_pairs_above` for corpora where even blocked-exact n²
    passes are too much.

    Shape: both "sides" are the SAME table; each row explodes to its
    (table, bucket) keys (:func:`_bucket_index` — ONE projection
    computes all tables' buckets), the banded self-join core
    (:func:`~kaggle_ecommerce_etl_spark.functions.dedup_ml._banded_pairs`,
    the one MinHash banding uses: eager checkpoint of the index, one
    self-equi-join on (table, bucket), id1 < id2, distinct) yields
    candidates, and only candidates pay the exact cosine + threshold. Shuffle ∝ Σ bucket sizes; the n² pair space is never
    materialized. Recall = P(any-table collision) of a qualifying pair
    — 1-(1-p^b)^T with p = 1-θ/π; at b=3/T=16 measured ≥0.98 on the
    test corpus (see tests/test_queries_ext.py).

    At scale call :func:`semantic_pairs_auto`, which sizes (b, T) from
    the corpus cardinality and the threshold via :func:`lsh_auto_params`
    and routes low θ to blocked exact, where LSH is the wrong route.
    """
    tables = hyperplane_tables(EMBED_DIM, n_planes, n_tables, SEED)
    cand = _banded_pairs(_bucket_index(df, tables))
    v1 = df.select(F.col("vec_id").alias("id1"), F.col("embedding").alias("__v1"))
    v2 = df.select(F.col("vec_id").alias("id2"), F.col("embedding").alias("__v2"))
    # asNondeterministic: the threshold filter otherwise pushes below
    # the projection and the cosine UDF evaluates TWICE per candidate
    # (guide §4.4 — two ArrowEvalPython nodes in the r10 plan capture).
    # Values are unchanged: the UDF is pure; the marking only stops the
    # optimizer duplicating it.
    cos = cosine_udf().asNondeterministic()
    return (
        cand.join(v1, "id1")
        .join(v2, "id2")
        .withColumn("sim", F.round(cos(F.col("__v1"), F.col("__v2")), 6))
        .filter(F.col("sim") >= threshold)
        .select("id1", "id2", "sim")
    )


#: Exact-route advantage margin for :func:`semantic_pairs_auto`: the
#: LSH path pays explode (T rows per vector), a shuffle self-join, a
#: distinct, and a per-candidate cosine verify, where blocked-exact
#: scores pairs inside one numpy matmul already resident in registers.
#: LSH is only routed when its estimated candidate volume beats exact
#: n²/2 by at least this factor. MEASURED, not guessed (r7): the
#: original 4.0 still misrouted — at n=20k, θ=0.85 the router picked
#: LSH and measured 16.2 s vs 1.3 s exact (12× wrong; exact's matmul
#: cost is nearly θ-independent, the threshold is just a mask). Unit
#: costs from that head-to-head: exact ≈ 208 ns/pair-score·core
#: (1.3 s × 32 / 2·10⁸ pairs) vs LSH ≈ 22 µs/candidate·core
#: (16.2 s × 32 / 2.3·10⁷ candidates) — a ~108× per-unit gap (the r5
#: θ=0.4 misroute, 608 s vs 19 s, implies the same order). 128 covers
#: both measurements and errs toward exact near the boundary, where a
#: wrong exact pick costs a small constant factor but a wrong LSH pick
#: measured 12-32×. At θ=0.85 the flip lands between n=500k and n=1M
#: (the router's candidate estimate grows n·T·LSH_TARGET_BUCKET_ROWS/2
#: ≈ n·T·128, exact n²/2) — where the unit costs above say the true
#: crossover is.
LSH_ROUTE_MARGIN = 128.0

#: Estimate-drift guard around the exact-vs-LSH flip. The router's
#: input is Catalyst's sizeInBytes row estimate, which ROUTE_PROBE_r08
#: measured reading ~2.1× UNDER true n at both n=20k and n=200k on
#: this layout. Under-reads bias the margin rule toward exact — the
#: cheap-to-be-wrong side (a wrong exact pick near the flip costs a
#: small constant factor; a wrong LSH pick measured 12–32×) — but at
#: true n≈2M a 2.1× under-read lands right AT the ~1M flip, and any
#: layout/Spark-version change that widens the drift past the margin's
#: slack would hold exact into the regime where LSH wins 5×+. So when
#: the ESTIMATED decision lands within this factor of the boundary
#: (|log-ratio| ≤ log 4 between exact_pairs and margin-scaled LSH
#: candidate volume), the router pays ONE exact ``count()`` and
#: re-decides with the true n. At the n≥500k scales where the band can
#: be entered at all, a count() is noise against either route (both
#: are minutes-scale there; the count is a column-pruned scan). 4.0 =
#: measured 2.1× drift × ~2 safety; the calibration observation is
#: pinned in tests/test_similarity_blocked.py alongside the crossover
#: grid.
LSH_ROUTE_DRIFT_GUARD = 4.0

#: When the T-cap fires, the fraction of :data:`LSH_RECALL_TARGET`
#: that capped-T LSH must still achieve for the router to treat the cap
#: as a recall TRADE rather than the low-θ wall. Two capped regimes
#: exist and they demand opposite routes:
#:
#: - **Low-θ wall** (the r5 lesson): sign-LSH's exponent ρ→1 as θ→0, so
#:   at θ=0.4, n=10M the capped 64 tables achieve ~4% recall — LSH is a
#:   lottery, not a prefilter. Route EXACT (blocked matmul), as before.
#: - **High-θ, huge-n cap**: at θ=0.85 the cap first fires near
#:   n≈34M (b=18 needs 77 tables), where capped-T recall is still
#:   ~0.80–0.86 — a modest, loggable trade — while "exact" means
#:   n²/2 ≈ 5.6×10¹⁴ pair-scores: ~10⁵ core-hours at the measured
#:   208 ns/pair, infeasible on any cluster. Routing exact here is the
#:   real scale bug; route LSH best-effort (capped T, recall logged).
#:
#: 0.75 separates them with headroom on both sides: θ=0.85 caps enter
#: at achieved/target ≈ 0.95 and stay above 0.75 through n≈10⁹, while
#: every low-θ wall case measured or derivable sits below 0.2.
LSH_CAPPED_RECALL_FLOOR = 0.75


def _route(n_rows: int, threshold: float) -> tuple[str, int, int, bool]:
    """(route, b, t, near_flip) for a corpus of ``n_rows`` vectors at
    ``threshold`` — the whole decision of :func:`semantic_pairs_auto`
    as a pure function of (n, θ), so the crossover grid and the drift
    guard band are pinned without building a frame.

    ``route`` is "exact" or "lsh"; (b, t) are the
    :func:`lsh_auto_params` sizing the LSH route runs with; ``near_flip``
    says the decision lies within :data:`LSH_ROUTE_DRIFT_GUARD` of the
    boundary, where an estimated n must be resolved by a count.

    - **Wall**: when the recall target needs more than
      :data:`LSH_MAX_TABLES` tables AND the capped-T recall collapses
      below :data:`LSH_CAPPED_RECALL_FLOOR` × target (low θ: the LSH
      exponent ρ→1 as θ→0), LSH cannot be both selective and
      high-recall — exact. A cap whose capped-T recall still clears the
      floor (high θ, huge n) is a recall trade, not a wall: exact there
      is an infeasible n²/2 scan, so the margin rule decides with the
      capped T (the trade is logged by :func:`lsh_auto_params`).
    - **Margin**: LSH's candidate volume ≈ T·n·LSH_TARGET_BUCKET_ROWS/2
      (each table's buckets hold ~target rows). LSH only when that
      volume times :data:`LSH_ROUTE_MARGIN` is still below exact's
      n(n−1)/2 — the prefilter must pay for its explode + shuffle join
      + per-candidate verify.
    - **Guard band**: exact_pairs ∝ n², the LSH volume ∝ n·T (T near
      constant in n), so the decision ratio moves ~linearly with an n
      drift — a ±4× n guard is the ratio band [1/4, 4]."""
    b, t = lsh_auto_params(n_rows, threshold)
    p1 = 1.0 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
    need = math.log(1.0 / (1.0 - LSH_RECALL_TARGET))
    capped = math.ceil(need / max(p1**b, 1e-300)) > LSH_MAX_TABLES
    capped_recall = 1.0 - (1.0 - p1**b) ** t if capped else 1.0
    wall = capped_recall < LSH_CAPPED_RECALL_FLOOR * LSH_RECALL_TARGET
    exact_pairs = n_rows * (n_rows - 1) / 2.0
    margin_cost = t * n_rows * LSH_TARGET_BUCKET_ROWS / 2.0 * LSH_ROUTE_MARGIN
    route = "exact" if wall or margin_cost >= exact_pairs else "lsh"
    near_flip = (
        exact_pairs / LSH_ROUTE_DRIFT_GUARD
        <= margin_cost
        <= exact_pairs * LSH_ROUTE_DRIFT_GUARD
    )
    return route, b, t, near_flip


def semantic_pairs_auto(df: DataFrame, threshold: float) -> DataFrame:
    """Cosine near-dup pairs (id1 < id2, sim ≥ threshold) with the
    scale regime chosen by the ENGINE, not the user — the auto-routing
    front end over :func:`cosine_pairs_above` (exact, O(n²) blocked
    matmul) and :func:`lsh_neardup_pairs` (recall-trading prefilter).

    The decision is :func:`_route` on the Catalyst sizeInBytes row
    estimate (rows of :data:`EMBED_DIM` doubles; no full scan). Within
    :data:`LSH_ROUTE_DRIFT_GUARD` of the flip boundary, where the
    measured ~2.1× estimate drift (ROUTE_PROBE_r08) could cross the
    line, one exact ``count()`` — noise against either route at
    flip-scale n — re-decides with the true n.

    Crossover (measured — SCALING.md routing table): at θ=0.4 exact
    wins at every n — below n≈33k the margin rule rejects LSH (T≈58
    tables → more candidates than n²/2), above it the T-cap fires —
    matching the r5 measurement (LSH 608 s vs exact 19 s at n=20k);
    at θ=0.85 the margin rule holds exact through n=500k and flips to
    LSH by n=1M, where candidate volume (n·T·LSH_TARGET_BUCKET_ROWS/2
    ≈ n·T·128, ~22 µs/candidate measured) finally undercuts the n²/2
    matmul (~208 ns/pair measured) — the r7 head-to-head at n=20k,
    θ=0.85 (LSH 16.2 s vs
    exact 1.3 s) is what recalibrated :data:`LSH_ROUTE_MARGIN` from 4
    to 128. The chosen route is attached as ``_graft_route``
    ("exact" | "lsh") for tests and audits, with the n it was decided
    on (``_graft_route_n``) and whether the guard paid the count
    (``_graft_drift_count``); output schema is identical either way.
    """
    n_rows = _estimated_rows(df, EMBED_DIM)
    route, b, t, near_flip = _route(n_rows, threshold)
    if near_flip:
        n_rows = max(1, df.count())
        route, b, t, _ = _route(n_rows, threshold)
    if route == "exact":
        out = cosine_pairs_above(df, threshold)
    else:
        out = lsh_neardup_pairs(df, threshold, n_planes=b, n_tables=t)
    out._graft_route = route
    out._graft_route_n = n_rows
    out._graft_drift_count = near_flip
    return out


#: k-means training sample (rows, hash-ordered) and Lloyd iterations
#: of :func:`kmeans_centroids`
KMEANS_SAMPLE_ROWS = 8192
KMEANS_ITERS = 5


def kmeans_centroids(df: DataFrame, n_cells: int) -> np.ndarray:
    """Spherical k-means coarse quantizer for IVF, trained driver-side
    on a DETERMINISTIC hash-ordered sample (``TakeOrdered`` by
    xxhash64(id) → distributed partial top-N, driver holds only the
    sample). At 100 TB the training set stays
    :data:`KMEANS_SAMPLE_ROWS` no matter the corpus size; the centroid
    matrix (n_cells × dim doubles) ships to executors inside a closure.
    Returns L2-normalized centroids. The offline fit behind
    ``functions.ivf_centroids.IVF_PINNED_CENTROIDS``."""
    sample = (
        df.select("vec_id", "embedding")
        .orderBy(
            F.pmod(F.xxhash64(F.col("vec_id")), F.lit(1_000_003)), F.col("vec_id")
        )
        .limit(KMEANS_SAMPLE_ROWS)
        .collect()
    )
    x = np.asarray([r[1] for r in sample], dtype=np.float64)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    rng = np.random.RandomState(SEED)
    cents = x[rng.choice(len(x), size=min(n_cells, len(x)), replace=False)]
    for _ in range(KMEANS_ITERS):
        assign = np.argmax(x @ cents.T, axis=1)
        for c in range(len(cents)):
            members = x[assign == c]
            if len(members):  # empty cell keeps its old centroid
                cents[c] = members.mean(axis=0)
        cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    return cents


def _cell_assign_udf(cents: np.ndarray, nprobe: int):
    """Arrow-batched top-``nprobe`` cell ids per vector (one matmul per
    batch). nprobe=1 is corpus-side assignment; >1 is query-side
    probing."""
    from pyspark.sql.pandas.functions import pandas_udf

    @pandas_udf("array<int>")
    def _cells(vecs: pd.Series) -> pd.Series:
        v = np.asarray(vecs.tolist(), dtype=np.float64)
        norms = np.linalg.norm(v, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0  # zero vector → sims all 0, cells 0..nprobe-1
        v /= norms
        sims = v @ cents.T  # (n, n_cells)
        # stable sort on -sims: exact dot-product ties resolve
        # cell-ascending, matching the oracle's ORDER BY s DESC, cell
        top = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe].astype(np.int32)
        return pd.Series(list(top))

    return _cells


#: IVF probe width: each query probes its IVF_NPROBE closest cells,
#: each corpus vector is indexed under its IVF_N_ASSIGN closest. The
#: DuckDB twin (``queries_ext._ann_ivf_oracle``) mirrors both.
IVF_NPROBE = 6
IVF_N_ASSIGN = 3


def ivf_topk(
    queries: DataFrame, corpus: DataFrame, cents: np.ndarray, k: int = 5
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) index — the
    data-dependent sibling of :func:`lsh_bucket_topk`.

    ``cents``: the quantizer matrix (n_cells × dim, unit rows), trained
    offline by :func:`kmeans_centroids` and reused across probes — the
    production shape, and the oracle-exactness shape: q_ann_ivf_topk
    passes the committed functions.ivf_centroids.IVF_PINNED_CENTROIDS
    so the DuckDB twin re-derives every cell assignment from the same
    literals.

    Shape (the 100 TB path): the corpus is indexed under its
    :data:`IVF_N_ASSIGN` nearest cells in ONE vectorized projection
    (multi-assignment — the IVF analogue of LSH's OR-amplification);
    each query probes its :data:`IVF_NPROBE` closest cells. Candidates
    come from a single (cell) equi-join — the corpus is
    hash-partitioned by cell, never cross-joined — deduped (a pair can
    meet in up to IVF_N_ASSIGN cells), then pay one exact re-rank.

    Cost ≈ IVF_NPROBE · IVF_N_ASSIGN / n_cells of the corpus per query.
    The constants are tuned for the UNIFORM synthetic test embeddings —
    the adversarial case, where neighbors are barely closer than random
    points so high coverage is required for recall. Real clustered
    embeddings want a quantizer with many more cells and lower
    constants (e.g. 4/1) for sublinear probing at the same recall; a
    retune edits the constants and the oracle's mirror together.

    Output contract identical to :func:`cosine_topk` (sim HALF_UP round
    6 before rank, ties by neighbor_id, self excluded).
    """
    c_cells = _cell_assign_udf(cents, IVF_N_ASSIGN)
    q_cells = _cell_assign_udf(cents, IVF_NPROBE)

    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("__cv"),
        F.explode(c_cells(F.col("embedding"))).alias("__cell"),
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("__qv"),
        F.explode(q_cells(F.col("embedding"))).alias("__cell"),
    )
    scored = (
        c.join(F.broadcast(q), on="__cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "__qv", "__cv")
        .dropDuplicates(["query_id", "neighbor_id"])
        .withColumn("sim", F.round(cosine_udf()(F.col("__qv"), F.col("__cv")), 6))
    )
    return _rank_topk(scored, k)


def hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    """Seed-derived constant hyperplane matrix (driver-side, tiny —
    shipped to executors as literals inside the plan)."""
    rng = random.Random(seed)
    return [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)
    ]


def hyperplane_tables(
    dim: int, n_planes: int, n_tables: int, seed: int
) -> list[list[list[float]]]:
    """The ``n_tables`` independent hyperplane sets of one LSH index —
    table t draws from ``seed + 1000·t``. The one definition shared by
    :func:`lsh_neardup_pairs`, :func:`lsh_bucket_topk` and the DuckDB
    oracles that re-derive their buckets
    (``queries_ext._lsh_bucket_union_sql``)."""
    return [
        hyperplanes(dim, n_planes, seed + 1000 * t) for t in range(n_tables)
    ]


def _bucket_index(df: DataFrame, tables: list[list[list[float]]]) -> DataFrame:
    """The hyperplane bucket index ``(__id, __band, __key)``: one row
    per (vector, table), ``__band`` the table number and ``__key`` the
    vector's bucket in it — :func:`all_buckets_udf` computes every
    table's bucket in ONE projection, ``posexplode`` spreads them."""
    return df.select(
        F.col("vec_id").alias("__id"),
        F.posexplode(all_buckets_udf(tables)(F.col("embedding"))).alias(
            "__band", "__key"
        ),
    )


def all_buckets_udf(tables: list[list[list[float]]]):
    """Arrow-batched bucket computation: ONE numpy matmul per batch
    yields every table's bucket id. Higher-order array expressions are
    interpreted per-row (≈2 ms/row for 8×4 planes — unusable at scale);
    the vectorized path is ~100× faster and is the sanctioned
    Pandas-UDF use: embedding math the built-ins can't express
    efficiently. Sign convention matches the DuckDB oracles'
    ``queries_ext._lsh_bucket_union_sql`` (proj ≥ 0 → bit 2ⁱ set);
    fp-summation-order differences can flip a bucket only for vectors
    lying exactly on a hyperplane."""
    from pyspark.sql.pandas.functions import pandas_udf

    n_tables = len(tables)
    n_planes = len(tables[0])
    # (dim, n_tables*n_planes), column-major by table
    mat = np.asarray(
        [plane for table in tables for plane in table], dtype=np.float64
    ).T
    weights = (2 ** np.arange(n_planes, dtype=np.int64)).reshape(1, n_planes)

    @pandas_udf("array<long>")
    def _buckets(vecs: pd.Series) -> pd.Series:
        v = np.asarray(vecs.tolist(), dtype=np.float64)  # (n, dim)
        bits = (v @ mat) >= 0.0  # (n, T*b)
        per_table = bits.reshape(len(v), n_tables, n_planes)
        ids = (per_table * weights).sum(axis=2)  # (n, T)
        return pd.Series(list(ids))

    return _buckets


def lsh_bucket_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_planes: int = 12,
    n_tables: int = 1,
) -> DataFrame:
    """Approximate top-k: equi-join on LSH bucket then exact re-rank.
    Scale path — the corpus is hash-partitioned by bucket, never
    cross-joined.

    ``n_tables`` > 1 enables OR-amplification: independent hyperplane
    sets; a pair is a candidate if it collides in ANY table. Recall for
    a pair at per-plane collision probability p is 1-(1-p^b)^T instead
    of p^b — the standard recall/cost dial.

    Physical shape (the 100 TB path): each side's :func:`_bucket_index`
    computes ALL table buckets in ONE projection, then explodes to
    (table, bucket) rows — the plane dot products run once per input
    row, not once per table. A single equi-join on (table, bucket)
    replaces T separate joins (one shuffle; per-bucket skew handled by
    AQE skew-join). Candidates are deduped before the exact re-rank,
    so each pair is scored once.
    """
    tables = hyperplane_tables(EMBED_DIM, n_planes, n_tables, SEED)
    q_index = _bucket_index(queries, tables)
    c_index = _bucket_index(corpus, tables)
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("__qv")
    )
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("__cv")
    )
    cand = (
        c_index.withColumnRenamed("__id", "neighbor_id")
        .join(
            F.broadcast(q_index.withColumnRenamed("__id", "query_id")),
            on=["__band", "__key"],
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = (
        cand.join(F.broadcast(q), on="query_id")
        .join(c, on="neighbor_id")
        .withColumn("sim", F.round(cosine_udf()(F.col("__qv"), F.col("__cv")), 6))
    )
    return _rank_topk(scored, k)
