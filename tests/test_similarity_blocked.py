"""Chunk/block-path coverage for the exact similarity operators
(ADVICE r2: the multi-chunk merge was never exercised — every
test table is smaller than QUERY_CHUNK_ROWS). Forces tiny
chunk/block sizes (by monkeypatching QUERY_CHUNK_ROWS / BLOCK_ROWS)
so the merge logic actually runs, and asserts bit-equality with the
single-chunk and pure-expression baselines."""

from __future__ import annotations

from pyspark.sql import functions as F

from kaggle_ecommerce_etl_spark.functions import similarity as S
from kaggle_ecommerce_etl_spark.functions.similarity import (
    cosine_expr,
    cosine_pairs_above,
    cosine_self_topk_blocked,
    cosine_topk,
    cosine_topk_matmul,
)
from kaggle_ecommerce_etl_spark.queries_common import _t


def _emb(spark, sf_dir, n=120):
    return _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < n)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_matmul_chunked_equals_single_chunk(spark, sf_dir, monkeypatch):
    emb = _emb(spark, sf_dir)
    single = cosine_topk_matmul(emb, emb, k=3)
    monkeypatch.setattr(S, "QUERY_CHUNK_ROWS", 7)
    chunked = cosine_topk_matmul(emb, emb, k=3)
    assert _rows(single) == _rows(chunked)


def test_self_blocked_equals_matmul_and_window_baseline(
    spark, sf_dir, monkeypatch
):
    emb = _emb(spark, sf_dir)
    blocked1 = cosine_self_topk_blocked(emb, k=3)
    monkeypatch.setattr(S, "BLOCK_ROWS", 17)
    blockedN = cosine_self_topk_blocked(emb, k=3)
    matmul = cosine_topk_matmul(emb, emb, k=3)
    assert _rows(blocked1) == _rows(blockedN) == _rows(matmul)
    # spot-check against the broadcast-join baseline too
    baseline = cosine_topk(emb.filter(F.col("vec_id") < 10), emb, k=3)
    got = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in blockedN.filter(F.col("query_id") < 10).collect()
    }
    for r in baseline.collect():
        assert got[(r["query_id"], r["rank"])] == r["neighbor_id"]


def _brute_pairs(emb, threshold):
    """The pair-expression cross join ``cosine_pairs_above`` must match."""
    a = emb.select(F.col("vec_id").alias("id1"), F.col("embedding").alias("v1"))
    b = emb.select(F.col("vec_id").alias("id2"), F.col("embedding").alias("v2"))
    return (
        a.join(b, F.col("id1") < F.col("id2"))
        .withColumn("sim", F.round(cosine_expr(F.col("v1"), F.col("v2")), 6))
        .filter(F.col("sim") >= threshold)
        .select("id1", "id2", "sim")
    )


def test_pairs_above_chunked_equals_bruteforce(spark, sf_dir, monkeypatch):
    emb = _emb(spark, sf_dir)
    monkeypatch.setattr(S, "QUERY_CHUNK_ROWS", 7)
    chunked = cosine_pairs_above(emb, 0.4)
    assert _rows(chunked) == _rows(_brute_pairs(emb, 0.4))


def test_self_blocked_no_full_count_at_construction(monkeypatch, spark, sf_dir):
    """Block-grid sizing must not run a full-scan count() while the
    plan is being BUILT (at 100 TB that's an extra pass per query):
    construction may only probe one row for the dim + read Catalyst
    size stats. Results stay exact under any grid."""
    from pyspark.sql import DataFrame

    def _boom(self):
        raise AssertionError("full count() during plan construction")

    emb = _emb(spark, sf_dir)
    expected = _rows(cosine_self_topk_blocked(emb, k=2))
    monkeypatch.setattr(DataFrame, "count", _boom)
    out = cosine_self_topk_blocked(emb, k=2)  # would raise pre-fix
    monkeypatch.undo()
    assert _rows(out) == expected


def test_lsh_auto_params_sizing_math():
    """b tracks log2(n/target) so bucket occupancy stays bounded; T
    compensates recall at high θ with small table counts; low θ hits
    the documented routing wall (T capped + warning)."""
    import math

    from kaggle_ecommerce_etl_spark.functions.similarity import lsh_auto_params

    # small corpora keep the committed small-scale default b=3
    assert lsh_auto_params(500, 0.9)[0] == 3
    # b grows with n: bucket occupancy n/2^b stays within 2x of target
    for n in (10_000, 100_000, 10_000_000):
        b, t = lsh_auto_params(n, 0.9)
        assert n / 2**b <= 256 < 2 * (n / 2**b) or n <= 256
        # high-θ regime: table count stays practical
        assert t <= 64
    # recall identity holds at the chosen (b, T) for θ=0.9
    b, t = lsh_auto_params(100_000, 0.9)
    p1 = 1 - math.acos(0.9) / math.pi
    assert 1 - (1 - p1**b) ** t >= 0.9
    # the low-θ wall: T saturates the cap (routing warning case)
    b_low, t_low = lsh_auto_params(10_000_000, 0.4)
    assert t_low == 64


def test_pinned_ivf_centroids_invariants():
    """The committed IVF quantizer (functions/ivf_centroids.py) must
    stay a valid spherical-k-means artifact: 16 unit-norm 64-d rows,
    pairwise distinct. Guards against a truncated or denormalized
    refit being committed — the oracle SQL re-derives cell assignments
    from these exact literals, so a bad matrix silently degrades
    recall while staying 'hash-exact'."""
    import numpy as np

    from kaggle_ecommerce_etl_spark.functions.ivf_centroids import (
        IVF_DIM,
        IVF_N_CELLS,
        IVF_PINNED_CENTROIDS,
    )

    m = np.asarray(IVF_PINNED_CENTROIDS, dtype=np.float64)
    assert m.shape == (IVF_N_CELLS, IVF_DIM) == (16, 64)
    norms = np.linalg.norm(m, axis=1)
    assert np.allclose(norms, 1.0, atol=1e-9), "centroids not unit-norm"
    sims = m @ m.T
    np.fill_diagonal(sims, 0.0)
    assert sims.max() < 0.999, "duplicate/collapsed centroids"


def _cache_manager_is_empty(spark):
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_pairs_above_leaves_cache_manager_empty(spark, sf_dir, monkeypatch):
    """The corpus projection is a lazy ``localCheckpoint``, not a
    ``persist``: building and collecting the pairs adds nothing to the
    session's ``CacheManager``, so no caller has anything to release.

    Only the ``CacheManager`` half of ``assert_cache_released`` applies
    here: a ``localCheckpoint`` RDD sits in ``getPersistentRDDs()``
    until the JVM garbage-collects the frame that holds it, so "no new
    persisted RDD" cannot hold while the result is alive (SCALING.md,
    the ``localCheckpoint`` ledger's exact-pairs entry)."""
    spark.catalog.clearCache()
    emb = _emb(spark, sf_dir)
    monkeypatch.setattr(S, "QUERY_CHUNK_ROWS", 7)
    pairs = cosine_pairs_above(emb, 0.4)
    assert _cache_manager_is_empty(spark)
    assert _rows(pairs) == _rows(_brute_pairs(emb, 0.4))
    assert _cache_manager_is_empty(spark)


def test_pairs_above_chunk_loop_failure_leaves_cache_manager_empty(
    spark, sf_dir, monkeypatch
):
    """A chunk loop that fails after its first chunk has filled the
    checkpoint leaves the ``CacheManager`` empty too: there is no
    release path to miss. Only the ``CacheManager`` half of
    ``assert_cache_released`` applies, for the reason in
    :func:`test_pairs_above_leaves_cache_manager_empty`."""
    import pytest

    real_chunks = S._query_chunks

    def one_chunk_then_fail(*args, **kwargs):
        for chunk in real_chunks(*args, **kwargs):
            yield chunk
            raise RuntimeError("chunk loop failed")

    spark.catalog.clearCache()
    monkeypatch.setattr(S, "_query_chunks", one_chunk_then_fail)
    monkeypatch.setattr(S, "QUERY_CHUNK_ROWS", 7)
    with pytest.raises(RuntimeError, match="chunk loop failed"):
        S.cosine_pairs_above(_emb(spark, sf_dir), 0.4)
    assert _cache_manager_is_empty(spark)


def test_pairs_above_back_to_back_frames_equal_bruteforce(
    spark, sf_dir, monkeypatch
):
    """Two pair frames built back to back, before either is collected,
    each keep their own projection: both collect the brute-force rows
    (distinct inputs, thresholds and chunk sizes, so neither can borrow
    the other's plan)."""
    emb = _emb(spark, sf_dir)
    evens = emb.where("vec_id % 2 = 0")
    monkeypatch.setattr(S, "QUERY_CHUNK_ROWS", 7)
    first = cosine_pairs_above(emb, 0.4)
    monkeypatch.undo()
    second = cosine_pairs_above(evens, 0.3)
    assert _rows(second) == _rows(_brute_pairs(evens, 0.3))
    assert _rows(first) == _rows(_brute_pairs(emb, 0.4))


def test_similarity_construction_jobs(construction_jobs):
    """Spark jobs each embedding-similarity / LSH registry query runs
    while its DataFrame is BUILT (sf0.001, ``_t``'s schema cache warm,
    so no parquet footer read): the driver-side chunk stream of the
    matmul paths, the dimension probe of the block grid, the eager
    banded-index and dup_clusters checkpoints. Pinned so a
    construction-time side effect cannot grow unnoticed."""
    pins = {
        "cosine_topk": 1,
        "embedding_nearest": 2,
        "ann_lsh_topk": 0,
        "ann_ivf_topk": 0,
        "embedding_neardup_pairs": 1,
        "embedding_neardup_lsh": 1,
        "semantic_dedup_keep": 3,
        "semantic_dedup_auto": 3,
        "lsh_candidate_pairs": 2,
        "dup_clusters": 6,
        "corpus_pipeline": 6,
    }
    got = {name: construction_jobs(name) for name in pins}
    assert got == pins


def test_cell_assign_tiebreak_and_zero_norm():
    """_cell_assign_udf must rank tied cells ascending (matching the
    oracle's ORDER BY s DESC, cell) and survive zero vectors (ADVICE
    r6: unstable argsort + NaN from 0/0 diverge from the oracle)."""
    import numpy as np

    # two identical centroids → exact tie; stable argsort keeps cell 0
    # first. Exercise the inner numpy logic directly (the pandas_udf
    # wrapper only adds Arrow plumbing).
    cents = np.asarray([[1.0, 0.0], [1.0, 0.0], [0.0, 1.0]])
    v = np.asarray([[2.0, 0.0], [0.0, 0.0]])  # second row: zero vector
    norms = np.linalg.norm(v, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    v = v / norms
    sims = v @ cents.T
    top = np.argsort(-sims, axis=1, kind="stable")[:, :2]
    assert top[0].tolist() == [0, 1], "tie must resolve cell-ascending"
    # zero vector: sims all 0 → ties across ALL cells → cells 0..k-1
    assert top[1].tolist() == [0, 1]
    assert not np.isnan(sims).any()


def test_semantic_pairs_auto_routing(spark, sf_dir, monkeypatch):
    """The auto router must pick EXACT in the low-θ regime (the r5
    608s-vs-19s lesson: LSH at θ=0.4 is never selective AND
    high-recall) and LSH in the high-θ/large-n regime where the
    occupancy estimate says the prefilter pays for itself. The grid is
    pinned on the pure route function ``_route(n, θ)``; output schema
    is identical either way."""
    emb = _t(spark, sf_dir, "embeddings")
    # testdata regime: a few hundred vectors, θ=0.4 → exact (margin rule)
    pairs = S.semantic_pairs_auto(emb, threshold=0.4)
    assert pairs._graft_route == "exact"
    assert pairs.columns == ["id1", "id2", "sim"]
    # low-θ: exact at ALL n (T-cap wall — as θ→0 the LSH exponent
    # ρ→1, so the recall target needs T>LSH_MAX_TABLES at any useful
    # n; below the cap boundary the margin rule rejects LSH anyway)
    for n_low in (500, 20_000, 200_000, 2_000_000, 10_000_000):
        assert S._route(n_low, 0.4)[0] == "exact", f"θ=0.4 n={n_low}"
    # high-θ at MODERATE n must also route exact — the r7 measured
    # misroute: at n=20k, θ=0.85 LSH ran 16.2 s vs 1.3 s exact (the
    # matmul's cost is θ-independent; LSH's per-candidate overhead is
    # ~100× a matmul pair-score). LSH_ROUTE_MARGIN=128 encodes that;
    # this grid IS the crossover pin (VERDICT r7 #4) — editing the
    # margin or the n·T·LSH_TARGET_BUCKET_ROWS/2 candidate-volume
    # formula without re-deriving the measured crossovers fails here.
    for n_mid in (500, 20_000, 200_000, 500_000):
        assert S._route(n_mid, 0.85)[0] == "exact", f"θ=0.85 n={n_mid}"
    # high-θ, large corpus: LSH engages (b,T sized, uncapped, and the
    # n·T·128 candidate volume finally undercuts n²/2 even at the
    # measured ~100× per-candidate cost gap); 2M doubly inside
    for n_large in (1_000_000, 2_000_000):
        route, _, t, _ = S._route(n_large, 0.85)
        assert route == "lsh" and t < S.LSH_MAX_TABLES, n_large
    # T-cap disambiguation (r9): at θ=0.85 the cap first fires near
    # n≈34M (b=18 needs 77 > 64 tables) but capped-T recall is still
    # ~0.80-0.86 — a recall TRADE, not the low-θ wall. Exact there is
    # n²/2 ≈ 5.6e14 pair-scores (~10⁵ core-hours at the measured
    # 208 ns/pair) — infeasible at any cluster size — so the router
    # must stay LSH (best-effort, trade logged). At θ=0.4 the capped
    # recall is ~4% = wall → exact.
    for n_huge in (40_000_000, 100_000_000):
        route, _, t, _ = S._route(n_huge, 0.85)
        assert (route, t) == ("lsh", S.LSH_MAX_TABLES), n_huge
    route, _, t, _ = S._route(10_000_000, 0.4)
    assert (route, t) == ("exact", S.LSH_MAX_TABLES)
    # the LSH route builds and runs on the small corpus when the
    # estimate reads large (10M: LSH, outside the drift-guard band) —
    # recall is the only trade
    monkeypatch.setattr(S, "_estimated_rows", lambda df, dim: 10_000_000)
    lsh = S.semantic_pairs_auto(emb, threshold=0.85)
    assert lsh._graft_route == "lsh"
    assert lsh._graft_drift_count is False
    assert lsh.columns == ["id1", "id2", "sim"]
    assert lsh.count() >= 0


def test_semantic_router_drift_guard(spark, sf_dir, monkeypatch):
    """Estimate-drift guard near the route flip (VERDICT r8 watch-item
    1 / next-round #2). Calibration fact this pins: ROUTE_PROBE_r08
    measured the Catalyst sizeInBytes row estimate at ~2.1× UNDER true
    n at both n=20k and n=200k — safe today (under-reads bias toward
    exact, the cheap-to-be-wrong side) but one layout change away from
    holding exact past the ~1M flip where LSH wins 5×+. The router
    must therefore resolve any ESTIMATED decision landing within
    LSH_ROUTE_DRIFT_GUARD (4×, ~2× headroom over the measured drift)
    of the boundary with one true count().

    The guard band is pinned on the pure ``_route`` (its ``near_flip``
    flag), and its behavioral contract on the real corpus: an estimate
    far from the flip pays no count, and an estimate inside the band
    pays one count and re-decides from the counted n."""
    assert S.LSH_ROUTE_DRIFT_GUARD == 4.0  # measured 2.1× drift × ~2 safety

    # The θ=0.85 flip sits between 700k and 800k (crossover grid
    # above). The guard band must cover the measured 2.1× drift on
    # BOTH sides of the flip: a true-n=2M corpus and its 2.1× under-read
    # (~950k) both land inside it → count() fires → true n re-routes.
    # Far outside the band (500 rows, or 100M where the decision ratio
    # is ~48), no count.
    for n in (950_000, 2_000_000):
        assert S._route(n, 0.85)[3], n
    for n in (500, 100_000_000):
        assert not S._route(n, 0.85)[3], n

    emb = _t(spark, sf_dir, "embeddings")
    # Estimated-n path far from the flip: the route comes from the
    # size estimate alone — the guard must NOT fire.
    auto = S.semantic_pairs_auto(emb, threshold=0.85)
    assert auto._graft_route == "exact"
    assert auto._graft_drift_count is False
    # An estimate inside the band (950k reads LSH) pays the count and
    # routes from the true corpus size, which is exact.
    monkeypatch.setattr(S, "_estimated_rows", lambda df, dim: 950_000)
    guarded = S.semantic_pairs_auto(emb, threshold=0.85)
    assert guarded._graft_drift_count is True
    assert guarded._graft_route_n == emb.count()
    assert guarded._graft_route == "exact"
