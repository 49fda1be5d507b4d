"""Chunk/block-path coverage for the exact similarity operators
(ADVICE r2: the multi-chunk merge was never exercised — every
test table is smaller than QUERY_CHUNK_ROWS). Forces tiny
chunk/block sizes so the merge logic actually runs, and asserts
bit-equality with the single-chunk and pure-expression baselines."""

from __future__ import annotations

from pyspark.sql import functions as F

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


def test_matmul_chunked_equals_single_chunk(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    single = cosine_topk_matmul(emb, emb, k=3)
    chunked = cosine_topk_matmul(emb, emb, k=3, chunk_rows=7)
    assert _rows(single) == _rows(chunked)


def test_self_blocked_equals_matmul_and_window_baseline(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    blocked1 = cosine_self_topk_blocked(emb, k=3)
    blockedN = cosine_self_topk_blocked(emb, k=3, block_rows=17)
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


def test_pairs_above_chunked_equals_bruteforce(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    chunked = cosine_pairs_above(emb, 0.4, chunk_rows=7)
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
    # explicit n_rows/dim → zero driver actions at construction
    monkeypatch.setattr(DataFrame, "count", _boom)
    monkeypatch.setattr(DataFrame, "head", _boom)
    monkeypatch.setattr(DataFrame, "take", _boom)
    out2 = cosine_self_topk_blocked(emb, k=2, n_rows=200, dim=16)
    monkeypatch.undo()
    assert _rows(out2) == expected


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


def test_lsh_neardup_auto_equals_explicit_params(spark, sf_dir):
    """n_planes="auto" must be a pure re-parameterization: same output
    as calling with the (b, T) the sizing rule derives."""
    from kaggle_ecommerce_etl_spark.functions.similarity import (
        lsh_auto_params,
        lsh_neardup_pairs,
    )

    emb = _emb(spark, sf_dir)
    n = emb.count()
    b, t = lsh_auto_params(n, 0.4)
    auto = lsh_neardup_pairs(emb, 0.4, n_planes="auto", n_rows=n)
    explicit = lsh_neardup_pairs(emb, 0.4, n_planes=b, n_tables=t)
    assert _rows(auto) == _rows(explicit)


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


def test_pairs_above_leaves_cache_manager_empty(spark, sf_dir):
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
    pairs = cosine_pairs_above(emb, 0.4, chunk_rows=7)
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

    from kaggle_ecommerce_etl_spark.functions import similarity as S

    real_chunks = S._query_chunks

    def one_chunk_then_fail(*args, **kwargs):
        for chunk in real_chunks(*args, **kwargs):
            yield chunk
            raise RuntimeError("chunk loop failed")

    spark.catalog.clearCache()
    monkeypatch.setattr(S, "_query_chunks", one_chunk_then_fail)
    with pytest.raises(RuntimeError, match="chunk loop failed"):
        S.cosine_pairs_above(_emb(spark, sf_dir), 0.4, chunk_rows=7)
    assert _cache_manager_is_empty(spark)


def test_pairs_above_back_to_back_frames_equal_bruteforce(spark, sf_dir):
    """Two pair frames built back to back, before either is collected,
    each keep their own projection: both collect the brute-force rows
    (distinct inputs and thresholds, so neither can borrow the other's
    plan)."""
    emb = _emb(spark, sf_dir)
    evens = emb.where("vec_id % 2 = 0")
    first = cosine_pairs_above(emb, 0.4, chunk_rows=7)
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
        "semantic_dedup_keep": 5,
        "semantic_dedup_auto": 5,
        "lsh_candidate_pairs": 2,
        "dup_clusters": 8,
        "corpus_pipeline": 8,
    }
    got = {name: construction_jobs(name) for name in pins}
    assert got == pins


def test_cell_assign_tiebreak_and_zero_norm():
    """_cell_assign_udf must rank tied cells ascending (matching the
    oracle's ORDER BY s DESC, cell) and survive zero vectors (ADVICE
    r6: unstable argsort + NaN from 0/0 diverge from the oracle)."""
    import numpy as np

    from kaggle_ecommerce_etl_spark.functions import similarity as S

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


def test_semantic_pairs_auto_routing(spark, sf_dir):
    """The auto router must pick EXACT in the low-θ regime (the r5
    608s-vs-19s lesson: LSH at θ=0.4 is never selective AND
    high-recall) and LSH in the high-θ/large-n regime where the
    occupancy estimate says the prefilter pays for itself. Output
    schema is identical either way."""
    from kaggle_ecommerce_etl_spark.functions.similarity import (
        semantic_pairs_auto,
    )

    emb = _t(spark, sf_dir, "embeddings")
    # sf0.01 regime: 500 vectors, θ=0.4 → exact (margin rule)
    pairs = semantic_pairs_auto(emb, threshold=0.4)
    assert pairs._graft_route == "exact"
    assert pairs.columns == ["id1", "id2", "sim"]
    # low-θ: exact at ALL n (T-cap wall — as θ→0 the LSH exponent
    # ρ→1, so the recall target needs T>max_tables at any useful n;
    # below the cap boundary the margin rule rejects LSH anyway)
    for n_low in (500, 20_000, 200_000, 2_000_000, 10_000_000):
        capped = semantic_pairs_auto(emb, threshold=0.4, n_rows=n_low)
        assert capped._graft_route == "exact", f"θ=0.4 n={n_low}"
    # high-θ at MODERATE n must also route exact — the r7 measured
    # misroute: at n=20k, θ=0.85 LSH ran 16.2 s vs 1.3 s exact (the
    # matmul's cost is θ-independent; LSH's per-candidate overhead is
    # ~100× a matmul pair-score). LSH_ROUTE_MARGIN=128 encodes that;
    # this grid IS the crossover pin (VERDICT r7 #4) — editing the
    # margin or the n·T·target_bucket_rows/2 candidate-volume formula
    # without re-deriving the measured crossovers fails here.
    for n_mid in (500, 20_000, 200_000, 500_000):
        mid = semantic_pairs_auto(emb, threshold=0.85, n_rows=n_mid)
        assert mid._graft_route == "exact", f"θ=0.85 n={n_mid}"
    # high-θ, large corpus: LSH engages (b,T sized, uncapped, and the
    # n·T·128 candidate volume finally undercuts n²/2 even at the
    # measured ~100× per-candidate cost gap); 2M doubly inside
    lsh = semantic_pairs_auto(emb, threshold=0.85, n_rows=1_000_000)
    assert lsh._graft_route == "lsh"
    lsh2m = semantic_pairs_auto(emb, threshold=0.85, n_rows=2_000_000)
    assert lsh2m._graft_route == "lsh"
    # T-cap disambiguation (r9): at θ=0.85 the cap first fires near
    # n≈34M (b=18 needs 77 > 64 tables) but capped-T recall is still
    # ~0.80-0.86 — a recall TRADE, not the low-θ wall. Exact there is
    # n²/2 ≈ 5.6e14 pair-scores (~10⁵ core-hours at the measured
    # 208 ns/pair) — infeasible at any cluster size — so the router
    # must stay LSH (best-effort, trade logged). The θ=0.4 grid above
    # pins the opposite case: capped recall ~4% = wall → exact.
    from kaggle_ecommerce_etl_spark.functions.similarity import (
        LSH_CAPPED_RECALL_FLOOR,
        _route_inputs,
    )

    for n_huge in (40_000_000, 100_000_000):
        _, _, capped, rec, _, _ = _route_inputs(n_huge, 0.85, 256, 0.9, 64)
        assert capped and rec >= LSH_CAPPED_RECALL_FLOOR * 0.9, n_huge
        huge = semantic_pairs_auto(emb, threshold=0.85, n_rows=n_huge)
        assert huge._graft_route == "lsh", f"θ=0.85 n={n_huge}"
    _, _, capped_low, rec_low, _, _ = _route_inputs(
        10_000_000, 0.4, 256, 0.9, 64
    )
    assert capped_low and rec_low < LSH_CAPPED_RECALL_FLOOR * 0.9
    assert lsh.columns == ["id1", "id2", "sim"]
    # the LSH plan is still runnable on the small corpus it was
    # (deliberately mis-)sized for — recall is the only trade
    assert lsh.count() >= 0


def test_semantic_router_drift_guard(spark, sf_dir):
    """Estimate-drift guard near the route flip (VERDICT r8 watch-item
    1 / next-round #2). Calibration fact this pins: ROUTE_PROBE_r08
    measured the Catalyst sizeInBytes row estimate at ~2.1× UNDER true
    n at both n=20k and n=200k — safe today (under-reads bias toward
    exact, the cheap-to-be-wrong side) but one layout change away from
    holding exact past the ~1M flip where LSH wins 5×+. The router
    must therefore resolve any ESTIMATED decision landing within
    LSH_ROUTE_DRIFT_GUARD (4×, ~2× headroom over the measured drift)
    of the boundary with one true count().

    The guard's trigger arithmetic is tested directly on
    ``_route_inputs`` (pure), and its behavioral contract on the real
    corpus: estimated-n routing on sf0.01 (500 vectors, decision ratio
    orders of magnitude from the flip) must NOT pay a count — pinned
    by the route still being computed from the (deliberately wrong)
    size-based estimate — while an explicit n_rows must NEVER trigger
    the count (the crossover grid above passes n up to 10M on a
    500-row frame and would break otherwise)."""
    from kaggle_ecommerce_etl_spark.functions.similarity import (
        LSH_ROUTE_DRIFT_GUARD,
        LSH_ROUTE_MARGIN,
        _route_inputs,
        semantic_pairs_auto,
    )

    assert LSH_ROUTE_DRIFT_GUARD == 4.0  # measured 2.1× drift × ~2 safety

    def ratio(n):
        _, _, capped, _, exact_pairs, lsh_candidates = _route_inputs(
            n, 0.85, 256, 0.9, 64
        )
        return capped, exact_pairs / (lsh_candidates * LSH_ROUTE_MARGIN)

    # The θ=0.85 flip sits between 500k and 1M (crossover grid above;
    # ratio=1 crosses between 700k and 800k). The guard band [1/4, 4]
    # must cover the measured 2.1× drift on BOTH sides of the flip: a
    # 2.1× under-read of a true-n=2M corpus reads ~950k — inside the
    # band → count() fires → true n re-routes. Outside the band (500
    # rows, or 100M where the ratio is ~48), no count.
    capped_small, r_small = ratio(500)
    assert not capped_small and r_small < 1 / LSH_ROUTE_DRIFT_GUARD
    capped_950k, r_950k = ratio(950_000)
    assert not capped_950k
    assert 1 / LSH_ROUTE_DRIFT_GUARD <= r_950k <= LSH_ROUTE_DRIFT_GUARD
    _, r_100m = ratio(100_000_000)
    assert r_100m > LSH_ROUTE_DRIFT_GUARD

    emb = _t(spark, sf_dir, "embeddings")
    # Estimated-n path far from the flip: route must come from the
    # size estimate alone — the guard must NOT fire (asserted via the
    # audit attribute) and the route is exact at this n.
    auto = semantic_pairs_auto(emb, threshold=0.85)
    assert auto._graft_route == "exact"
    assert auto._graft_drift_count is False
    # Explicit n_rows disables the guard even inside the band: a
    # 950k claim on a 500-row frame must still route from 950k
    # (LSH — ratio 1.21, just past the ~750k flip), not from a
    # counted 500 (which would read exact).
    pinned = semantic_pairs_auto(emb, threshold=0.85, n_rows=950_000)
    assert pinned._graft_route == "lsh"
    assert pinned._graft_drift_count is False
    assert pinned._graft_route_n == 950_000
