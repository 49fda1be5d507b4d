"""Near-dup detection tests (minhash / simhash / jaccard)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kaggle_ecommerce_etl_spark.functions import dedup_ml as D
from kaggle_ecommerce_etl_spark.functions.dedup_ml import (
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_from_hashes,
    simhash_hashes_expr,
)


def _docs(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),  # near-dup of 1
            (3, "completely different content entirely here now"),
            (4, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        ],
        ["doc_id", "text"],
    )


def test_minhash_identical_docs_identical_sigs(spark):
    sigs = {r.doc_id: tuple(r)[1:] for r in minhash_signatures(_docs(spark)).collect()}
    assert sigs[1] == sigs[4]          # exact dup → identical signature
    assert sigs[1] != sigs[3]          # different doc → different signature
    # near-dup shares at least one minhash component
    shared = sum(1 for a, b in zip(sigs[1], sigs[2]) if a == b)
    assert shared >= 1


def test_lsh_pairs_catch_exact_dup(spark):
    sigs = minhash_signatures(_docs(spark))
    pairs = {(r.id1, r.id2) for r in lsh_candidate_pairs(sigs).collect()}
    assert (1, 4) in pairs             # identical docs always share all bands
    assert all(a < b for a, b in pairs)


def test_simhash_locality(spark):
    staged = _docs(spark).select(
        "doc_id", simhash_hashes_expr(F.col("text")).alias("__h")
    )
    df = staged.select("doc_id", simhash_from_hashes(F.col("__h")).alias("sh"))
    sh = {r.doc_id: r.sh for r in df.collect()}
    assert sh[1] == sh[4]
    ham_near = bin(sh[1] ^ sh[2]).count("1")
    ham_far = bin(sh[1] ^ sh[3]).count("1")
    assert ham_near <= ham_far          # similar docs → closer fingerprints
    assert 0 <= sh[1] < 2 ** 16


def test_jaccard_exact_values(spark):
    out = {
        (r.id1, r.id2): r.jaccard
        for r in ngram_jaccard_pairs(
            _docs(spark), threshold=0.0, use_shingles=False
        ).collect()
    }
    assert out[(1, 4)] == 1.0
    # docs 1 and 2: 7 shared of 9 distinct words → J = 7/9
    assert out[(1, 2)] == 0.7778
    assert (1, 3) not in out or out[(1, 3)] == 0.0


def test_jaccard_threshold_filters(spark):
    out = ngram_jaccard_pairs(_docs(spark), threshold=0.9, use_shingles=False)
    assert {(r.id1, r.id2) for r in out.collect()} == {(1, 4)}


def test_dup_clusters_known_graph(spark):
    from kaggle_ecommerce_etl_spark.functions.dedup_ml import dup_clusters

    # chain 1-2-3 (diameter 2, needs >1 round), pair 10-11, sep. 20-21
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (21, 20)], ["id1", "id2"]
    )
    got = {r["id"]: r["cluster"] for r in dup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_dup_clusters_long_chain_converges(spark):
    from kaggle_ecommerce_etl_spark.functions.dedup_ml import dup_clusters

    # 12-node chain: diameter 11 > default near-clique assumption —
    # exercises the fixpoint loop over many rounds
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], ["id1", "id2"]
    )
    got = {r["id"]: r["cluster"] for r in dup_clusters(pairs).collect()}
    assert set(got.values()) == {0}


def test_prefix_filter_equals_unfiltered_jaccard(spark, sf_dir):
    """Prefix filtering is EXACT: identical pairs to the plain
    inverted-index join at the same threshold (no recall loss)."""
    from kaggle_ecommerce_etl_spark.functions.dedup_ml import (
        jaccard_pairs_prefix,
        ngram_jaccard_pairs,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plain = ngram_jaccard_pairs(
        docs, threshold=0.6, use_shingles=False
    ).collect()
    pref = jaccard_pairs_prefix(docs, threshold=0.6).collect()
    as_set = lambda rows: {(r.id1, r.id2, r.jaccard) for r in rows}
    assert as_set(pref) == as_set(plain)
    assert len(pref) > 0


def test_max_df_cap_prunes_hot_token(spark):
    """A stopword-frequency token crossing max_df must leave the token
    UNIVERSE: pairs whose entire overlap is the hot token vanish, and
    set sizes shrink so surviving Jaccards are exact over the capped
    vocabulary (the 100 TB guard actually guarding)."""
    rows = [
        # docs 1/2: overlap = {the} only; sizes 2 each
        (1, "the alpha"),
        (2, "the beta"),
        # docs 3/4: near-dups sharing {x y} plus the hot token
        (3, "the x y"),
        (4, "the x y"),
    ] + [(i, "the filler%d" % i) for i in range(5, 10)]  # df('the') = 9
    df = spark.createDataFrame(rows, "doc_id int, text string")

    uncapped = {
        (r["id1"], r["id2"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            df, threshold=0.3, use_shingles=False
        ).collect()
    }
    capped = {
        (r["id1"], r["id2"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            df, threshold=0.3, use_shingles=False, max_df=5
        ).collect()
    }
    # uncapped: (1,2) pairs on 'the' alone at 1/3 ≥ 0.3
    assert uncapped[(1, 2)] == 0.3333
    # capped: 'the' (df 9 > 5) is gone — (1,2) has zero overlap;
    # (3,4) survives with EXACT Jaccard over the capped vocab: {x,y}
    # both sides → 2/2 = 1.0 (was 3/3 = 1.0 uncapped)
    assert (1, 2) not in capped
    assert capped[(3, 4)] == 1.0
    # no phantom pairs: every capped pair exists uncapped too
    assert set(capped) < set(uncapped)


def test_dup_clusters_long_path_converges_logarithmically(spark, monkeypatch):
    """Worst-case diameter: a 60-node PATH graph (near-dup data is
    near-cliques, a path is the adversarial shape). Pointer doubling
    must label every node with the path's minimum well inside the
    default round cap — and a tiny cap must raise instead of silently
    returning partial labels."""
    import pytest

    from kaggle_ecommerce_etl_spark.functions.dedup_ml import dup_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "id1 long, id2 long"
    )
    # a 0-edge fast-path cap forces the DISTRIBUTED loop — this test
    # pins the loop's convergence contract, which the r10 small-graph
    # union-find fast path would otherwise satisfy trivially (it has
    # no round cap: union-find is single-pass exact).
    monkeypatch.setattr(D, "_DRIVER_CC_MAX_EDGES", 0)
    labels = {r.id: r.cluster for r in dup_clusters(pairs).collect()}
    assert set(labels) == set(range(61))
    assert set(labels.values()) == {0}

    # one round reaches at most 2^(1 + _CC_DOUBLING_HOPS) = 4 steps
    # down the path — far short of 60 — so a 2-round cap must raise
    monkeypatch.setattr(D, "_CC_MAX_ITER", 2)
    with pytest.raises(ValueError, match="did not converge"):
        dup_clusters(pairs)


def test_dup_clusters_fastpath_matches_loop(spark, monkeypatch):
    """The r10 driver union-find fast path must return EXACTLY the
    distributed loop's labels — same rows, same schema — on adversarial
    shapes (long path, near-cliques, singleton pairs) and for both int
    and long id types. Also pins the routing: an edge count above the
    cap takes the loop, at/below it the local path."""
    import random

    from kaggle_ecommerce_etl_spark.functions.dedup_ml import dup_clusters

    random.seed(10)
    edges = (
        [(i, i + 1) for i in range(40)]                      # path
        + [(100 + a, 100 + b) for a in range(6) for b in range(a)]  # clique
        + [(500, 501), (700, 699)]                           # pairs
        + [(random.randrange(900, 960), random.randrange(900, 960))
           for _ in range(50)]                               # random blob
    )
    edges = [(a, b) for a, b in edges if a != b]
    for schema in ("id1 long, id2 long", "id1 int, id2 int"):
        pairs = spark.createDataFrame(edges, schema)
        fast = dup_clusters(pairs)          # n_edges ≪ cap → driver path
        with monkeypatch.context() as m:    # 0-edge cap → distributed loop
            m.setattr(D, "_DRIVER_CC_MAX_EDGES", 0)
            loop = dup_clusters(pairs)
        assert fast.schema["id"].dataType == loop.schema["id"].dataType
        assert fast.schema["cluster"].dataType == \
            loop.schema["cluster"].dataType
        assert sorted(map(tuple, fast.collect())) == \
            sorted(map(tuple, loop.collect()))


def test_dup_clusters_fastpath_empty_pairs(spark):
    """Zero edges through the fast path: empty label frame, correct
    schema (the distributed loop's empty-input behavior)."""
    from kaggle_ecommerce_etl_spark.functions.dedup_ml import dup_clusters

    pairs = spark.createDataFrame([], "id1 long, id2 long")
    out = dup_clusters(pairs)
    assert out.columns == ["id", "cluster"]
    assert out.count() == 0


def test_jaccard_cross_prefix_matches_naive(spark):
    """Cross-sided prefix filtering is EXACT: identical pair set and
    jaccard values as the naive all-token inverted-index join, on a
    corpus where every doc shares a stopword (the prefix-pruned
    case) plus genuine near-dups straddling the 0.5 threshold."""
    import itertools

    from kaggle_ecommerce_etl_spark.functions.dedup_ml import (
        jaccard_cross_prefix,
    )

    rows = []
    for i in range(30):
        # every doc carries the universal token "the"; batch doc i
        # overlaps corpus doc i+100 heavily and others barely
        toks = ["the"] + [f"b{i}_{j}" for j in range(6)]
        rows.append((i, " ".join(toks)))
    for i in range(30):
        shared = [f"b{i}_{j}" for j in range(6)]  # near-dup of batch i
        rows.append((i + 100, " ".join(["the"] + shared + [f"c{i}"])))
        rows.append((i + 200, " ".join(["the"] + [f"z{i}_{j}" for j in range(5)])))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    batch = df.filter(F.col("doc_id") < 100)
    corpus = df.filter(F.col("doc_id") >= 100)

    got = {
        (r.in_id, r.ex_id): r.jaccard
        for r in jaccard_cross_prefix(batch, corpus, threshold=0.5).collect()
    }

    # naive reference computed in python on the same tokenization
    sets = {i: set(t.split()) for i, t in rows}
    want = {}
    for b, c in itertools.product(range(30), range(100, 260)):
        if c not in sets:
            continue
        inter = len(sets[b] & sets[c])
        if inter == 0:
            continue
        j = round(inter / (len(sets[b]) + len(sets[c]) - inter), 4)
        if j >= 0.5:
            want[(b, c)] = j
    assert got == want
    assert want  # the fixture really produces matches


def test_cross_prefix_stopword_never_indexed(spark):
    """The quadratic-protection property itself, for both callers of the
    prefix-join core: a token present in EVERY doc (on both sides of the
    cross gate; in every doc of a block for the blocked self-join) never
    enters the candidate join when each doc has >= 3 distinct tokens, so
    otherwise-disjoint docs produce ZERO candidates — the naive join
    would produce |batch|x|corpus| (or every same-block pair)."""
    from kaggle_ecommerce_etl_spark.functions.dedup_ml import (
        _prefix_candidates,
        _word_sets,
    )

    b = spark.createDataFrame(
        [(i, f"the a{i} b{i} c{i}") for i in range(40)], ["doc_id", "text"]
    )
    c = spark.createDataFrame(
        [(1000 + i, f"the x{i} y{i} z{i}") for i in range(40)],
        ["doc_id", "text"],
    )
    blocked = spark.createDataFrame(
        [(i, f"src{i % 2}", f"the a{i} b{i} c{i}") for i in range(40)],
        ["doc_id", "source", "text"],
    )
    cases = {
        "cross": (
            [_word_sets(b), _word_sets(c)],
            ("in_id", "ex_id"),
        ),
        "blocked self-join": (
            [_word_sets(blocked, "source")],
            ("id1", "id2"),
        ),
    }
    for case, (sides, ids) in cases.items():
        assert _prefix_candidates(sides, ids, 0.5).count() == 0, case


def test_cross_prefix_round_boundary_pair_included(spark):
    """A pair whose TRUE jaccard is 5000/10001 = 0.49995... (< 0.5 but
    ROUNDS to 0.5000) must appear: the filter is on round(j, 4) and
    the prefix margin keeps the theorem valid for boundary pairs."""
    from kaggle_ecommerce_etl_spark.functions.dedup_ml import (
        jaccard_cross_prefix,
    )

    a_toks = " ".join(f"t{k}" for k in range(7500))            # s1 = 7500
    b_toks = " ".join(f"t{k}" for k in range(2500, 10001))     # s2 = 7501
    batch = spark.createDataFrame([(1, a_toks)], ["doc_id", "text"])
    corpus = spark.createDataFrame([(2, b_toks)], ["doc_id", "text"])
    out = jaccard_cross_prefix(batch, corpus, threshold=0.5).collect()
    assert [(r.in_id, r.ex_id, r.jaccard) for r in out] == [(1, 2, 0.5)]


def test_cross_prefix_randomized_parity(spark):
    """Randomized (seeded) parity sweep for the r9 count+last-position
    positional bound: across corpora with mixed doc sizes, shared
    vocabulary bands, and thresholds spanning the prefix regime, the
    filtered pipeline must equal the naive python reference EXACTLY —
    the bound may only remove candidates whose true overlap cannot
    reach alpha. Catches any future tightening that crosses from
    'upper bound' into 'heuristic'."""
    import itertools
    import random

    from kaggle_ecommerce_etl_spark.functions.dedup_ml import (
        jaccard_cross_prefix,
    )

    rng = random.Random(90217)
    for trial, threshold in enumerate((0.5, 0.8, 0.9)):
        rows = []
        # shared band (hot tokens), per-doc band, and copies with edits
        vocab_hot = [f"h{k}" for k in range(5)]
        for i in range(25):
            n = rng.randint(3, 14)
            toks = rng.sample(
                [f"w{trial}_{k}" for k in range(40)], n
            ) + rng.sample(vocab_hot, rng.randint(0, 3))
            rows.append((i, " ".join(toks)))
            # a corpus-side near-dup: drop/add a couple of tokens
            mut = [t for t in toks if rng.random() > 0.15]
            mut += [f"m{trial}_{i}"] * (rng.random() > 0.5)
            rows.append((1000 + i, " ".join(mut) if mut else f"m{trial}_{i}"))
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        batch = df.filter(F.col("doc_id") < 1000)
        corpus = df.filter(F.col("doc_id") >= 1000)
        got = {
            (r.in_id, r.ex_id): r.jaccard
            for r in jaccard_cross_prefix(
                batch, corpus, threshold=threshold
            ).collect()
        }
        sets = {i: set(t.split()) for i, t in rows}
        want = {}
        for b, c in itertools.product(
            [i for i, _ in rows if i < 1000],
            [i for i, _ in rows if i >= 1000],
        ):
            inter = len(sets[b] & sets[c])
            if not inter:
                continue
            j = round(inter / (len(sets[b]) + len(sets[c]) - inter), 4)
            if j >= threshold:
                want[(b, c)] = j
        assert got == want, (threshold, len(got), len(want))
        assert want  # every threshold regime must actually fire


def _cc_loop_inputs(spark):
    edges = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    labels = spark.createDataFrame([(1, 1), (2, 2)], "id long, cluster long")
    return edges, labels


def test_cc_stats_reset_releases_cache_when_count_fails(
    spark, monkeypatch, assert_cache_released
):
    """Round 0 is a stats-reset round (persist → count → checkpoint →
    unpersist): a failing count must not leave the cache behind."""
    import pytest

    from kaggle_ecommerce_etl_spark.functions.dedup_ml import _dup_clusters_loop

    edges, labels = _cc_loop_inputs(spark)
    labels = labels.withColumn(
        "cluster", F.col("cluster") + F.raise_error(F.lit("boom")).cast("long")
    )
    monkeypatch.setattr(D, "_CC_MAX_ITER", 1)
    with pytest.raises(Exception, match="boom"):
        _dup_clusters_loop(edges, labels)
    assert_cache_released()


def test_cc_stats_reset_releases_cache_when_checkpoint_fails(
    spark, monkeypatch, assert_cache_released
):
    import pytest

    from kaggle_ecommerce_etl_spark.functions.dedup_ml import _dup_clusters_loop

    def failing_checkpoint(self, eager=True):
        raise RuntimeError("checkpoint failed")

    edges, labels = _cc_loop_inputs(spark)
    monkeypatch.setattr(type(labels), "localCheckpoint", failing_checkpoint)
    monkeypatch.setattr(D, "_CC_MAX_ITER", 1)
    with pytest.raises(RuntimeError, match="checkpoint failed"):
        _dup_clusters_loop(edges, labels)
    assert_cache_released()


def test_prefix_join_construction_jobs(construction_jobs):
    """Building either prefix-join query runs Spark jobs before any
    action: the eager prefix-index checkpoint (counted with ``_t``'s
    schema cache warm, so no parquet footer read). Pinned so the
    declared side effect cannot grow unnoticed; a change that removes
    some of these jobs lowers the pin deliberately."""
    assert construction_jobs("jaccard_pairs_prefix") == 6
    assert construction_jobs("jaccard_cross_gate") == 8


@pytest.mark.parametrize("computed", [False, True], ids=["uncomputed", "computed"])
def test_assert_cache_released_catches_leaked_persist(
    spark, assert_cache_released, computed
):
    """The leak check still fails on a deliberately leaked RDD
    ``persist()``, whether or not an action filled it. An RDD persist
    never reaches the ``CacheManager``, so only the persisted-RDD half
    of the check can catch it."""
    leaked = spark.sparkContext.parallelize(range(10)).persist()
    try:
        if computed:
            leaked.count()
        with pytest.raises(AssertionError):
            assert_cache_released()
    finally:
        leaked.unpersist()
    assert_cache_released()


#: Every keyword option of the similarity and dedup layer, with its
#: default. Each is ``k`` or ``threshold`` (they define a result) or a
#: value some registry query sets; a tunable is a module constant,
#: which tests reach by monkeypatching. An option comes back only
#: through an edit of this set.
LAYER_OPTIONS = {
    "dedup_ml._word_sets(block_col=None)",
    "dedup_ml.jaccard_cross_prefix(threshold=0.5)",
    "dedup_ml.jaccard_pairs_prefix(block_col=None)",
    "dedup_ml.jaccard_pairs_prefix(threshold=0.5)",
    "dedup_ml.ngram_jaccard_pairs(block_col=None)",
    "dedup_ml.ngram_jaccard_pairs(max_df=None)",
    "dedup_ml.ngram_jaccard_pairs(threshold=0.5)",
    "dedup_ml.ngram_jaccard_pairs(use_shingles=True)",
    "dedup_ml.shingles_expr(n=3)",
    "similarity.cosine_self_topk_blocked(k=1)",
    "similarity.cosine_topk(k=5)",
    "similarity.cosine_topk_matmul(k=5)",
    "similarity.ivf_topk(k=5)",
    "similarity.lsh_bucket_topk(k=5)",
    "similarity.lsh_bucket_topk(n_planes=12)",
    "similarity.lsh_bucket_topk(n_tables=1)",
}


def test_similarity_and_dedup_options_pinned():
    import inspect

    from kaggle_ecommerce_etl_spark.functions import similarity

    got = set()
    for mod in (similarity, D):
        short = mod.__name__.rsplit(".", 1)[1]
        for name, fn in inspect.getmembers(mod, inspect.isfunction):
            if fn.__module__ != mod.__name__:
                continue
            for p in inspect.signature(fn).parameters.values():
                if p.default is not inspect.Parameter.empty:
                    got.add(f"{short}.{name}({p.name}={p.default!r})")
    assert got == LAYER_OPTIONS
