"""Tests for the third query wave (queries_ext2.py).

Value-level parity vs DuckDB is covered by scripts/check_oracle.py and
the driver's t2 gate; these tests assert the semantic invariants the
oracle hash can't articulate (permutation-ness, mix quotas, cluster
consistency, packing conservation, stream/batch equivalence).
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from kaggle_ecommerce_etl_spark import queries_ext2 as q2


def test_priority_line_counts_conserves_join(spark, sf_dir):
    rows = q2.q_priority_line_counts(spark, sf_dir).collect()
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    assert sum(r.high_line_count + r.low_line_count for r in rows) == li.count()


def test_cust_order_distribution_covers_all_customers(spark, sf_dir):
    rows = q2.q_cust_order_distribution(spark, sf_dir).collect()
    n_cust = spark.read.parquet(f"{sf_dir}/customer.parquet").count()
    assert sum(r.custdist for r in rows) == n_cust


def test_small_qty_revenue_single_nonnegative(spark, sf_dir):
    rows = q2.q_small_qty_revenue(spark, sf_dir).collect()
    assert len(rows) == 1
    assert rows[0].avg_yearly is None or rows[0].avg_yearly >= 0.0


def test_late_supplier_blame_topk(spark, sf_dir):
    rows = q2.q_late_supplier_blame(spark, sf_dir).collect()
    assert len(rows) <= 10
    assert all(r.numwait > 0 for r in rows)
    waits = [r.numwait for r in rows]
    assert waits == sorted(waits, reverse=True)


def test_pack_sequences_conservation(spark, sf_dir):
    """Packing must conserve docs and tokens, and bins (except possibly
    the last) must reach capacity once the spanning doc lands."""
    rows = q2.q_pack_sequences(spark, sf_dir).collect()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = docs.count()
    total_tokens = docs.select(
        F.sum(F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+")))
    ).first()[0]
    assert sum(r.n_docs for r in rows) == n_docs
    assert sum(r.sum_tokens for r in rows) == total_tokens
    # bin ids are the dense floor(prefix/capacity) sequence: increasing,
    # and doc ranges must not interleave
    bins = [r.bin_id for r in rows]
    assert bins == sorted(bins)
    for a, b in zip(rows, rows[1:]):
        assert a.last_doc < b.first_doc


def test_corpus_shuffle_is_permutation(spark, sf_dir):
    rows = q2.q_corpus_shuffle(spark, sf_dir).collect()
    n = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert sorted(r.pos for r in rows) == list(range(1, n + 1))
    assert len({r.doc_id for r in rows}) == n
    # determinism: same seed → identical assignment
    again = {r.doc_id: r.pos for r in q2.q_corpus_shuffle(spark, sf_dir).collect()}
    assert all(again[r.doc_id] == r.pos for r in rows)
    # and it is not the identity order (the point of shuffling)
    assert any(r.pos != r.doc_id + 1 for r in rows)


def test_token_rarity_bounds(spark, sf_dir):
    rows = q2.q_token_rarity(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_distinct >= 1
        assert r.mean_df >= 1.0
        assert 0.0 <= r.rare_frac <= 1.0


def test_semantic_dedup_cluster_consistency(spark, sf_dir):
    """Every cosine>=θ pair must land in the same cluster, the label is
    the min member, and exactly the labels are kept."""
    from kaggle_ecommerce_etl_spark.functions.similarity import (
        cosine_pairs_above,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    label = {
        r.vec_id: r.cluster_id
        for r in q2.q_semantic_dedup_keep(spark, sf_dir).collect()
    }
    for r in cosine_pairs_above(emb, threshold=0.4).collect():
        assert label[r.id1] == label[r.id2]
    members: dict = {}
    for vid, c in label.items():
        members.setdefault(c, []).append(vid)
    for c, vids in members.items():
        assert c == min(vids)


def test_mix_rebalance_hits_quota(spark, sf_dir):
    rows = q2.q_mix_rebalance(spark, sf_dir).collect()
    got: dict = {}
    for r in rows:
        got[r.lang] = got.get(r.lang, 0) + 1
    counts = {
        r.lang: r.n
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    target = dict(q2._MIX_TARGET)
    scale = min(counts[lang] / share for lang, share in target.items())
    for lang, share in target.items():
        assert got.get(lang, 0) == math.floor(round(share * scale, 6))
        assert got.get(lang, 0) <= counts[lang]


def test_rolling_features_frame_semantics(spark, sf_dir):
    """Trailing stats must equal a per-partition replay of the frame."""
    rows = q2.q_rolling_features(spark, sf_dir).collect()
    by_cust: dict = {}
    for r in rows:
        by_cust.setdefault(r.o_custkey, []).append(r)
    for cust, rs in by_cust.items():
        # reconstruct window order from prev_total chaining: first row
        # has prev_total NULL exactly once per customer
        assert sum(1 for r in rs if r.prev_total is None) == 1
        for r in rs:
            assert r.trailing_max3 >= r.total or abs(
                r.trailing_max3 - r.total
            ) < 1e-9
            if r.prev_total is not None:
                assert abs(r.delta - round(r.total - r.prev_total, 2)) < 1e-9


def test_interpolate_ts_observed_passthrough(spark, sf_dir):
    """Observed hours pass through untouched; interpolated values lie
    between (inclusive) their neighbors; the spine is dense."""
    rows = q2.q_interpolate_ts(spark, sf_dir).collect()
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    for user, rs in by_user.items():
        rs.sort(key=lambda r: r.hour)
        hours = [r.hour for r in rs]
        assert len(hours) == len(set(hours))
        for a, b in zip(hours, hours[1:]):
            assert (b - a).total_seconds() == 3600
        obs = [r for r in rs if not r.interpolated]
        assert obs and not rs[0].interpolated and not rs[-1].interpolated
        for i, r in enumerate(rs):
            if r.interpolated:
                prev = [x for x in rs[:i] if not x.interpolated][-1]
                nxt = [x for x in rs[i + 1:] if not x.interpolated][0]
                assert (
                    min(prev.n_events, nxt.n_events)
                    <= r.n_events
                    <= max(prev.n_events, nxt.n_events)
                )


def test_corpus_pipeline_invariants(spark, sf_dir):
    """Survivors ⊆ corpus; pos is a dense permutation of the
    survivors; bins are monotone in pos; every stage actually prunes
    or passes through consistently."""
    rows = q2.q_corpus_pipeline(spark, sf_dir).collect()
    assert rows
    n = len(rows)
    assert sorted(r.pos for r in rows) == list(range(1, n + 1))
    by_pos = sorted(rows, key=lambda r: r.pos)
    run = 0
    for r in by_pos:
        assert r.bin_id == run // q2._PACK_CAPACITY
        run += r.n_tokens
    assert all(r.n_tokens >= 20 for r in rows)
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert n <= n_docs


def test_join_hint_forces_sort_merge(spark, sf_dir):
    """The SHUFFLE_MERGE hint must flip the physical join to
    SortMergeJoin where the planner would otherwise broadcast."""
    df = q2.q_join_hints(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, plan[:600]
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    unhinted = li.join(o, li.l_orderkey == o.o_orderkey)
    uplan = unhinted._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in uplan, uplan[:600]


def test_jdbc_partitioned_read_parallelism(spark, sf_dir):
    """The partitioned JDBC scan must actually split into 4 concurrent
    range partitions and lose no rows."""
    df = q2.q_jdbc_partitioned_read(spark, sf_dir)
    assert df.rdd.getNumPartitions() == 4
    expect = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_orderkey") % 4 == 0)
        .count()
    )
    assert df.count() == expect


def test_jdbc_partitioned_read_bounds_never_drop_rows(spark, sf_dir):
    """Spark's stride bounds only shape partition sizes: rows OUTSIDE
    [lowerBound, upperBound) must still be read (first/last strides
    are unbounded)."""
    from kaggle_ecommerce_etl_spark.queries_common import _fixture_tag
    from kaggle_ecommerce_etl_spark.sinks.jdbc import (
        DERBY_DRIVER,
        derby_memory_url,
        read_jdbc_partitioned,
    )

    # the call loads the Derby table eagerly (same tag recipe)
    full = q2.q_jdbc_partitioned_read(spark, sf_dir)
    url = derby_memory_url(
        "pr_" + _fixture_tag("jdbcpr:v1", sf_dir, "orders")
    )
    narrow = read_jdbc_partitioned(
        spark, url, "orders_pr",
        partition_column="o_orderkey",
        lower_bound=100, upper_bound=200, num_partitions=3,
        properties={"driver": DERBY_DRIVER},
    )
    assert narrow.count() == full.count()


def test_table_checksum_order_independent(spark, sf_dir):
    """The checksum must be invariant under repartitioning (the whole
    point), and sensitive to a single changed cell."""
    base = {
        r.o_orderstatus: r.checksum
        for r in q2.q_table_checksum(spark, sf_dir).collect()
    }
    # q_table_checksum reads its table through its own module's _t
    orig_t = q2._t

    def shuffled_t(spark_, sf_dir_, name):
        df = orig_t(spark_, sf_dir_, name)
        return df.repartition(13) if name == "orders" else df

    try:
        q2._t = shuffled_t
        again = {
            r.o_orderstatus: r.checksum
            for r in q2.q_table_checksum(spark, sf_dir).collect()
        }
    finally:
        q2._t = orig_t
    assert again == base

    # sensitivity: perturbing ONE cell must change exactly that status
    # group's checksum (a checksum that never changes detects nothing)
    def perturbed_t(spark_, sf_dir_, name):
        df = orig_t(spark_, sf_dir_, name)
        if name != "orders":
            return df
        return df.withColumn(
            "o_totalprice",
            F.when(F.col("o_orderkey") == 4, F.col("o_totalprice") + 1)
            .otherwise(F.col("o_totalprice")),
        )

    try:
        q2._t = perturbed_t
        tampered = {
            r.o_orderstatus: r.checksum
            for r in q2.q_table_checksum(spark, sf_dir).collect()
        }
    finally:
        q2._t = orig_t
    changed = [s for s in base if tampered[s] != base[s]]
    assert len(changed) == 1, (changed, base, tampered)


def test_merge_upsert_semantics(spark, sf_dir):
    """Matched keys take the batch values; target-only and batch-only
    keys survive with their own side's values."""
    rows = {r.o_orderkey: r for r in q2.q_merge_upsert(spark, sf_dir).collect()}
    o = {
        r.o_orderkey: r
        for r in spark.read.parquet(f"{sf_dir}/orders.parquet").collect()
    }
    for k, r in rows.items():
        if k % 3 == 0:  # batch side (matched or insert) wins
            assert r.o_orderstatus == "M"
            assert abs(r.total - round(round(o[k].o_totalprice, 2) * 2, 2)) < 1e-9
        else:  # target-only rows keep their values
            assert k % 2 == 0
            assert r.o_orderstatus == o[k].o_orderstatus
    keys = set(rows)
    assert all(k % 2 == 0 or k % 3 == 0 for k in keys)


def test_cdc_apply_deletes_dropped(spark, sf_dir):
    rows = q2.q_cdc_apply(spark, sf_dir).collect()
    assert rows
    assert all(r.op in ("I", "U") for r in rows)
    assert all(r.seq % 7 != 0 for r in rows)
    assert len({r.key for r in rows}) == len(rows)


def test_dedup_keep_richest_prefers_complete(spark, sf_dir):
    rows = q2.q_dedup_keep_richest(spark, sf_dir).collect()
    assert len({r.key for r in rows}) == len(rows)
    # a survivor with a gap means NO fully-complete duplicate existed
    from pyspark.sql import Row  # noqa: F401

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").collect()
    by_key: dict = {}
    for r in o:
        by_key.setdefault(r.o_orderkey % 500, []).append(r.o_orderkey)
    for r in rows:
        if r.score < 2:
            assert all(
                k % 4 == 0 or k % 5 == 0 for k in by_key[r.key]
            ), (r.key, by_key[r.key])


def test_observed_write_metrics_match_direct_agg(spark, sf_dir):
    """observe() side-channel values must equal a direct aggregation,
    and the metrics must ride the caller's OWN write (writer invoked
    exactly once with the observed frame)."""
    from kaggle_ecommerce_etl_spark.operators.quality import observed_write

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    calls = []

    def writer(d):
        calls.append(d)
        d.write.format("noop").mode("overwrite").save()

    got = observed_write(
        o,
        [("n", F.count(F.lit(1))), ("mx", F.max("o_totalprice"))],
        writer=writer,
    )
    assert len(calls) == 1
    direct = o.agg(
        F.count(F.lit(1)).alias("n"), F.max("o_totalprice").alias("mx")
    ).first()
    assert got["n"] == direct["n"]
    assert got["mx"] == direct["mx"]


def test_span_dedup_global_first_occurrence(spark, sf_dir):
    """Each distinct span survives exactly once corpus-wide, span
    counts are conserved per doc, and doc 0 (no predecessor) is
    untouched."""
    import math as _m

    rows = q2.q_span_dedup(spark, sf_dir).collect()
    docs = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    }
    total_kept = sum(r.n_kept for r in rows)
    distinct_spans = set()
    for text in docs.values():
        w = text.strip().lower().split()
        for i in range(_m.ceil(len(w) / q2._SPAN_W)):
            distinct_spans.add(
                " ".join(w[i * q2._SPAN_W : (i + 1) * q2._SPAN_W])
            )
    assert total_kept == len(distinct_spans)
    for r in rows:
        w = docs[r.doc_id].strip().lower().split()
        assert r.n_kept + r.n_dropped == _m.ceil(len(w) / q2._SPAN_W)
    first = next(r for r in rows if r.doc_id == min(docs))
    assert first.n_dropped == 0
    assert first.text_dedup == " ".join(docs[min(docs)].strip().lower().split())


def test_jsonl_roundtrip_lossless(spark, sf_dir):
    back = q2.q_jsonl_roundtrip(spark, sf_dir)
    orig = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    assert back.exceptAll(orig).count() == 0
    assert orig.exceptAll(back).count() == 0


def test_jsonl_quarantine_catches_garbage(spark, sf_dir):
    """The two injected broken lines must quarantine; good rows pass
    through untouched."""
    good = q2.q_jsonl_quarantine(spark, sf_dir)
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert good.count() == n_docs
    from kaggle_ecommerce_etl_spark.sources.json_source import (
        read_jsonl_quarantine,
    )

    from kaggle_ecommerce_etl_spark.queries_common import _format_fixture

    path = _format_fixture(sf_dir, "docs_jsonl_corrupt", "documents")
    _good, bad = read_jsonl_quarantine(
        spark, path, "doc_id long, lang string, n_chars long", glob="part-*"
    )
    assert bad.count() == 2


def test_orc_roundtrip_pushdown(spark, sf_dir):
    """The status predicate must reach the ORC scan as a pushed
    filter, and values must round-trip exactly."""
    df = q2.q_orc_roundtrip(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "o_orderstatus" in plan.split(
        "PushedFilters"
    )[1][:200], plan[:800]
    orig = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_orderstatus") == "O")
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.round("o_totalprice", 2).alias("total"),
        )
    )
    assert df.exceptAll(orig).count() == 0
    assert orig.exceptAll(df).count() == 0


def test_medallion_dedup_is_load_bearing(spark, sf_dir):
    """The landing batches genuinely overlap (re-delivered events), so
    the gold aggregate matching the distinct set proves the silver
    upsert removed duplicates rather than never seeing any."""
    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .filter(F.col("user_id") % 10 == 0)
    )
    n_distinct = ev.count()
    gold = q2.q_medallion_stream_run(spark, sf_dir)
    assert sum(r.n_events for r in gold.collect()) == n_distinct
    # count what the pipeline ACTUALLY delivered from its own landing
    # files (not a re-derivation of the split predicates): the batches
    # must overlap, or the dedup guarantee was never exercised
    from kaggle_ecommerce_etl_spark.queries_common import _stream_fixture_dir

    landing = _stream_fixture_dir("med", sf_dir)
    delivered = (
        spark.read.schema(
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double"
        )
        .option("header", True)
        .option("pathGlobFilter", "*.csv")
        .csv(landing)
    )
    assert delivered.count() > n_distinct  # duplicates really landed
    assert delivered.select("event_id").distinct().count() == n_distinct


def test_stream_stream_join_matches_batch(spark, sf_dir):
    """The drained stream-stream interval join must equal its batch
    twin exactly."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
        F.col("user_id").alias("p_user"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
        F.col("user_id").alias("c_user"),
    )
    batch = {
        (r.purchase_id, r.click_id)
        for r in p.join(
            c,
            (F.col("p_user") == F.col("c_user"))
            & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
            & (F.col("c_ts") <= F.col("p_ts")),
        ).collect()
    }
    streamed = {
        (r.purchase_id, r.click_id)
        for r in q2.q_stream_stream_join_run(spark, sf_dir).collect()
    }
    assert streamed == batch
