"""Scale-pattern tests (operators/scale.py): these assert the PHYSICAL
plan properties the 100 TB posture depends on, not just values — values
are covered by the DuckDB oracles (scripts/check_oracle.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from kaggle_ecommerce_etl_spark.operators.scale import (
    read_pruned,
    salted_join,
    write_bucketed,
    write_partitioned,
)
import kaggle_ecommerce_etl_spark.queries_ext as qx


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_join_no_exchange(spark, sf_dir, tmp_path):
    db = "t_bkt"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    spark.sql(f"CREATE DATABASE {db} LOCATION '{tmp_path}/wh'")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_orderpriority"
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    ot = write_bucketed(o, "orders_b", "o_orderkey", buckets=4, database=db)
    lt = write_bucketed(li, "lineitem_b", "l_orderkey", buckets=4, database=db)
    # at test SF everything is broadcastable, which sidesteps bucketing
    # entirely; disable auto-broadcast to surface the co-located
    # sort-merge join the bucketing exists for at scale
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table(lt).join(
            spark.table(ot), F.col("l_orderkey") == F.col("o_orderkey")
        )
        joined.collect()
        plan = _plan(joined)
        # the whole point: co-located buckets -> no shuffle, no re-sort
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
        assert "Bucketed: true" in plan, plan
        assert joined.count() == li.join(o, li.l_orderkey == o.o_orderkey).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_salted_join_equals_plain(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        (F.col("l_orderkey") % 3).alias("k"), "l_quantity"
    )
    dim = spark.range(3).select(
        F.col("id").alias("k"), F.concat(F.lit("v"), "id").alias("label")
    )
    salted = salted_join(li, dim, ["k"], n_salts=4)
    plain = li.join(dim, "k")
    assert salted.count() == plain.count()
    a = salted.groupBy("label").agg(F.sum("l_quantity").alias("s")).collect()
    b = plain.groupBy("label").agg(F.sum("l_quantity").alias("s")).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_salted_join_left_and_rejects_right(spark):
    big = spark.createDataFrame([(1, "a"), (2, "b"), (9, "no-match")], ["k", "v"])
    dim = spark.createDataFrame([(1, "one"), (2, "two")], ["k", "label"])
    out = salted_join(big, dim, ["k"], n_salts=4, how="left").collect()
    assert len(out) == 3  # unmatched big row survives exactly once
    assert {r["label"] for r in out} == {"one", "two", None}
    try:
        salted_join(big, dim, ["k"], how="full")
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


def test_partition_pruned_scan(spark, sf_dir, tmp_path):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_orderstatus"
    )
    path = str(tmp_path / "part")
    write_partitioned(o, path, ["o_orderstatus"])
    back = read_pruned(spark, path, o_orderstatus="F")
    plan = _plan(back)
    assert "PartitionFilters" in plan
    assert "o_orderstatus = F" in plan or "o_orderstatus" in plan.split(
        "PartitionFilters"
    )[1][:200]
    n_f = o.filter(F.col("o_orderstatus") == "F").count()
    assert back.count() == n_f


def test_scale_queries_values(spark, sf_dir):
    # cheap structural sanity on the registry entries (values vs DuckDB
    # are the oracle gate's job)
    agg = qx.q_bucketed_join_agg(spark, sf_dir)
    assert agg.count() == 5  # one row per o_orderpriority
    pruned = qx.q_partition_pruned_read(spark, sf_dir)
    assert pruned.select("o_orderstatus").distinct().count() == 1


def test_stratified_sample_rates_and_determinism(spark, sf_dir):
    from kaggle_ecommerce_etl_spark.operators.scale import stratified_sample

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang"
    )
    rates = {"en": 1.0, "zh": 0.0}
    out = stratified_sample(d, "lang", "doc_id", rates, default_rate=0.5)
    rows = out.collect()
    langs = {r.lang for r in rows}
    n_en = sum(1 for r in rows if r.lang == "en")
    total_en = d.filter("lang = 'en'").count()
    assert n_en == total_en          # rate 1.0 keeps every row
    assert "zh" not in langs         # rate 0.0 keeps none
    # identical output on re-run (no sampling state)
    again = stratified_sample(d, "lang", "doc_id", rates, default_rate=0.5)
    assert sorted(r.doc_id for r in rows) == sorted(
        r.doc_id for r in again.collect()
    )
    # column contract: input columns, unchanged order
    assert out.columns == d.columns
    # plan: broadcast lookup, no exchange introduced by the sample
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_compact_sorted_layout(spark, sf_dir, tmp_path):
    """Compaction preserves content, hits the target file count, and
    yields globally disjoint per-file key ranges (range clustering)."""
    import glob

    import pyarrow.parquet as pq

    from kaggle_ecommerce_etl_spark.operators.scale import compact_sorted

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    out = str(tmp_path / "compacted")
    compact_sorted(orders.repartition(16), out, key="o_orderkey")
    files = sorted(glob.glob(out + "/part-*.parquet"))
    assert len(files) == 4
    back = spark.read.parquet(out)
    assert back.count() == orders.count()
    ranges = []
    for f in files:
        t = pq.read_table(f, columns=["o_orderkey"])["o_orderkey"]
        ranges.append((min(t.to_pylist()), max(t.to_pylist())))
    ranges.sort()
    for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, "per-file key ranges must be disjoint"


def test_zorder_layout_prunes_both_dimensions(spark, sf_dir, tmp_path):
    """The claim behind morton_code_expr: compact_sorted by zcode
    yields parquet files whose min/max stats let a filter on EITHER
    dimension skip most files; a hash-scattered layout cannot skip."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from kaggle_ecommerce_etl_spark.operators.scale import (
        compact_sorted,
        morton_code_expr,
        scale_to_bits,
    )

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    day = F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date"))
    xdom, ydom = o.select(
        F.max("o_custkey") + 1, F.max(day) + 1
    ).first()
    coded = o.withColumn(
        "zcode",
        morton_code_expr(
            scale_to_bits(F.col("o_custkey"), xdom, 12),
            scale_to_bits(day, ydom, 12),
            bits=12,
        ),
    )
    zdir, rdir = str(tmp_path / "z"), str(tmp_path / "r")
    compact_sorted(coded, zdir, key="zcode", target_files=8)
    coded.repartition(8).write.mode("overwrite").parquet(rdir)

    def files_containing(path, col, lo, hi):
        hit = 0
        for f in glob.glob(path + "/part-*.parquet"):
            md = pq.ParquetFile(f).metadata
            idx = md.schema.to_arrow_schema().get_field_index(col)
            fmin = min(md.row_group(i).column(idx).statistics.min
                       for i in range(md.num_row_groups))
            fmax = max(md.row_group(i).column(idx).statistics.max
                       for i in range(md.num_row_groups))
            if fmax >= lo and fmin <= hi:
                hit += 1
        return hit

    # a narrow customer range: zorder layout skips files, random can't
    z_hits = files_containing(zdir, "o_custkey", 10, 20)
    r_hits = files_containing(rdir, "o_custkey", 10, 20)
    assert r_hits == 8, "hash-scattered layout straddles every file"
    assert z_hits < 8, "zorder layout must let min/max stats skip files"


def test_aqe_skew_join_splits_hot_partition(spark, sf_dir):
    """AQE's runtime skew handling — the automatic cousin of
    operators.scale.salted_join: with the skew thresholds lowered to
    test scale, a pathologically hot join key must plan a
    SortMergeJoin marked ``skew=true`` (the hot partition split into
    sub-partitions at runtime), and values must equal the plain
    aggregate."""
    from pyspark.sql import functions as F

    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select(
            (F.col("l_orderkey") % 3 == 0).cast("long").alias("skew_key"),
            "l_quantity",
        )
        # skew splitting works at MAP-OUTPUT granularity: a single-file
        # scan has one mapper and an unsplittable hot partition, so
        # spread the input over many mappers first
        .repartition(16)
    )  # ~1/3 of rows land on key 1 → one hot partition
    dim = spark.range(2).select(
        F.col("id").alias("skew_key"),
        F.concat(F.lit("K"), F.col("id")).alias("label"),
    )
    conf = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "4k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force SMJ
    }
    saved = {k: spark.conf.get(k, None) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        # assert on the BARE join: a downstream groupBy imposes a
        # distribution requirement that makes AQE skip the skew split
        # (it would need an extra shuffle; see forceOptimizeSkewedJoin)
        joined = li.join(dim, "skew_key")
        rows = joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert "skew=true" in plan, plan[:800]
    # the split must not duplicate or drop rows
    from collections import Counter

    got = Counter((r.skew_key, r.label) for r in rows)
    expect = Counter()
    for r in li.groupBy("skew_key").count().collect():
        expect[(r.skew_key, "K" + str(int(r.skew_key)))] = r["count"]
    assert got == expect


def test_replica_builder_writes_multifile_scans(spark, sf_dir):
    """The derived scale-up dirs must NOT serialize scans: bench's
    _build_sf1 :v5 writes every replicated table — documents,
    embeddings, events, lineitem, orders, customer — as
    replica-count-many parquet files (a single file = a single row
    group = ONE scan task at any multiple; measured 33.5 s -> 2.4 s on
    lang_confusion at the 30x point, SCALING.md 'Two-point scaling
    curve'). Pinned at 2 replicas over sf0.001 so the suite stays
    fast; row counts double and no table lands as one part file."""
    import glob
    import os

    import bench

    out = bench._build_sf1(spark, sf_dir, replicas=2)
    for t in ("documents", "embeddings", "events",
              "lineitem", "orders", "customer"):
        parts = glob.glob(f"{out}/{t}.parquet/part-*.parquet")
        assert len(parts) >= 2, f"{t}: single-file scan layout regressed"
        n_src = spark.read.parquet(f"{sf_dir}/{t}.parquet").count()
        n_out = spark.read.parquet(f"{out}/{t}.parquet").count()
        assert n_out == 2 * n_src
    assert os.path.exists(f"{out}/_SPARK_GRAFT_READY")


def test_ensure_min_partitions_2x_threshold(spark):
    """Repartition only when it at least doubles parallelism (r7, the
    SCALE_CURVE_r06 minhash answer): a 1-partition frame fans out to
    defaultParallelism; a frame already at >n/2 partitions keeps its
    native partitioning — the full-data round-robin shuffle there costs
    more than the marginal fan-out gain."""
    import tempfile

    from kaggle_ecommerce_etl_spark.util import ensure_min_partitions

    n = spark.sparkContext.defaultParallelism
    with tempfile.TemporaryDirectory() as d:
        # single-file scan (the real sf0.01/sf0.1 layout): fans out
        spark.range(1000).coalesce(1).write.parquet(f"{d}/one")
        one = spark.read.parquet(f"{d}/one")
        assert ensure_min_partitions(one).rdd.getNumPartitions() == n
        # just over half the target (the 30-parts-on-32-cores shape
        # from the scale-curve probe): must be a no-op — the full-data
        # shuffle costs more than the marginal fan-out gain
        k = n // 2 + 1
        spark.range(1000).repartition(k).write.parquet(f"{d}/near")
        near = spark.read.parquet(f"{d}/near")
        native = near.rdd.getNumPartitions()
        if native > n // 2:  # tiny files can coalesce in the scan
            out = ensure_min_partitions(near)
            assert out.rdd.getNumPartitions() == native


def test_ngram_novelty_plan_shape(spark, sf_dir):
    """Pin the r9 join-back removal (queries_ext4.q_ngram_novelty):
    the exploded doc-trigram frame must be shuffled exactly ONCE (the
    map-side-combined groupBy(tri)); the old shape joined it back
    against the trigram-DF frame on `tri`, paying a second full
    shuffle and leaning on AQE skew-split for hot trigrams. Values
    are oracle-checked; this guards the SHAPE so a refactor can't
    silently reintroduce the join-back."""
    import re

    from kaggle_ecommerce_etl_spark.queries_ext4 import q_ngram_novelty

    plan = _plan(q_ngram_novelty(spark, sf_dir))
    # one Generate (the explode) — the per-doc n_trigrams branch is
    # array-local (size over array_distinct), so it never explodes
    assert plan.count("Generate") == 1, plan
    # exactly two hash exchanges: groupBy(tri) and groupBy(owner);
    # the per-doc branch is scan -> project with no shuffle
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 2, plan
    # the only join stitches doc-sized frames on doc_id — never on tri
    join_lines = [
        ln for ln in plan.splitlines() if "Join" in ln and "doc_id" not in ln
    ]
    assert not [ln for ln in join_lines if re.search(r"\btri#", ln)], plan
