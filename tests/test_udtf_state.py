"""Python UDTF (arrow table function) + Spark 4 state-store reader.

Covers the two round-4 engine surfaces added in queries_ext3:
- ``udtf_repeat_runs``: span-level repetition detection via an
  Arrow-optimized ``@udtf`` joined with LATERAL.
- ``state_store_read``: the checkpoint state of a drained
  ``dropDuplicates`` stream read back as a table.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kaggle_ecommerce_etl_spark.queries_ext3 import (
    q_arrow_group_mad,
    q_state_store_read,
    q_udtf_repeat_runs,
)

SF = "/root/testdata/sf0.001"


def _runs_for(spark, text):
    """Run the registered repeat_runs UDTF over one literal row."""
    q_udtf_repeat_runs(spark, SF)  # registers the UDTF (and smoke-runs)
    df = spark.createDataFrame([(text,)], "text string")
    df.createOrReplaceTempView("__one_doc")
    return [
        tuple(r)
        for r in spark.sql(
            "SELECT r.start_pos, r.token, r.run_len "
            "FROM __one_doc d, LATERAL repeat_runs(d.text) r"
        ).collect()
    ]


def test_udtf_repeat_runs_micro_semantics(spark):
    # runs at start, middle, and end; singletons emitted never
    assert _runs_for(spark, "a a b c c c d") == [(0, "a", 2), (3, "c", 3)]
    assert _runs_for(spark, "x y z") == []
    assert _runs_for(spark, "t t") == [(0, "t", 2)]
    # trailing run reaches the end of the doc
    assert _runs_for(spark, "a b b") == [(1, "b", 2)]
    # NULL text contributes no rows (LATERAL drops the row)
    assert _runs_for(spark, None) == []


def test_udtf_repeat_runs_arrow_plan(spark):
    plan = (
        q_udtf_repeat_runs(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ArrowEvalPythonUDTF" in plan
    assert "BatchEvalPython" not in plan  # never the row-pickling path
    # generator shape: the LATERAL join never shuffles — no Exchange
    # ABOVE the UDTF node (toString prints parents first, so "above"
    # is everything before it). Below it, the r10 single-row-group
    # scan parallelization is allowed exactly one round-robin
    # repartition (ensure_min_partitions; a no-op on multi-file
    # inputs) and nothing else.
    above = plan[: plan.index("ArrowEvalPythonUDTF")]
    assert "Exchange" not in above
    below = plan[plan.index("ArrowEvalPythonUDTF"):]
    for i, ln in enumerate(below.splitlines()):
        if "Exchange" in ln:
            assert "RoundRobinPartitioning" in ln, ln


def test_udtf_repeat_runs_matches_expression_count(spark, sf_dir):
    """Total repeated-token positions from the UDTF must equal the
    expression-side count (tokens differing from their predecessor
    inverted): sum(run_len) counts all tokens inside runs, which is
    n_tokens - n_run_boundaries_and_singletons per doc."""
    runs = q_udtf_repeat_runs(spark, sf_dir)
    udtf_total = runs.agg(
        F.coalesce(F.sum("run_len"), F.lit(0)).alias("s")
    ).collect()[0]["s"]
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(
        F.split(F.col("text"), " ").alias("w")
    ).select(F.expr(
        # tokens minus number of distinct runs/singleton groups
        "size(w) - size(filter(sequence(0, size(w)-1), "
        "i -> i = 0 OR w[i] <> w[i-1]))"
    ).alias("extra"), F.col("w"))
    # extra = sum over runs of (len-1); udtf_total = sum over runs>=2 of len
    # so udtf_total = extra + n_runs(>=2). Verify via a second expression:
    nruns = docs.select(F.expr(
        "size(filter(sequence(1, size(split(text,' '))-1), "
        "i -> split(text,' ')[i] = split(text,' ')[i-1] AND "
        "(i = 1 OR split(text,' ')[i-1] <> split(text,' ')[i-2])))"
    ).alias("n")).agg(F.sum("n").alias("n")).collect()[0]["n"]
    extra_total = toks.agg(F.sum("extra").alias("s")).collect()[0]["s"]
    assert udtf_total == extra_total + nruns


def test_state_store_read_equals_distinct_keys(spark, sf_dir):
    got = {
        r["event_id"] for r in q_state_store_read(spark, sf_dir).collect()
    }
    want = {
        r["event_id"]
        for r in spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_id")
        .distinct()
        .collect()
    }
    assert got == want


def test_udtf_polymorphic_analyze_schema(spark):
    """Second UDTF tier: a POLYMORPHIC table function whose output
    schema is computed at ANALYSIS time from a literal argument
    (``@staticmethod analyze``) — requested JSON keys become real
    typed columns Catalyst can prune/filter, instead of a map the
    caller must dig into. Pins both the derived column names and the
    extraction values."""
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import StringType, StructField, StructType
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    @udtf
    class JsonFields:
        @staticmethod
        def analyze(props, keys):
            names = [k.strip() for k in keys.value.split(",")]
            return AnalyzeResult(
                StructType(
                    [StructField(n, StringType()) for n in names]
                )
            )

        def eval(self, props, keys):
            import json

            names = [k.strip() for k in keys.split(",")]
            try:
                d = json.loads(props) if props else {}
            except ValueError:
                d = {}
            yield tuple(
                None if d.get(n) is None else str(d.get(n))
                for n in names
            )

    spark.udtf.register("json_fields", JsonFields)
    out = spark.sql(
        """SELECT e.event_id, f.* FROM VALUES
             (1, '{"k": 87}'), (2, NULL), (3, 'not json')
           AS e(event_id, props),
           LATERAL json_fields(e.props, 'k,missing') f"""
    )
    assert out.columns == ["event_id", "k", "missing"]
    rows = {r["event_id"]: (r["k"], r["missing"]) for r in out.collect()}
    assert rows == {1: ("87", None), 2: (None, None), 3: (None, None)}
    # AnalyzeArgument/AnalyzeResult are the public polymorphism API
    assert AnalyzeArgument is not None


def test_arrow_group_mad_matches_sql_two_pass(spark, sf_dir):
    """Independent in-Spark cross-check: MAD restated as two exact
    interpolated-percentile passes (median per group joined back, then
    median of |x - med|) must equal the Arrow kernel's answer."""
    got = {
        r["c_nationkey"]: (r["n_cust"], r["median_cents"], r["mad_cents"])
        for r in q_arrow_group_mad(spark, sf_dir).collect()
    }
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_nationkey",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    med = cust.groupBy("c_nationkey").agg(
        F.expr("percentile(cents, 0.5)").alias("med"),
        F.count(F.lit(1)).alias("n"),
    )
    mad = (
        cust.join(med, "c_nationkey")
        .groupBy("c_nationkey")
        .agg(F.expr("percentile(abs(cents - med), 0.5)").alias("mad"))
    )
    want = {
        r["c_nationkey"]: (r["n"], r["med"], r["mad"])
        for r in med.join(mad, "c_nationkey").collect()
    }
    assert got == want


def test_arrow_group_mad_plan_is_arrow_native(spark, sf_dir):
    plan = (
        q_arrow_group_mad(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "FlatMapGroupsInArrow" in plan
    assert "FlatMapGroupsInPandas" not in plan  # no pandas layer
    assert plan.count("Exchange") == 1  # one shuffle on the group key


def test_rolling_median_native_equals_pandas_udaf(spark, sf_dir):
    """The registry's rolling_median uses NATIVE percentile over a
    bounded ROWS frame (Spark-first: no Python). This pins that the
    pandas-UDAF spelling (ArrowWindowPython) computes the identical
    column — the UDAF tier is only for window statistics percentile
    can't express."""
    from pyspark.sql.functions import PandasUDFType, pandas_udf
    from pyspark.sql.window import Window

    from kaggle_ecommerce_etl_spark.queries_ext3 import q_rolling_median

    native = {
        (r["user_id"], r["event_id"]): r["roll_median5"]
        for r in q_rolling_median(spark, sf_dir).collect()
    }

    # explicit functionType: `from __future__ import annotations`
    # stringifies hints, so hint-based eval-type inference can't run
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def med(v):
        return float(v.median())

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").filter(
        F.col("user_id") % 7 == 0
    )
    frame = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, 0)
    )
    df = ev.select(
        "user_id", "event_id", med("value").over(frame).alias("m")
    )
    assert "ArrowWindowPython" in (
        df._jdf.queryExecution().executedPlan().toString()
    )
    udaf = {(r["user_id"], r["event_id"]): r["m"] for r in df.collect()}
    assert udaf == native


def test_state_store_reader_standalone_roundtrip(spark, tmp_path):
    """Independent of the registry fixture: tiny stream, known keys."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    df = spark.range(30).select(
        (F.col("id") % 11).alias("k"), F.col("id").alias("v")
    )
    df.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    q = (
        stream.dropDuplicates(["k"])
        .writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    state = spark.read.format("statestore").load(ckpt)
    keys = {r[0] for r in state.select("key.k").collect()}
    assert keys == set(range(11))
