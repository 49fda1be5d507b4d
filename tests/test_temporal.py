"""Unit tests for operators/temporal.py — as-of join and bucketed
range join semantics on small hand-built frames, plus equivalence of
the bucketed range join with the naive theta-join plan."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from kaggle_ecommerce_etl_spark.operators.temporal import (
    asof_join,
    range_join_bucketed,
)


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


@pytest.fixture(scope="module")
def frames(spark):
    left = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 10:00:00"), "a"),
            (1, _ts("2024-01-01 12:00:00"), "b"),
            (1, _ts("2024-01-01 09:00:00"), "pre"),  # before any right row
            (2, _ts("2024-01-01 10:30:00"), "c"),
            (3, _ts("2024-01-01 10:30:00"), "nokey"),  # key absent on right
        ],
        "k int, ts timestamp, tag string",
    )
    right = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 09:30:00"), 100.0),
            (1, _ts("2024-01-01 10:00:00"), 200.0),  # ties left ts exactly
            (1, _ts("2024-01-01 11:00:00"), 300.0),
            (2, _ts("2024-01-01 10:00:00"), 400.0),
        ],
        "k int, rts timestamp, price double",
    )
    return left, right


def test_asof_backward(frames):
    left, right = frames
    out = asof_join(left, right, on=["k"], left_ts="ts", right_ts="rts")
    got = {r["tag"]: r["price"] for r in out.collect()}
    # equal timestamps match (>=); later right rows are invisible
    assert got == {"a": 200.0, "b": 300.0, "pre": None, "c": 400.0, "nokey": None}
    # left row count and columns preserved, payload appended
    assert out.count() == left.count()
    assert out.columns == ["k", "ts", "tag", "price"]


def test_asof_forward(frames):
    left, right = frames
    out = asof_join(
        left, right, on=["k"], left_ts="ts", right_ts="rts", direction="forward"
    )
    got = {r["tag"]: r["price"] for r in out.collect()}
    # nearest right row with rts >= ts
    assert got == {"a": 200.0, "b": None, "pre": 100.0, "c": None, "nokey": None}


def test_asof_null_payload_not_overwritten(spark):
    """A matched right row whose payload field is legitimately NULL
    must yield NULL — not an older right row's value — and multi-
    column payloads must come atomically from ONE right row (struct
    carry, never per-column last(ignorenulls) mixing)."""
    left = spark.createDataFrame(
        [(1, _ts("2024-01-01 12:00:00"), "x")], "k int, ts timestamp, tag string"
    )
    right = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 10:00:00"), 100.0, "old"),
            # the as-of match: price is NULL, src is "new"
            (1, _ts("2024-01-01 11:00:00"), None, None),
        ],
        "k int, rts timestamp, price double, src string",
    )
    row = asof_join(left, right, on=["k"], left_ts="ts", right_ts="rts").collect()[0]
    assert row["price"] is None and row["src"] is None

    from kaggle_ecommerce_etl_spark.operators.temporal import asof_join_broadcast

    row_b = asof_join_broadcast(
        left, right, on=["k"], left_ts="ts", right_ts="rts"
    ).collect()[0]
    assert row_b["price"] is None and row_b["src"] is None

    # mixed case: match has (NULL price, "new" src) — fields must not
    # be stitched from different right rows
    right2 = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 10:00:00"), 100.0, "old"),
            (1, _ts("2024-01-01 11:00:00"), None, "new"),
        ],
        "k int, rts timestamp, price double, src string",
    )
    row2 = asof_join(left, right2, on=["k"], left_ts="ts", right_ts="rts").collect()[0]
    assert row2["price"] is None and row2["src"] == "new"


def test_asof_empty_payload_returns_left(frames):
    left, right = frames
    out = asof_join(
        left, right.select("k", "rts"), on=["k"], left_ts="ts", right_ts="rts"
    )
    assert out.columns == left.columns
    assert out.count() == left.count()


def test_asof_rejects_collisions_and_bad_direction(frames):
    left, right = frames
    with pytest.raises(ValueError, match="direction"):
        asof_join(left, right, on=["k"], left_ts="ts", right_ts="rts", direction="x")
    with pytest.raises(ValueError, match="collide"):
        asof_join(
            left,
            right.withColumnRenamed("price", "tag"),
            on=["k"],
            left_ts="ts",
            right_ts="rts",
        )


def test_range_join_matches_naive_theta_join(spark, sf_dir):
    """Bucketed plan ≡ naive key-equality + range filter, on real
    events at sf0.001 with a 1-hour window."""
    from kaggle_ecommerce_etl_spark.queries_common import _t

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    iv = ev.select(
        F.col("event_id").alias("iv_id"),
        F.col("user_id").alias("iv_user"),
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("w_end"),
    ).limit(50)
    bucketed = range_join_bucketed(
        ev,
        iv,
        event_key="user_id",
        interval_key="iv_user",
        event_ts="ts",
        start_col="w_start",
        end_col="w_end",
        bucket="1 hour",
    ).select("iv_id", "event_id")
    naive = ev.join(
        iv,
        (F.col("user_id") == F.col("iv_user"))
        & (F.col("ts") >= F.col("w_start"))
        & (F.col("ts") < F.col("w_end")),
    ).select("iv_id", "event_id")
    assert sorted(map(tuple, bucketed.collect())) == sorted(
        map(tuple, naive.collect())
    )
    assert bucketed.count() > 0


def test_range_join_rejects_unknown_bucket(spark):
    df = spark.range(1)
    with pytest.raises(ValueError, match="bucket"):
        range_join_bucketed(df, df, "id", "id", "id", "id", "id", bucket="3 ms")


def test_asof_broadcast_equals_union_window(spark, frames, sf_dir):
    """Broadcast-right variant ≡ union-window variant, on both the
    hand-built frames and real events×orders at sf0.001; plan has no
    shuffle on the left side (broadcast join only)."""
    from kaggle_ecommerce_etl_spark.operators.temporal import asof_join_broadcast
    from kaggle_ecommerce_etl_spark.queries_common import _t
    from pyspark.sql import functions as F

    left, right = frames
    a = asof_join(left, right, on=["k"], left_ts="ts", right_ts="rts")
    b = asof_join_broadcast(left, right, on=["k"], left_ts="ts", right_ts="rts")
    key = lambda r: (r["k"], r["ts"], r["tag"])
    assert sorted(map(tuple, a.select("k", "ts", "tag", "price").collect())) == \
           sorted(map(tuple, b.select("k", "ts", "tag", "price").collect()))

    ev = _t(spark, sf_dir, "events").select(
        "event_id", F.col("user_id").alias("k"), "ts"
    )
    r = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("k"), F.col("o_orderdate").alias("rts"))
        .agg(F.max("o_orderkey").alias("okey"))
    )
    a2 = asof_join(ev, r, on=["k"], left_ts="ts", right_ts="rts")
    b2 = asof_join_broadcast(ev, r, on=["k"], left_ts="ts", right_ts="rts")
    assert sorted(map(tuple, a2.select("event_id", "okey").collect())) == \
           sorted(map(tuple, b2.select("event_id", "okey").collect()))
    plan = b2._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_gap_islands_two_phase_equals_naive(spark):
    """Synthetic keys spanning EMPTY middle buckets (bucket_size=10):
    keys in buckets 0, 1 and 4 with buckets 2-3 entirely missing —
    the cross-bucket leg must produce the spanning gap, intra-bucket
    legs the small ones, and the union must equal the naive global
    lead."""
    from kaggle_ecommerce_etl_spark.operators.temporal import gap_islands

    keys = [1, 2, 5, 9, 10, 13, 19, 45, 47]  # buckets {0,1,4}; 2,3 empty
    df = spark.createDataFrame([(k,) for k in keys], "k bigint")
    got = [
        (r.gap_start, r.gap_end, r.gap_len)
        for r in gap_islands(df, "k", bucket_size=10).collect()
    ]
    # naive reference
    want = []
    for a, b in zip(keys, keys[1:]):
        if b > a + 1:
            want.append((a + 1, b - 1, b - a - 1))
    assert got == want
    # the bucket-spanning gap (19→45 crosses empty buckets 2 and 3)
    assert (20, 44, 25) in got


def test_gap_islands_no_gaps(spark):
    from kaggle_ecommerce_etl_spark.operators.temporal import gap_islands

    df = spark.createDataFrame([(k,) for k in range(25)], "k bigint")
    assert gap_islands(df, "k", bucket_size=10).count() == 0
