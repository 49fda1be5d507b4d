"""Structured Streaming tests: AvailableNow drain, watermarked windows,
foreachBatch upsert idempotency (SURVEY.md §2g), and the drain's
checkpoint cleanup on success and failure."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kaggle_ecommerce_etl_spark.streaming.file_source import (
    run_available_now,
    stream_csv_directory,
    windowed_event_counts,
)

CSV_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def _write_batch(tmp_path, name, rows):
    p = tmp_path / name
    lines = ["event_id,ts,event_type,value"] + [
        f"{i},{ts},{et},{v}" for i, ts, et, v in rows
    ]
    p.write_text("\n".join(lines) + "\n")


def test_available_now_drains_and_checkpoints(spark, tmp_path):
    src = tmp_path / "drop"
    src.mkdir()
    _write_batch(src, "b1.csv", [(1, "2024-01-01 10:00:00", "view", 1.0),
                                 (2, "2024-01-01 10:10:00", "click", 2.0)])

    seen: list[int] = []

    def collect_batch(df, epoch_id):
        seen.append(df.count())

    stream = stream_csv_directory(spark, str(src), CSV_SCHEMA)
    assert stream.isStreaming
    run_available_now(stream, str(tmp_path / "ckpt"), collect_batch, "t1")
    assert sum(seen) == 2

    # second run with the SAME checkpoint: file already tracked → 0 rows
    # (exact once-per-file, strictly better than the reference's
    # modified-in-last-Δ-minutes heuristic)
    seen.clear()
    run_available_now(
        stream_csv_directory(spark, str(src), CSV_SCHEMA),
        str(tmp_path / "ckpt"), collect_batch, "t2",
    )
    assert sum(seen) == 0

    # new file arrives → only the new file is processed
    _write_batch(src, "b2.csv", [(3, "2024-01-01 11:00:00", "view", 3.0)])
    seen.clear()
    run_available_now(
        stream_csv_directory(spark, str(src), CSV_SCHEMA),
        str(tmp_path / "ckpt"), collect_batch, "t3",
    )
    assert sum(seen) == 1


def test_windowed_counts_streaming_matches_batch(spark, tmp_path):
    src = tmp_path / "drop2"
    src.mkdir()
    rows = [
        (1, "2024-01-01 10:05:00", "view", 1.0),
        (2, "2024-01-01 10:55:00", "view", 2.0),
        (3, "2024-01-01 11:05:00", "click", 4.0),
    ]
    _write_batch(src, "b.csv", rows)

    batch_df = spark.read.schema(CSV_SCHEMA).option("header", True).csv(str(src))
    expected = {
        (r.window_start.isoformat(), r.event_type): (r.n, r.total)
        for r in windowed_event_counts(batch_df).collect()
    }

    results = {}

    def sink(df, epoch_id):
        for r in df.collect():
            results[(r.window_start.isoformat(), r.event_type)] = (r.n, r.total)

    stream = windowed_event_counts(stream_csv_directory(spark, str(src), CSV_SCHEMA))
    q = (
        stream.writeStream.outputMode("complete")
        .foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert results == expected


def test_checkpoint_resume_exactly_once(spark, tmp_path):
    """Restart semantics: a second AvailableNow run on the SAME
    checkpoint must process only files that landed after the first
    drain — nothing reprocessed, nothing lost."""
    import pandas as pd

    from kaggle_ecommerce_etl_spark.streaming.file_source import (
        run_available_now,
    )

    src = tmp_path / "landing"
    out = tmp_path / "out"
    ck = tmp_path / "ck"
    src.mkdir()
    pd.DataFrame({"k": [1, 2, 3]}).to_json(
        src / "a.json", orient="records", lines=True
    )
    stream = lambda: spark.readStream.schema("k long").json(str(src))  # noqa: E731

    run_available_now(stream(), str(ck), parquet_path=str(out))
    first = spark.read.parquet(str(out))
    assert sorted(r.k for r in first.collect()) == [1, 2, 3]

    pd.DataFrame({"k": [4, 5]}).to_json(
        src / "b.json", orient="records", lines=True
    )
    run_available_now(stream(), str(ck), parquet_path=str(out))
    second = spark.read.parquet(str(out))
    assert sorted(r.k for r in second.collect()) == [1, 2, 3, 4, 5]


def test_owned_checkpoint_removed_when_batch_raises(spark, tmp_path, monkeypatch):
    """With no checkpoint_dir the drain owns its checkpoint: a batch
    that raises propagates out of the drain, and the checkpoint
    directory is gone all the same."""
    src = tmp_path / "drop"
    src.mkdir()
    _write_batch(src, "b.csv", [(1, "2024-01-01 10:00:00", "view", 1.0)])
    temp_root = tmp_path / "tmp"
    temp_root.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(temp_root))

    def fail(df, epoch_id):
        raise RuntimeError("injected batch failure")

    with pytest.raises(Exception, match="injected batch failure"):
        run_available_now(
            stream_csv_directory(spark, str(src), CSV_SCHEMA),
            foreach_batch=fail,
            query_name="fails",
        )
    assert os.listdir(temp_root) == []


#: every registry query that drains a stream while it is built
STREAMING_QUERIES = (
    "streaming_dedup_run",
    "streaming_sessionize_run",
    "streaming_upsert_run",
    "streaming_window_run",
    "medallion_stream_run",
    "stream_stream_join_run",
    "streaming_enrich_run",
    "streaming_session_run",
    "state_store_read",
    "pyds_stream_run",
    "streaming_drift_run",
)


@pytest.mark.parametrize("name", STREAMING_QUERIES)
def test_streaming_query_leaves_no_temp_dirs(
    spark, sf_dir, tmp_path, monkeypatch, name
):
    """Building a streaming query leaves nothing under the temp dir
    but its cached stream fixture: checkpoints, sink targets and the
    medallion's bronze/silver are removed, and the returned frame
    still reads after they are gone."""
    from kaggle_ecommerce_etl_spark.queries import REGISTRY

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    df = REGISTRY[name][0](spark, sf_dir)
    assert set(os.listdir(tmp_path)) == {"spark_graft_stream_src"}
    # and no staging leftovers beside the published fixture
    fixtures = os.listdir(tmp_path / "spark_graft_stream_src")
    assert all("__" not in d for d in fixtures)
    assert df.count() > 0
