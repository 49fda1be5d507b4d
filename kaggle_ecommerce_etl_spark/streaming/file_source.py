"""Structured Streaming surface (SURVEY.md §2g).

The reference's "streaming" is one Lambda micro-batch per S3 upload
event with a time-window recency filter (pg.py:74-121) and DO-NOTHING
idempotency (pg.py:544-547). The Spark-native equivalents:

- file-source stream + ``Trigger.AvailableNow`` — the checkpoint tracks
  processed files EXACTLY, superseding the reference's lossy
  modified-in-last-Δ heuristic (files older than the window were
  silently dropped; a checkpointed source never drops).
- watermark + windowed aggregation for late data (absent in the
  reference; the `events` table exercises it).
- ``foreachBatch`` + anti-join upsert for exactly-once-ish sinks
  (operators.dedup.upsert_anti_join).

At scale: file listing is incremental (maxFilesPerTrigger bounds batch
size); stateful aggs are keyed by (window, key) and state is pruned by
the watermark.
"""

from __future__ import annotations

import contextlib
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def stream_csv_directory(
    spark: SparkSession,
    path: str,
    schema: StructType,
    max_files_per_trigger: int | None = None,
    glob: str | None = None,
) -> DataFrame:
    """Streaming read of a CSV drop directory (the reference's
    kaggle/raw/ prefix). ``glob`` prunes non-data files (publish
    markers, sidecars) at listing time."""
    reader = (
        spark.readStream.schema(schema)
        .option("header", True)
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    return reader.csv(path)


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Watermarked (sliding) window counts per event_type — works on
    both batch and streaming frames (watermark is a no-op in batch)."""
    src = events
    if events.isStreaming:
        src = events.withWatermark(ts_col, watermark)
    win = F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    return (
        src.groupBy(win.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # DECIMAL accumulate → exact, order-independent (oracle-safe)
            F.round(F.sum(F.col("value").cast("decimal(23,8)")), 2)
            .cast("double")
            .alias("total"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total")
    )


def run_available_now(
    stream_df: DataFrame,
    checkpoint_dir: str | None = None,
    foreach_batch=None,
    query_name: str = "ingest",
    parquet_path: str | None = None,
    memory: bool = False,
    output_mode: str = "append",
):
    """Drain everything currently in the source, then stop — the
    event-driven micro-batch model of the reference, with exact
    file tracking. ``parquet_path`` selects the exactly-once parquet
    file sink (_spark_metadata tracking) — stronger than a
    foreachBatch append, which is only at-least-once under replay.
    ``memory`` selects the in-memory sink, whose rows live in the
    driver as the table ``query_name``; with no sink named, the rows
    go to ``noop``. ``output_mode`` is the streaming output mode
    (``complete`` for an aggregate re-emitted whole every batch).

    With no ``checkpoint_dir`` the drain owns a private temporary
    checkpoint and removes it on return and on raise, stopping the
    query first if it is still active (an interrupt mid-drain). A
    directory the caller passes is kept, so a later drain can resume
    from it. Returns the finished StreamingQuery."""
    owned = (
        tempfile.TemporaryDirectory(prefix="ckpt_")
        if checkpoint_dir is None
        else contextlib.nullcontext(checkpoint_dir)
    )
    with owned as ckpt:
        writer = (
            stream_df.writeStream.option("checkpointLocation", ckpt)
            .outputMode(output_mode)
        )
        if foreach_batch is not None:
            writer = writer.foreachBatch(foreach_batch)
        elif parquet_path is not None:
            writer = writer.format("parquet").option("path", parquet_path)
        else:
            writer = writer.format("memory" if memory else "noop")
        q = writer.queryName(query_name).trigger(availableNow=True).start()
        try:
            q.awaitTermination()
        finally:
            if q.isActive:
                q.stop()
    return q
