"""Multimodal (image/audio/video) column plumbing (north_star).

Media are opaque ``binary`` columns + typed metadata, the lakehouse
pattern for multimodal training data: the engine moves/filters/joins
bytes and metadata relationally; decode/feature-extraction runs as
Arrow-batched Pandas functions over ``mapInPandas``.

The container has no image/audio libraries, so the DECODE step is
stubbed (deterministic fake features derived from the bytes, or
``NotImplementedError`` in strict mode) — but everything Spark-side is
real and tested: schema, binary handling, batch iteration, partition
sizing, output typing.

Scale notes:
- bytes never pass through Python row-at-a-time: mapInPandas receives
  Arrow record batches.
- ``spark.sql.files.maxPartitionBytes`` + a repartition on the id keeps
  per-task memory bounded when blobs are large.
- metadata-only operations (filter by mime/size/hash) are pure column
  expressions on the (pruned) metadata columns — the blob column is
  never read when the plan doesn't need it (parquet column pruning).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "media_id bigint, blob binary, mime string, n_bytes bigint, sha string"
)

FEATURE_SCHEMA = "media_id bigint, mime string, n_bytes bigint, feature array<float>"

# pass strict=True to extract_features → NotImplementedError where a
# real codec would be needed (flag is captured by value in the task
# closure; a module global would not survive the executor re-import)


def wrap_as_media(df: DataFrame, id_col: str, payload_col: str, mime: str) -> DataFrame:
    """Turn any string/binary column into the canonical media layout:
    (media_id, blob, mime, n_bytes, sha)."""
    blob = F.col(payload_col).cast("binary")
    return df.select(
        F.col(id_col).cast("bigint").alias("media_id"),
        blob.alias("blob"),
        F.lit(mime).alias("mime"),
        F.length(blob).cast("bigint").alias("n_bytes"),
        F.sha2(blob, 256).alias("sha"),
    )


def media_metadata(df: DataFrame) -> DataFrame:
    """Metadata projection — the blob column is pruned from the scan."""
    return df.select("media_id", "mime", "n_bytes", "sha")


def _fake_decode(blob: bytes, dim: int = 8, strict: bool = False) -> list[float]:
    """Deterministic stand-in for a codec: 8 byte-histogram buckets,
    normalized. Real deployments replace this one function."""
    if strict:
        raise NotImplementedError("no media codecs in this environment")
    if blob is None or len(blob) == 0:
        return [0.0] * dim
    buckets = [0] * dim
    for b in blob:
        buckets[b % dim] += 1
    n = float(len(blob))
    return [round(c / n, 6) for c in buckets]


def extract_features(df: DataFrame, dim: int = 8, strict: bool = False) -> DataFrame:
    """Decode + featurize via mapInPandas (Arrow batches; the real
    pattern for image resize / audio frame-sample / video keyframe)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "mime": pdf["mime"],
                    "n_bytes": pdf["n_bytes"],
                    "feature": [_fake_decode(b, dim, strict) for b in pdf["blob"]],
                }
            )

    return df.mapInPandas(batches, schema=FEATURE_SCHEMA)


FRAME_SCHEMA = "media_id bigint, frame_idx int, n_frames int, frame_md5 string"


def sample_frames(
    df: DataFrame,
    frame_chars: int = 256,
    every_n: int = 2,
    strict: bool = False,
) -> DataFrame:
    """Video-style frame sampling over media blobs via mapInPandas:
    "decode" each blob, split into fixed-size frames, keep every
    ``every_n``-th frame, emit a digest per kept frame.

    The fake codec is UTF-8 decode + fixed character windows (so the
    result is SQL-oracle-checkable digest-for-digest); a real build
    replaces ONLY the per-blob body with pyav/ffmpeg keyframe
    extraction — the Spark plumbing (Arrow batches in, long-format
    frame rows out, blob column pruned after this node) is the real
    pattern. ``strict=True`` raises where the codec would run."""
    import hashlib

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out: dict[str, list] = {
                "media_id": [], "frame_idx": [], "n_frames": [], "frame_md5": []
            }
            for mid, blob in zip(pdf["media_id"], pdf["blob"]):
                if strict:
                    raise NotImplementedError(
                        "no media codecs in this environment"
                    )
                text = bytes(blob).decode("utf-8") if blob is not None else ""
                n_frames = (len(text) + frame_chars - 1) // frame_chars
                for idx in range(0, n_frames, every_n):
                    chunk = text[idx * frame_chars : (idx + 1) * frame_chars]
                    out["media_id"].append(mid)
                    out["frame_idx"].append(idx)
                    out["n_frames"].append(n_frames)
                    out["frame_md5"].append(
                        hashlib.md5(chunk.encode("utf-8")).hexdigest()
                    )
            yield pd.DataFrame(out)

    return df.mapInPandas(batches, schema=FRAME_SCHEMA)


def dedup_by_content(df: DataFrame) -> DataFrame:
    """Exact media dedup on the content hash — metadata-only plan."""
    return df.groupBy("sha").agg(
        F.min("media_id").alias("media_id"),
        F.count(F.lit(1)).alias("n_copies"),
        # min, not first: identical bytes can arrive under different
        # DECLARED mimes, and first() is partition-order
        # nondeterministic across runs/retries
        F.min("mime").alias("mime"),
        F.min("n_bytes").alias("n_bytes"),
    )


def media_byte_chunks(df: DataFrame, chunk_bytes: int = 100) -> DataFrame:
    """Fixed-size BYTE-RANGE chunking of media blobs — the streaming/
    shard primitive for fixed-rate media (PCM audio frames, raw video
    byte stripes, range-request shards): every blob becomes
    ⌈n_bytes/chunk⌉ rows of (media_id, chunk_idx, start_byte,
    chunk_len, chunk_md5). Pure expressions over the binary column —
    ``substring`` on BinaryType slices BYTES and ``md5`` hashes them,
    so no codec is needed and the op is exact at any scale; a narrow
    map with no shuffle (same posture as doc_chunks for text). The
    per-chunk md5 is the transfer-integrity checksum a 100 TB media
    mover verifies shard-by-shard."""
    chunks = F.transform(
        F.sequence(
            F.lit(0),
            F.ceil(F.col("n_bytes") / F.lit(float(chunk_bytes))).cast("int")
            - 1,
        ),
        lambda i: F.struct(
            i.cast("int").alias("chunk_idx"),
            (i * chunk_bytes).cast("bigint").alias("start_byte"),
            F.substring(F.col("blob"), i * chunk_bytes + 1, chunk_bytes).alias(
                "chunk"
            ),
        ),
    )
    return (
        df.filter(F.col("n_bytes") > 0)
        .select("media_id", F.explode(chunks).alias("c"))
        .select(
            "media_id",
            F.col("c.chunk_idx").alias("chunk_idx"),
            F.col("c.start_byte").alias("start_byte"),
            F.length(F.col("c.chunk")).cast("int").alias("chunk_len"),
            F.md5(F.col("c.chunk")).alias("chunk_md5"),
        )
    )
