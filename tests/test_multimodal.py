"""Multimodal binary-column plumbing tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kaggle_ecommerce_etl_spark.functions import multimodal as mm


def _media(spark):
    df = spark.createDataFrame(
        [(1, "aaaa"), (2, "bbbb"), (3, "aaaa"), (4, "")],
        ["doc_id", "payload"],
    )
    return mm.wrap_as_media(df, "doc_id", "payload", "application/octet-stream")


def test_wrap_schema_and_hash(spark):
    media = _media(spark)
    assert [f.name for f in media.schema.fields] == [
        "media_id", "blob", "mime", "n_bytes", "sha"
    ]
    rows = {r.media_id: r for r in media.collect()}
    assert rows[1].n_bytes == 4
    assert rows[1].sha == rows[3].sha != rows[2].sha
    assert bytes(rows[1].blob) == b"aaaa"


def test_extract_features_mapinpandas(spark):
    feats = mm.extract_features(_media(spark), dim=4)
    rows = {r.media_id: r for r in feats.collect()}
    assert len(rows[1].feature) == 4
    assert abs(sum(rows[1].feature) - 1.0) < 1e-6   # histogram normalized
    assert rows[1].feature == rows[3].feature        # same bytes → same feature
    assert rows[4].feature == [0.0, 0.0, 0.0, 0.0]   # empty blob


def test_dedup_by_content(spark):
    out = mm.dedup_by_content(_media(spark))
    survivors = {r.media_id: r.n_copies for r in out.collect()}
    assert survivors[1] == 2      # ids 1 and 3 collapse, min id survives
    assert 3 not in survivors


def test_strict_mode_raises(spark):
    with pytest.raises(Exception):
        mm.extract_features(_media(spark), strict=True).collect()


def test_sample_frames_chunking_and_digest(spark):
    import hashlib

    text = "x" * 300 + "é" * 300  # 600 chars, non-ASCII half
    df = spark.createDataFrame([(1, text), (2, "short"), (3, "")],
                               ["doc_id", "payload"])
    media = mm.wrap_as_media(df, "doc_id", "payload", "video/fake")
    rows = mm.sample_frames(media, frame_chars=256, every_n=2).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.media_id, {})[r.frame_idx] = r
    # doc 1: 600 chars → 3 frames, sampled idx 0 and 2
    assert sorted(by_doc[1]) == [0, 2]
    assert by_doc[1][0].n_frames == 3
    assert by_doc[1][0].frame_md5 == hashlib.md5(
        text[:256].encode()).hexdigest()
    assert by_doc[1][2].frame_md5 == hashlib.md5(
        text[512:].encode()).hexdigest()
    # doc 2: one partial frame; doc 3: empty → no rows
    assert sorted(by_doc[2]) == [0] and by_doc[2][0].n_frames == 1
    assert 3 not in by_doc
