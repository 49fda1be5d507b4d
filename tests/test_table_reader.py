"""``queries_common._t``'s per-process parquet schema cache: a warm
read runs no Spark job, a rewritten file misses, and a nanosecond
timestamp lands the same with ``nanosAsLong`` set or unset."""

from __future__ import annotations

import datetime as dt
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from kaggle_ecommerce_etl_spark.queries_common import _t

NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


@pytest.fixture
def nanos_conf(spark):
    """Restore ``nanosAsLong`` to what ``_t`` leaves it at."""
    yield
    spark.conf.set(NANOS_AS_LONG, "true")


def test_second_read_of_a_table_runs_no_job(spark, sf_dir, tmp_path, count_jobs):
    shutil.copy(f"{sf_dir}/nation.parquet", tmp_path / "nation.parquet")
    first = count_jobs("t-cold", lambda: _t(spark, str(tmp_path), "nation"))
    assert first >= 1  # the footer read that learns the schema
    assert count_jobs("t-warm", lambda: _t(spark, str(tmp_path), "nation")) == 0
    want = spark.read.parquet(f"{sf_dir}/nation.parquet")
    got = _t(spark, str(tmp_path), "nation")
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())


def _write(spark, frame, path):
    stage = f"{path}.stage"
    frame.coalesce(1).write.mode("overwrite").parquet(stage)
    part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
    os.replace(os.path.join(stage, part), path)
    shutil.rmtree(stage)


def test_rewritten_table_yields_the_new_schema(spark, tmp_path, count_jobs):
    path = str(tmp_path / "t.parquet")
    _write(spark, spark.range(3), path)
    assert _t(spark, str(tmp_path), "t").columns == ["id"]
    _write(spark, spark.range(3).selectExpr("id", "'x' AS s"), path)
    got = _t(spark, str(tmp_path), "t")
    assert got.columns == ["id", "s"] and got.count() == 3
    # same bytes, new mtime: a miss, which re-reads the footer
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert count_jobs("t-touched", lambda: _t(spark, str(tmp_path), "t")) >= 1


def test_events_nanos_read_with_nanos_as_long_set_and_unset(spark, tmp_path, nanos_conf):
    """A TIMESTAMP(NANOS) events file lands as micro-truncated
    timestamps whatever the session's ``nanosAsLong`` was."""
    ns = [1_700_000_000_123_456_789, 1_700_000_100_000_000_999]
    table = pa.table({
        "event_id": pa.array([1, 2], pa.int64()),
        "ts": pa.array(ns, pa.timestamp("ns")),
    })
    pq.write_table(table, tmp_path / "events.parquet")
    want = [dt.datetime(2023, 11, 14, 22, 13, 20, 123456),
            dt.datetime(2023, 11, 14, 22, 15, 0, 0)]
    for setting in (None, "false", "true", None):
        if setting is None:
            spark.conf.unset(NANOS_AS_LONG)
        else:
            spark.conf.set(NANOS_AS_LONG, setting)
        ev = _t(spark, str(tmp_path), "events")
        assert dict(ev.dtypes)["ts"] == "timestamp"
        assert [r.ts for r in ev.orderBy("event_id").collect()] == want


def test_schema_cache_is_keyed_on_nanos_as_long(spark, tmp_path, nanos_conf):
    """The same NANOS file lands as bigint with ``nanosAsLong`` set and
    is refused without it; a schema cached under one setting must not
    serve the other."""
    pq.write_table(
        pa.table({"ts": pa.array([1_000], pa.timestamp("ns"))}),
        tmp_path / "t.parquet",
    )
    spark.conf.set(NANOS_AS_LONG, "true")
    assert dict(_t(spark, str(tmp_path), "t").dtypes)["ts"] == "bigint"
    spark.conf.set(NANOS_AS_LONG, "false")
    with pytest.raises(Exception) as uncached:
        spark.read.parquet(str(tmp_path / "t.parquet")).collect()
    with pytest.raises(type(uncached.value)):
        _t(spark, str(tmp_path), "t").collect()
