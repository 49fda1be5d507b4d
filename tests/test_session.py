"""Session defaults: the shuffle-partition count follows the master's
effective thread count, not the host's core count."""

from __future__ import annotations

import types

from pyspark.sql import SparkSession

from kaggle_ecommerce_etl_spark import session
from kaggle_ecommerce_etl_spark.session import master_threads


def test_master_threads():
    assert master_threads("local") == 1
    assert master_threads("local[3]") == 3
    assert master_threads("local[2,4]") == 2  # with task retries
    cores = master_threads("local[*]")
    assert cores >= 1 and master_threads("spark://host:7077") == cores


class _FakeBuilder:
    """Records what get_spark configures instead of starting a JVM."""

    def __init__(self):
        self.conf: dict[str, str] = {}

    def master(self, m):
        self.conf["master"] = m
        return self

    def appName(self, _name):
        return self

    def config(self, k, v):
        self.conf[k] = v
        return self

    def getOrCreate(self):
        return types.SimpleNamespace(
            sparkContext=types.SimpleNamespace(setLogLevel=lambda _lvl: None)
        )


def test_get_spark_sizes_shuffle_from_cpus_override(monkeypatch):
    builder = _FakeBuilder()
    monkeypatch.setattr(SparkSession, "builder", builder)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    session.get_spark("t")
    assert builder.conf["master"] == "local[3]"
    assert builder.conf["spark.sql.shuffle.partitions"] == "3"

    builder.conf.clear()
    session.get_spark("t", master="local[2]")
    assert builder.conf["spark.sql.shuffle.partitions"] == "2"
    session.get_spark("t", master="local[2]", shuffle_partitions=7)
    assert builder.conf["spark.sql.shuffle.partitions"] == "7"
