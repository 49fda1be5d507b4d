from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kaggle_ecommerce_etl_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMALL


@pytest.fixture(scope="session")
def count_jobs(spark):
    """``count_jobs(group, action)``: how many Spark jobs ``action()``
    runs, counted under a job group of its own. Building a DataFrame
    runs no job unless construction has side effects (eager
    checkpoints, size probes, ``_t``'s parquet footer reads), so this
    is how construction-time jobs are pinned."""
    sc = spark.sparkContext

    def count(group, action):
        sc.setJobGroup(group, group)
        try:
            action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count


@pytest.fixture(scope="session")
def construction_jobs(spark, sf_dir, count_jobs):
    """``construction_jobs(name)``: the Spark jobs that building
    registry query ``name`` at ``sf_dir`` runs, before any action, with
    ``_t``'s schema cache warm. Every table at ``sf_dir`` is read
    through ``_t`` just before each count (``events`` first, which
    leaves ``nanosAsLong`` set as every later read sees it), so a pin
    never depends on which test read a table first; the warm-up reads
    are cache hits after the first count."""
    from kaggle_ecommerce_etl_spark.queries import REGISTRY
    from kaggle_ecommerce_etl_spark.queries_common import _t

    tables = sorted(
        f.removesuffix(".parquet") for f in os.listdir(sf_dir) if f.endswith(".parquet")
    )
    tables.sort(key=lambda t: t != "events")

    def count(name):
        for table in tables:
            _t(spark, sf_dir, table)
        return count_jobs(
            f"construct-{name}", lambda: REGISTRY[name][0](spark, sf_dir)
        )

    return count


@pytest.fixture
def assert_cache_released(spark):
    """Failure-path leak check. Set-up empties the cache manager and
    records the persisted RDD ids (earlier tests' ``localCheckpoint``s
    stay persisted until the JVM collects them, so "nothing leaked" is
    checked as "no new persisted RDD"); calling the returned function
    asserts that no persisted RDD and no cache-manager entry was added
    since.

    The ids are read from the context's own weak-valued map and come
    back as one string: ``getPersistentRDDs()`` returns a strong copy
    of that map, and its py4j proxy kept every RDD in it alive."""
    spark.catalog.clearCache()

    def persistent_rdd_ids() -> set[int]:
        ids = spark.sparkContext._jsc.sc().persistentRdds().keys().mkString(",")
        return {int(i) for i in ids.split(",") if i}

    before = persistent_rdd_ids()

    def check() -> None:
        assert persistent_rdd_ids() - before == set()
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

    return check
