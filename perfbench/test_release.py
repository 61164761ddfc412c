"""The benchmark's cache release between ops must leave Spark able to
cache an identical plan again, or later ops would silently run
uncached.  Run with ``python3 -m pytest perfbench/test_release.py``."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from sparkstats import release_cached  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-release-test")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "4")
        .getOrCreate()
    )
    yield s
    s.stop()


def _plan(spark):
    return spark.range(10_000).selectExpr("id % 10 AS k").groupBy("k").count()


def _cached_partitions(spark) -> int:
    return sum(i.numCachedPartitions() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo())


def test_identical_plan_persists_again_after_release(spark):
    first = _plan(spark).persist()
    first.count()
    assert _cached_partitions(spark) > 0
    release_cached(spark)
    assert _cached_partitions(spark) == 0
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) == 0

    again = _plan(spark).persist()
    again.count()
    assert _cached_partitions(spark) > 0
    release_cached(spark)


def test_release_frees_local_checkpoints(spark):
    cut = _plan(spark).localCheckpoint(eager=True)
    assert cut.count() == 10
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) > 0
    release_cached(spark)
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) == 0


def test_raw_rdd_sweep_alone_disables_identical_plan_persist(spark):
    """Why ``release_cached`` goes through the CacheManager: unpersisting
    only the raw RDDs leaves the cached-plan entry behind, and a persist
    of the same plan then stores nothing."""
    first = _plan(spark).persist()
    first.count()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()
    again = _plan(spark).persist()
    again.count()
    assert _cached_partitions(spark) == 0
    release_cached(spark)
