from __future__ import annotations

import pytest
from pyspark.sql import SparkSession

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    # Deliberately a VANILLA session (not the repo's session factory):
    # the external verification harness builds its own plain
    # SparkSession, so every operator/query must be self-sufficient —
    # any conf it needs has to be set at runtime by the code under test
    # (see catalog.load_table for the nanosAsLong example).
    s = (
        SparkSession.builder.master("local[4]")
        .appName("engine-tests-vanilla")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture
def persisted_ids(spark):
    """A callable returning the ids of the RDDs the session holds
    persisted right now (``persist`` and ``localCheckpoint`` both
    register one)."""

    def ids() -> set:
        it = spark.sparkContext._jsc.sc().getPersistentRDDs().keySet().iterator()
        out = set()
        while it.hasNext():
            out.add(it.next())
        return out

    return ids
