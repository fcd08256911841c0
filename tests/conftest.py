from __future__ import annotations

import pytest

from documentconvert_spark.session import build_session


@pytest.fixture(scope="session")
def spark():
    s = build_session(
        app_name="dcs-tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={"spark.sql.execution.arrow.maxRecordsPerBatch": "32"},
    )
    yield s
    s.stop()


@pytest.fixture()
def df_cache_rdd_ids(spark):
    """Returns a callable giving the ids of persisted RDDs that back cached
    DataFrames. The DataFrame cache names its RDD after the plan;
    localCheckpoint RDDs (the ANN quantizer's per-round leaves) are
    unnamed and reclaimed by the context cleaner, so they are not a leak."""

    def ids():
        rdds = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in rdds.keySet().toArray() if rdds[k].name() is not None}

    return ids
