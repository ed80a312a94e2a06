from __future__ import annotations

import os
import uuid

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from dbt_snowflake_feature_store_spark.session import get_spark

    s = get_spark("fs-tests", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def tables(spark, sf_dir):
    from dbt_snowflake_feature_store_spark.sources import register_views

    return register_views(spark, sf_dir)


@pytest.fixture()
def fs(spark, tmp_path):
    from dbt_snowflake_feature_store_spark import FeatureStore

    return FeatureStore(spark, str(tmp_path / "fs_root"), name="TEST_FS")


@pytest.fixture()
def count_jobs(spark):
    """``count_jobs(fn)`` runs ``fn`` under a unique job group and returns
    how many Spark jobs it launched (statusTracker, after the listener
    bus has delivered every event)."""
    sc = spark.sparkContext

    def _count(fn) -> int:
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return _count
