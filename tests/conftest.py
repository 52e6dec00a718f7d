from __future__ import annotations

import os

import pytest

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from monitoring_data_ingestion_spark.session import get_spark

    s = get_spark(app_name="mdi-spark-tests", shuffle_partitions=8)
    yield s
    from monitoring_data_ingestion_spark.session_cache import release_caches

    release_caches()


@pytest.fixture(autouse=True)
def _release_query_caches():
    """Unpersist query-builder caches BETWEEN tests: a persisted subtree
    left behind by one test makes Spark's CacheManager substitute an
    InMemoryRelation into any later plan with a matching subtree, which
    breaks plan-shape assertions (and holds executor memory)."""
    yield
    from monitoring_data_ingestion_spark.session_cache import release_caches

    release_caches()
