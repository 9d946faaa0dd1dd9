from __future__ import annotations

import os

import pytest


@pytest.fixture(scope="session")
def spark():
    from vacancy_gpt_etl_pipeline_spark.session import get_spark

    s = get_spark(app_name="tests", cpus=8, shuffle_partitions=8)
    # executor-crossing test helpers (mock enrichers) must be importable by
    # Spark python workers, which don't have tests/ on their path
    s.sparkContext.addPyFile(
        os.path.join(os.path.dirname(__file__), "mock_enrichers.py")
    )
    yield s
    # A suite that restarts Spark in the same process (perfbench/tests)
    # stops this context and shuts its gateway down; stop only a context
    # that is still the live one, so a real stop error still surfaces.
    from pyspark import SparkContext

    if SparkContext._active_spark_context is s.sparkContext:
        s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def sf001_dir() -> str:
    return "/root/testdata/sf0.01"
