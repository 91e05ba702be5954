from __future__ import annotations

import pytest

from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.session import get_spark
from vector_database_with_gpu_acceleration_for_llm_retrieval_spark.sources.catalog import load_tables

SF_DIR = "/root/testdata/sf0.001"


@pytest.hookimpl(wrapper=True)
def pytest_collection_modifyitems(config, items):
    """Fail loudly when the marker expression (pytest.ini's default
    ``-m driver_gate``) deselects every collected test, e.g. a run of
    one file that has no driver_gate tests, instead of passing with
    nothing run."""
    n_collected = len(items)
    result = yield
    markexpr = config.option.markexpr
    if n_collected and not items and markexpr and not config.option.keyword:
        raise pytest.UsageError(
            f"all {n_collected} collected tests were deselected by -m {markexpr!r}; "
            "pass -m '' to run them"
        )
    return result


@pytest.fixture(scope="session")
def spark():
    return get_spark("vdb_spark_tests")


@pytest.fixture(scope="session")
def tables(spark):
    return load_tables(spark, SF_DIR)
