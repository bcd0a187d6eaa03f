import os

import pytest

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")


@pytest.fixture(scope="session")
def spark():
    from cms_topn_spark.spark_session import get_spark

    s = get_spark("cms_topn_spark_tests", cpus=4, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf001_dir():
    return os.path.join(TESTDATA, "sf0.001")


@pytest.fixture(scope="session")
def sf01_dir():
    return os.path.join(TESTDATA, "sf0.01")


@pytest.fixture(params=["dataframe", "parquet_source"])
def as_source(request, spark):
    """Runs a test once per operator input kind: ``as_source(path)`` is
    ``spark.read.parquet(path)`` or ``ParquetSource(path)``."""
    if request.param == "dataframe":
        return spark.read.parquet
    from cms_topn_spark.sources.parquet_direct import ParquetSource

    return ParquetSource
