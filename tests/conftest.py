import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from ngff_zarr_spark.session import get_spark

    spark = get_spark("tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
