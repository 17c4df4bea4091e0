import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from sutro_spark.session import get_spark

    # Per-session warehouse and results cache: managed tables left by a
    # killed earlier run cannot collide with this run's
    # (LOCATION_ALREADY_EXISTS), and jobs never write under $HOME.
    os.environ["SUTRO_SPARK_WAREHOUSE_DIR"] = str(tmp_path_factory.mktemp("warehouse"))
    os.environ["SUTRO_SPARK_CACHE"] = str(tmp_path_factory.mktemp("job-results"))
    s = get_spark("sutro_spark_tests", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def documents(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")
