import os
import sys

import duckdb
import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from spark_etl_agent_spark.core.session import SparkManager  # noqa: E402
from spark_etl_agent_spark.queries.base import TABLES  # noqa: E402

# Small-but-fast scale factor for unit/parity tests; override to test at
# other scales: SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01 pytest ...
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    manager = SparkManager(
        app_name="spark_etl_agent_spark-tests",
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": os.environ.get("SPARK_TEST_DRIVER_MEM", "8g")},
    )
    yield manager.spark
    manager.stop()


@pytest.fixture()
def pinned_rdds(spark):
    """Hold a strong reference to every RDD persisted when the test
    starts, for the length of the test. The session's persistent-RDD
    registry keeps its values weakly, so a persisted RDD that an earlier
    test left unreferenced (an operator's ``localCheckpoint``) leaves it
    at whichever JVM GC follows; a test that compares the registry
    before and after a block would then see a change the block did not
    make. Pinned, only the code under test changes the registry."""
    pinned = spark.sparkContext._jsc.getPersistentRDDs()
    yield
    del pinned


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    yield con
    con.close()
