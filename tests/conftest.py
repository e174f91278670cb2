import pytest

from entity_linking_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # cores default to session.default_parallelism() (SPARK_GRAFT_CPUS or
    # the machine's CPU count), so the suite never oversubscribes the box
    s = get_spark(app_name="el-tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
