import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cadastre_pg_spark.session import get_spark

SF_UNIT = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


def persisted_rdd_ids(spark) -> set:
    """Ids of the RDDs the session holds in storage."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app="cadastre_pg_spark-tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()
