import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from triplestore_spark.session import get_spark

    s = get_spark("triplestore-spark-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture
def uncheckpointed_persisted(spark):
    """Returns a callable listing the persisted RDDs created since the
    fixture was set up that are NOT checkpoint blocks: a cached frame
    an operator left behind. Checkpoint blocks are exempt, since
    Spark's cleaner drops them with their frames."""
    import gc

    jsc = spark.sparkContext._jsc

    def persisted():
        gc.collect()
        spark._jvm.System.gc()
        rdds = jsc.getPersistentRDDs()
        return {k: rdds[k].rdd() for k in rdds.keySet()}

    before = set(persisted())

    def left():
        return [
            rdd.toDebugString()
            for k, rdd in persisted().items()
            if k not in before and not rdd.isCheckpointed()
        ]

    return left
