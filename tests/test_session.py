"""Session defaults: the local master and the default shuffle partition
count come from one core count. Checked against a recording builder,
so no SparkSession is created or reconfigured."""

import os

from pyspark.sql import SparkSession

from triplestore_spark.session import get_spark


class _RecordingBuilder:
    def __init__(self):
        self.conf = {}

    def master(self, m):
        self.conf["master"] = m
        return self

    def appName(self, _name):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self.conf


def test_default_shuffle_partitions_follow_master_cores(monkeypatch):
    def built(**kw):
        monkeypatch.setattr(SparkSession, "builder", _RecordingBuilder())
        conf = get_spark(**kw)
        return conf["master"], conf["spark.sql.shuffle.partitions"]

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert built() == ("local[3]", "3")
    assert built(cpus=5) == ("local[5]", "5")
    assert built(cpus=4, shuffle_partitions=8) == ("local[4]", "8")
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    n = len(os.sched_getaffinity(0))
    assert built() == (f"local[{n}]", str(n))
