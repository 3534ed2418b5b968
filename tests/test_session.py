"""Session defaults: the local master and the default shuffle partition
count come from one core count; the driver heap comes from the
machine's memory. Checked against a recording builder,
so no SparkSession is created or reconfigured."""

import os

from pyspark.sql import SparkSession

from triplestore_spark.session import default_driver_memory, get_spark


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


def test_default_driver_memory_is_half_of_physical_capped_at_8g(monkeypatch):
    def on_machine(phys_bytes):
        pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": phys_bytes // 4096}
        monkeypatch.setattr(os, "sysconf", pages.__getitem__)
        return default_driver_memory()

    assert on_machine(4 << 30) == "2048m"
    assert on_machine(15 << 30) == "7680m"
    assert on_machine(16 << 30) == "8192m"
    assert on_machine(512 << 30) == "8192m"

    def driver_memory():
        monkeypatch.setattr(SparkSession, "builder", _RecordingBuilder())
        return get_spark(cpus=1)["spark.driver.memory"]

    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    assert on_machine(4 << 30) == driver_memory() == "2048m"
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert driver_memory() == "3g"
