"""``session.get_spark``'s driver heap default, checked without starting a
JVM: the builder is replaced by a recorder of its confs."""

from __future__ import annotations

import os

from graphchidb_scala_spark import session


def test_driver_heap_default_is_half_the_machine_up_to_16g():
    assert session._driver_mem(15 << 30) == "7680m"
    assert session._driver_mem(32 << 30) == "16384m"
    assert session._driver_mem(256 << 30) == "16384m"


class _Recorder:
    def __init__(self):
        self.confs = {}

    def appName(self, _):
        return self

    def master(self, _):
        return self

    def config(self, key=None, value=None, map=None):
        self.confs.update(map or {key: value})
        return self

    def getOrCreate(self):
        return self.confs


def _driver_memory(monkeypatch, env):
    class _Session:
        builder = _Recorder()

    monkeypatch.setattr(session, "SparkSession", _Session)
    monkeypatch.setattr(session, "configure", lambda confs: confs)
    if env is None:
        monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", env)
    return session.get_spark(cpus=2)["spark.driver.memory"]


def test_get_spark_sizes_the_driver_heap_from_physical_memory(monkeypatch):
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert _driver_memory(monkeypatch, None) == session._driver_mem(phys)
    assert _driver_memory(monkeypatch, "3g") == "3g"
