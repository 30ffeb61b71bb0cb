"""``get_spark``'s host-derived defaults, read off the session builder
without starting a JVM: local[N] over the CPUs this process may use and a
driver heap of a quarter of physical RAM, with ``cpus=`` and the
environment still winning."""

import os
from types import SimpleNamespace

from sbustreamspot_core_spark import session

GIB = 1 << 30


class RecordingBuilder:
    def __init__(self):
        self.conf = {}

    def master(self, m):
        self.conf["master"] = m
        return self

    def appName(self, name):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        # no _jvm: the small-heap check cannot read a heap and skips
        return SimpleNamespace(
            sparkContext=SimpleNamespace(setLogLevel=lambda level: None))


def resolved(monkeypatch, **kwargs):
    builder = RecordingBuilder()
    monkeypatch.setattr(session, "SparkSession",
                        SimpleNamespace(builder=builder))
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    session.get_spark("defaults", **kwargs)
    return builder.conf["master"], builder.conf["spark.driver.memory"]


def fake_host(monkeypatch, cpus, ram_bytes):
    page = 4096
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: set(range(cpus)))
    monkeypatch.setattr(os, "sysconf", {
        "SC_PAGE_SIZE": page, "SC_PHYS_PAGES": ram_bytes // page}.__getitem__)


def test_defaults_follow_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    fake_host(monkeypatch, cpus=4, ram_bytes=16 * GIB)
    assert resolved(monkeypatch) == ("local[4]", "4096m")
    fake_host(monkeypatch, cpus=32, ram_bytes=250 * GIB)
    assert resolved(monkeypatch) == ("local[32]", "64000m")


def test_explicit_settings_win(monkeypatch):
    fake_host(monkeypatch, cpus=4, ram_bytes=16 * GIB)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "6")
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "2g")
    assert resolved(monkeypatch) == ("local[6]", "2g")
    assert resolved(monkeypatch, cpus=3) == ("local[3]", "2g")


def test_heap_default_fits_this_host(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    ram_mib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    _, heap = resolved(monkeypatch)
    assert heap.endswith("m") and 0 < int(heap[:-1]) <= ram_mib // 4
