"""Host-sized defaults of the session factory (functions/session.py)."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import SparkSession

from transner_spark.functions import session
from transner_spark.functions.session import (
    MAX_DRIVER_HEAP_GIB,
    default_cpus,
    default_driver_memory,
)

GIB_KIB = 2**20


def test_default_driver_memory_follows_host_ram():
    # a 15 GiB host no longer asks for a heap larger than its RAM
    assert default_driver_memory(15 * GIB_KIB + 123_456) == "7g"
    assert default_driver_memory(64 * GIB_KIB) == f"{MAX_DRIVER_HEAP_GIB}g"
    assert default_driver_memory(48 * GIB_KIB) == "24g"
    assert default_driver_memory(GIB_KIB) == "1g"
    assert default_driver_memory(512 * 1024) == "1g"


@pytest.mark.skipif(not os.path.exists("/proc/meminfo"), reason="no /proc/meminfo")
def test_default_driver_memory_reads_this_host():
    with open("/proc/meminfo") as fh:
        kib = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
    heap = int(default_driver_memory()[:-1])
    assert 1 <= heap <= MAX_DRIVER_HEAP_GIB
    assert heap * GIB_KIB <= max(kib // 2, GIB_KIB)


def test_default_cpus_follows_host_unless_set(monkeypatch):
    # no env: the cores this process may run on, not a fixed 32
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "")
    assert default_cpus() == len(os.sched_getaffinity(0))
    # the env override is a deployment setting and wins
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cpus() == 3


class _Builder:
    """Records the conf ``get_spark`` asks for; starts no SparkContext."""

    def __init__(self):
        self.conf: dict[str, str] = {}

    def master(self, m):
        self.conf["spark.master"] = m
        return self

    def appName(self, _name):
        return self

    def config(self, k, v):
        self.conf[k] = v
        return self

    def getOrCreate(self):
        return self.conf


@pytest.mark.parametrize(
    "master, want",
    [
        ("local[*]", len(os.sched_getaffinity(0))),
        ("local", 1),
        ("local[3]", 3),
        ("local[5,2]", 5),
    ],
)
def test_local_shuffle_partitions_follow_the_master(monkeypatch, master, want):
    monkeypatch.setattr(SparkSession, "builder", _Builder())
    conf = session.get_spark(master=master)
    assert conf["spark.sql.shuffle.partitions"] == str(want)


def test_external_master_leaves_shuffle_partitions_unset(monkeypatch):
    monkeypatch.setattr(SparkSession, "builder", _Builder())
    conf = session.get_spark(master="local-cluster[2,1,1024]")
    assert "spark.sql.shuffle.partitions" not in conf
