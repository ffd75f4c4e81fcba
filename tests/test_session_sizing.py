"""The session factory sizes itself from the box it runs on: local[N] from
the process's CPU affinity and the driver heap from physical memory,
capped by the cgroup limit, with the two env vars as overrides."""

from __future__ import annotations

import os
import types

import pytest

from data_ingestion_api_system_spark import session

GIB = 2**30


class _Builder:
    """Records what get_spark asks of SparkSession.builder; starts no JVM."""

    def __init__(self):
        self.conf: dict[str, str] = {}

    def master(self, m):
        self.conf["master"] = m
        return self

    def appName(self, _name):
        return self

    def config(self, k, v):
        self.conf[k] = v
        return self

    def getOrCreate(self):
        return types.SimpleNamespace(
            sparkContext=types.SimpleNamespace(setLogLevel=lambda _lvl: None)
        )


@pytest.fixture
def box(monkeypatch, tmp_path):
    """A 6-CPU, 16 GiB box with no readable cgroup limit."""
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": 16 * GIB // 4096}
    monkeypatch.setattr(os, "sysconf", lambda name: pages[name])
    monkeypatch.setattr(os, "sched_getaffinity", lambda _pid: set(range(6)))
    monkeypatch.setattr(session, "_CGROUP_MEMORY_MAX", str(tmp_path / "absent"))
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    builder = _Builder()
    monkeypatch.setattr(
        session, "SparkSession", types.SimpleNamespace(builder=builder)
    )
    return builder


def _heap(mem_bytes: int) -> str:
    return f"{int(mem_bytes * session.HEAP_FRACTION) >> 20}m"


def test_defaults_follow_affinity_and_physical_memory(box):
    session.get_spark()
    assert box.conf["master"] == "local[6]"
    assert box.conf["spark.sql.shuffle.partitions"] == "6"
    assert box.conf["spark.driver.memory"] == _heap(16 * GIB)
    assert session.HEAP_FRACTION < 0.5  # the JVM's resident set runs past its heap


def test_cgroup_limit_caps_the_heap(box, monkeypatch, tmp_path):
    limit = tmp_path / "memory.max"
    monkeypatch.setattr(session, "_CGROUP_MEMORY_MAX", str(limit))
    limit.write_text(f"{4 * GIB}\n")
    assert session.default_driver_memory() == _heap(4 * GIB)
    limit.write_text("max\n")  # no limit set: physical memory decides
    assert session.default_driver_memory() == _heap(16 * GIB)
    limit.write_text(f"{64 * GIB}\n")  # a limit above the box changes nothing
    assert session.default_driver_memory() == _heap(16 * GIB)


def test_env_vars_override_the_box(box, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    session.get_spark()
    assert box.conf["master"] == "local[3]"
    assert box.conf["spark.sql.shuffle.partitions"] == "3"
    assert box.conf["spark.driver.memory"] == "2g"
