"""get_spark sizes an unconfigured session from the host it runs on."""

from __future__ import annotations

import os
import types

import pytest

from modape_spark import session


class _StopBuild(Exception):
    pass


class _RecordingBuilder:
    """Stands in for SparkSession.builder: records the conf, builds nothing."""

    def __init__(self):
        self.conf = {}

    def master(self, m):
        self.conf["master"] = m
        return self

    def appName(self, _name):
        return self

    def config(self, k, v):
        self.conf[k] = v
        return self

    def getOrCreate(self):
        raise _StopBuild


def _conf(monkeypatch, **kwargs) -> dict:
    builder = _RecordingBuilder()
    monkeypatch.setattr(session, "SparkSession",
                        types.SimpleNamespace(builder=builder))
    with pytest.raises(_StopBuild):
        session.get_spark(**kwargs)
    return builder.conf


def test_host_cores_is_affinity_mask():
    assert session.host_cores() == len(os.sched_getaffinity(0))


def test_host_driver_memory_quarter_of_memtotal(tmp_path):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemTotal:       16479424 kB\n"
                       "MemAvailable:   15931712 kB\n")
    assert session.host_driver_memory(str(meminfo)) == "4023m"
    meminfo.write_text("MemTotal:        2097152 kB\n")
    assert session.host_driver_memory(str(meminfo)) == "1024m"
    assert session.host_driver_memory(str(tmp_path / "absent")) == "1g"
    meminfo.write_text("MemFree: 1 kB\n")
    assert session.host_driver_memory(str(meminfo)) == "1g"


def test_defaults_follow_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(session, "host_cores", lambda: 3)
    monkeypatch.setattr(session, "host_driver_memory", lambda: "5000m")
    conf = _conf(monkeypatch)
    assert conf["master"] == "local[3]"
    assert conf["spark.default.parallelism"] == "3"
    assert conf["spark.driver.memory"] == "5000m"
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "6")
    assert _conf(monkeypatch)["master"] == "local[6]"


def test_explicit_arguments_win(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "6")
    monkeypatch.setattr(session, "host_cores", lambda: 3)
    conf = _conf(monkeypatch, cores=32, driver_memory="32g",
                 shuffle_partitions=8)
    assert conf["master"] == "local[32]"
    assert conf["spark.driver.memory"] == "32g"
    assert conf["spark.sql.shuffle.partitions"] == "8"
