"""get_spark's host-sized defaults, checked without starting a session."""

from __future__ import annotations

from types import SimpleNamespace

import pytest

from docling_rag_spark import session


class _Builder:
    """Records what get_spark asks of SparkSession.builder."""

    def __init__(self) -> None:
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
        return self.conf


@pytest.fixture
def host(monkeypatch):
    """A fake host: set ``cpus`` and ``mem_kb`` on the returned object."""
    h = SimpleNamespace(cpus=3, mem_kb=16_479_424)
    monkeypatch.setattr(session.os, "sched_getaffinity", lambda _pid: set(range(h.cpus)))
    monkeypatch.setattr(session, "_mem_total_kb", lambda: h.mem_kb)
    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=_Builder()))
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    return h


@pytest.mark.parametrize(
    "mem_kb, want",
    [
        (16_479_424, "7g"),        # a 15.7 GiB host: half, in whole GB
        (1_000_000, "1g"),         # never below 1g
        (512 * 2**20, "48g"),      # never above the old fixed 48g
        (None, "48g"),             # no /proc/meminfo: the cap
    ],
)
def test_host_defaults(host, mem_kb, want):
    host.mem_kb = mem_kb
    assert session._host_defaults() == ("3", want)


def test_get_spark_defaults_fit_the_host(host):
    conf = session.get_spark()
    assert conf["master"] == "local[3]"
    assert conf["spark.driver.memory"] == "7g"
    assert conf["spark.sql.shuffle.partitions"] == "8"


def test_env_overrides_host_defaults(host, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "16")
    monkeypatch.setenv("SPARK_DRIVER_MEM", "2g")
    conf = session.get_spark()
    assert conf["master"] == "local[16]"
    assert conf["spark.driver.memory"] == "2g"
    assert conf["spark.sql.shuffle.partitions"] == "16"


@pytest.mark.parametrize(
    "master, want",
    [
        (None, "2"),             # the host default, local[3]
        ("local[1]", "1"),       # a 2-cpu task would not fit one core
        ("local", "1"),
        ("local[1,4]", "1"),     # local[N, maxFailures]
        ("local[*]", "2"),
        ("local[8]", "2"),
    ],
)
def test_task_cpus_fit_the_master(host, master, want):
    assert session.get_spark(master=master)["spark.task.cpus"] == want
