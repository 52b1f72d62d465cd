"""Host-fitting session defaults, computed without starting a session."""

import os

import pytest

from vamana_spark.session import DRIVER_MEM_MAX_MB, DRIVER_MEM_MIN_MB, host_defaults

GB = 1 << 30


@pytest.fixture
def host(monkeypatch):
    """Fake a host: ``host(cpus, mem_bytes)`` with no override env vars."""
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)

    def fake(cpus, mem_bytes):
        monkeypatch.setattr(os, "sched_getaffinity", lambda pid: set(range(cpus)), raising=False)
        pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": mem_bytes // 4096}
        monkeypatch.setattr(os, "sysconf", pages.__getitem__)

    return fake


def test_defaults_follow_the_host(host):
    host(4, 16 * GB)
    assert host_defaults() == ("4", "4096m")


def test_driver_memory_is_clamped(host):
    host(2, GB)
    assert host_defaults()[1] == f"{DRIVER_MEM_MIN_MB}m"
    host(64, 512 * GB)
    assert host_defaults()[1] == f"{DRIVER_MEM_MAX_MB}m"


def test_env_overrides_win(host, monkeypatch):
    host(4, 16 * GB)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    assert host_defaults() == ("3", "2g")


def test_real_host_values_are_sane(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    cpus, mem = host_defaults()
    assert int(cpus) >= 1
    assert DRIVER_MEM_MIN_MB <= int(mem[:-1]) <= DRIVER_MEM_MAX_MB
