"""Session defaults follow the host: core count and driver heap are
derived without starting Spark, and bench.py keys its baseline slot
by the same core count the session runs on."""

from __future__ import annotations

import os

import pytest

from mit_6_5840_mapreduce_with_go_spark import session

GIB = 2**30


@pytest.fixture()
def bare_env(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    return monkeypatch


def _phys_mem(monkeypatch, total_bytes: int) -> None:
    page = 4096
    sizes = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": total_bytes // page}
    monkeypatch.setattr(os, "sysconf", lambda name: sizes[name])


def test_cpus_default_to_usable_cores(bare_env):
    bare_env.setattr(os, "sched_getaffinity", lambda pid: {0, 1, 2, 3})
    assert session.host_cpus() == 4


def test_cpus_env_wins(bare_env):
    bare_env.setattr(os, "sched_getaffinity", lambda pid: {0, 1, 2, 3})
    bare_env.setenv("SPARK_GRAFT_CPUS", "32")
    assert session.host_cpus() == 32


@pytest.mark.parametrize(
    "total_gib, heap",
    [(15.7, "7g"), (64, "32g"), (96, "48g"), (512, "48g"), (1, "1g")],
)
def test_driver_memory_is_half_of_ram_capped(bare_env, total_gib, heap):
    _phys_mem(bare_env, int(total_gib * GIB))
    assert session.driver_memory() == heap


def test_driver_memory_env_wins(bare_env):
    _phys_mem(bare_env, 16 * GIB)
    bare_env.setenv("SPARK_GRAFT_DRIVER_MEM", "8g")
    assert session.driver_memory() == "8g"


def test_bench_slot_uses_session_cores(bare_env):
    import bench

    bare_env.setattr(os, "sched_getaffinity", lambda pid: set(range(4)))
    assert bench.host_cpus is session.host_cpus
    assert bench.host_cpus() == 4
