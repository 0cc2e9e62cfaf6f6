"""get_spark() sizes itself from the host unless the environment says
otherwise: every core this process may run on, and a driver heap of at
most half the physical memory."""

from __future__ import annotations

from trino_adaptive_partitioning_tool_spark import session


def test_default_parallelism_is_the_affinity_set(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(session.os, "sched_getaffinity", lambda pid: {0, 2, 5})
    assert session.default_parallelism() == 3
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    assert session.default_parallelism() == 32


def test_default_driver_memory_is_half_physical_capped_at_16g(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    conf = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": 15 * 2**30 // 4096}
    monkeypatch.setattr(session.os, "sysconf", conf.__getitem__)
    assert session.default_driver_memory() == "7680m"
    conf["SC_PHYS_PAGES"] = 64 * 2**30 // 4096
    assert session.default_driver_memory() == "16384m"
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    assert session.default_driver_memory() == "2g"
