"""The local JVM's default heap is sized to the host (no Spark needed)."""

from __future__ import annotations

import pytest

from code_graph_backend_spark import session

GIB = 1024**3


@pytest.fixture()
def host(monkeypatch):
    """Set the probed physical memory and cgroup limit, in bytes."""
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)

    def set_host(physical, cgroup=None):
        monkeypatch.setattr(session, "_physical_memory_bytes", lambda: physical)
        monkeypatch.setattr(session, "_cgroup_memory_limit", lambda: cgroup)

    return set_host


def test_large_host_keeps_48g(host):
    host(128 * GIB)
    assert session.driver_memory() == "48g"


def test_small_host_gets_half_its_memory(host):
    host(int(15.7 * GIB))
    assert session.driver_memory() == f"{int(15.7 * 1024 / 2)}m"


def test_lower_cgroup_limit_halves_the_limit(host):
    host(64 * GIB, cgroup=10 * GIB)
    assert session.driver_memory() == f"{5 * 1024}m"
    host(16 * GIB, cgroup=2**63 - 4096)  # cgroup v1 "no limit"
    assert session.driver_memory() == f"{8 * 1024}m"


def test_env_override_always_wins(host, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    for physical, cgroup in ((128 * GIB, None), (4 * GIB, GIB), (None, None)):
        host(physical, cgroup)
        assert session.driver_memory() == "3g"


def test_cgroup_probe_reads_v2_max_as_no_limit(monkeypatch, tmp_path):
    v2, v1 = tmp_path / "memory.max", tmp_path / "limit_in_bytes"
    monkeypatch.setattr(session, "_CGROUP_LIMIT_FILES", (str(v2), str(v1)))
    assert session._cgroup_memory_limit() is None
    v1.write_text(f"{3 * GIB}\n")
    assert session._cgroup_memory_limit() == 3 * GIB
    v2.write_text("max\n")
    assert session._cgroup_memory_limit() is None
    v2.write_text(f"{GIB}\n")
    assert session._cgroup_memory_limit() == GIB
