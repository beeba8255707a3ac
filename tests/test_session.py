"""Session sizing: the driver heap and core count derive from the host,
so the session starts on any host size without extra environment."""

from __future__ import annotations

import pytest

from ebike_spark import session


@pytest.mark.parametrize(
    "mem_total_mb, heap",
    [
        (15_693, "9415m"),  # 16 GB host: ~60%
        (64 * 1024, "24576m"),  # large host: capped at 24g
        (40_960, "24576m"),  # 60% of 40 GiB is exactly the cap
        (512, "512m"),  # tiny host: floor
        (None, "24576m"),  # unknown host size: the cap
    ],
)
def test_heap_for_host(mem_total_mb, heap):
    assert session.heap_for_host(mem_total_mb) == heap
    # every default is a JVM-legal -Xms/-Xmx value
    assert session._normalize_heap(heap) == heap


def test_mem_total_reads_meminfo(tmp_path):
    info = tmp_path / "meminfo"
    info.write_text("MemTotal:       16456384 kB\nMemFree:         1000 kB\n")
    assert session._mem_total_mb(str(info)) == 16_070


def test_mem_total_falls_back_without_meminfo(tmp_path):
    got = session._mem_total_mb(str(tmp_path / "missing"))
    assert got is None or got > 0


def test_cpus_env_override_and_nproc(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session._cpus() == 3
    # unset or non-numeric: the CPUs this process may run on
    for value in ("", "0", "auto"):
        monkeypatch.setenv("SPARK_GRAFT_CPUS", value)
        assert session._cpus() >= 1
    monkeypatch.setattr(session.os, "sched_getaffinity", lambda pid: {0, 1}, raising=False)
    assert session._cpus() == 2
