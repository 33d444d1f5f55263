"""Session sizing: with no deployment settings the session fits the
machine it runs on; the two environment variables override it. Computed
without starting a JVM."""

from __future__ import annotations

import os

from tepsonic_database_sync_spark.session import session_size


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return kb // 1024


def test_defaults_fit_the_machine(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    cpus, mem = session_size()
    assert cpus == len(os.sched_getaffinity(0))
    assert mem.endswith("m")
    assert 0 < int(mem[:-1]) <= _mem_total_mb() // 4


def test_environment_overrides(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "1g")
    assert session_size() == (3, "1g")
