"""Session defaults that are decided before any JVM starts."""

import os

from building_a_rag_pipeline_with_airflow_spark import session


def test_driver_memory_is_half_of_host_capped_at_48g(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert session._driver_memory(15 * 2**30) == "7680m"
    assert session._driver_memory(96 * 2**30) == "49152m"
    assert session._driver_memory(512 * 2**30) == "49152m"
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    here = int(session._driver_memory().rstrip("m"))
    assert 0 < here <= min(48 * 1024, phys_mb // 2)


def test_driver_memory_env_override_wins(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert session._driver_memory(15 * 2**30) == "3g"
    assert session._driver_memory() == "3g"
