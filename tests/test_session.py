"""The engine session's resource defaults."""

from __future__ import annotations

import os

from ssafynews_data_spark.session import session_builder


def test_driver_heap_default_follows_physical_ram(monkeypatch):
    """Unset, the driver heap is a quarter of physical RAM (at most
    16g), so it never claims the whole machine; ``SPARK_GRAFT_DRIVER_MEM``
    still overrides it."""
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1024 * 1024)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    heap = session_builder()._options["spark.driver.memory"]
    assert heap == f"{min(16 * 1024, phys_mb // 4)}m"
    assert int(heap[:-1]) <= phys_mb // 2
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "1500m")
    assert session_builder()._options["spark.driver.memory"] == "1500m"
