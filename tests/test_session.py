"""Driver heap sizing (session._driver_heap): no Spark session needed."""

from __future__ import annotations

import pytest

from hgraphstorage_spark import session


@pytest.fixture
def fresh_heap():
    session._driver_heap.cache_clear()
    yield session._driver_heap
    session._driver_heap.cache_clear()


def test_jvm_bytes():
    assert session._jvm_bytes("8g") == 8 << 30
    assert session._jvm_bytes("8192m") == 8 << 30
    assert session._jvm_bytes("512k") == 512 << 10
    assert session._jvm_bytes("1024") == 1024
    with pytest.raises(ValueError, match="not a JVM memory size"):
        session._jvm_bytes("lots")


def test_default_fits_available_memory(fresh_heap, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    heap = session._jvm_bytes(fresh_heap())
    # MemAvailable moves between reads; MemTotal bounds it from above
    total = session._meminfo_bytes("MemTotal")
    assert 0 < heap <= min(24 << 30, int(total * 0.55))


def test_explicit_value_wins(fresh_heap, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "1g")
    assert fresh_heap() == "1g"


def test_explicit_value_beyond_physical_memory_raises(fresh_heap, monkeypatch):
    total = session._meminfo_bytes("MemTotal")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", f"{(total >> 30) + 1}g")
    with pytest.raises(ValueError, match="exceeds physical memory"):
        fresh_heap()
