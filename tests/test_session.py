"""Unit tests for the host-sized driver heap in ebike_spark.session
(no JVM is started)."""

from __future__ import annotations

import os

import pytest

from ebike_spark import session


def _physical_mb() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20


def test_derived_heap_never_exceeds_physical_memory():
    host = session._host_mem_mb()
    assert 0 < host <= _physical_mb()
    heap = session._default_heap_mb(host)
    assert heap <= host // 2 <= _physical_mb()
    for avail in (0, 300, 1024, 4000, 15_000, 64_000, 2_000_000):
        heap = session._default_heap_mb(avail)
        assert 0 <= heap <= avail // 2
        assert heap % 256 == 0
        assert heap <= 24 * 1024


def test_driver_mem_explicit_or_host_sized(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert session._driver_mem(15_000) == "7424m"
    assert session._heap_mb(session._driver_mem(session._host_mem_mb())) <= _physical_mb()
    # an explicit setting is used unchanged, even where it would not fit
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "24gb")
    assert session._driver_mem(15_000) == "24g"


def test_heap_size_units():
    assert session._heap_mb("24g") == 24 * 1024
    assert session._heap_mb("2048m") == 2048
    assert session._heap_mb(session._normalize_heap("1gb")) == 1024
    assert session._heap_mb("1t") == 1024 * 1024


def test_pinned_heap_that_does_not_fit_fails_fast(monkeypatch):
    monkeypatch.setattr(session, "_PIN_HEAP", True)
    session._check_heap_fits("2048m", 15_000)
    with pytest.raises(RuntimeError, match="exceeds the 15000 MiB"):
        session._check_heap_fits("24g", 15_000)
    with pytest.raises(RuntimeError, match="below 256m"):
        session._check_heap_fits("0m", 300)
    # an unpinned heap is committed lazily, so it may exceed what is free
    monkeypatch.setattr(session, "_PIN_HEAP", False)
    session._check_heap_fits("24g", 15_000)
