"""The default driver heap is sized from the machine: half of physical
RAM, capped at 16g, 1g when RAM cannot be read, and $SPARK_GRAFT_DRIVER_MEM
overrides it. Every test here runs without starting a Spark session."""

from __future__ import annotations

import os

from ngff_zarr_spark import session

GIB = 2**30


def _mb(spec: str) -> int:
    assert spec.endswith("m"), spec
    return int(spec[:-1])


def test_default_never_exceeds_half_of_physical_ram(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    ram = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    assert 0 < _mb(session.driver_memory()) * 2**20 <= ram // 2
    for ram in (GIB, 3 * GIB + 12345, 15 * GIB, 31 * GIB):
        assert 0 < _mb(session.default_driver_memory(ram)) * 2**20 <= ram // 2


def test_default_falls_back_to_1g_when_ram_unreadable(monkeypatch):
    def unreadable(name):
        raise ValueError(f"unrecognized configuration name {name}")

    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    monkeypatch.setattr(session.os, "sysconf", unreadable)
    assert session.physical_ram_bytes() is None
    assert session.driver_memory() == "1024m"
    for ram in (None, -4096, 0):
        assert session.default_driver_memory(ram) == "1024m"


def test_default_capped_at_16g():
    assert session.default_driver_memory(32 * GIB) == "16384m"
    assert session.default_driver_memory(512 * GIB) == "16384m"
    assert session.default_driver_memory(30 * GIB) == "15360m"


def test_env_overrides_default(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert session.driver_memory() == "3g"

    def must_not_read(name):
        raise AssertionError("RAM read although SPARK_GRAFT_DRIVER_MEM is set")

    monkeypatch.setattr(session.os, "sysconf", must_not_read)
    assert session.driver_memory() == "3g"
