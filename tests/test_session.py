"""Session-factory defaults come from the host, not a constant."""

from __future__ import annotations

import os

from data_engineering_user_session_analysis_spark.session import driver_memory


def _bytes(mem: str) -> int:
    units = {"k": 2**10, "m": 2**20, "g": 2**30, "t": 2**40}
    return int(mem[:-1]) * units[mem[-1].lower()]


def test_driver_memory_default_fits_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    heap = _bytes(driver_memory())
    assert 2**30 <= heap <= phys


def test_driver_memory_env_override_wins(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert driver_memory() == "3g"
