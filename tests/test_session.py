"""session.py: the default driver heap follows the machine's memory."""

from __future__ import annotations

import os

from graphlab_spark import session


def _machine(monkeypatch, gib: int) -> None:
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": gib * 2**30 // 4096}
    monkeypatch.setattr(os, "sysconf", pages.__getitem__)


def test_driver_memory_defaults_to_a_quarter_of_ram(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    _machine(monkeypatch, 16)
    assert session._driver_memory() == "4096m"
    _machine(monkeypatch, 2)
    assert session._driver_memory() == "1024m"  # the 1 GiB floor


def test_driver_memory_env_var_overrides(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "6g")
    _machine(monkeypatch, 16)
    assert session._driver_memory() == "6g"
