"""Session defaults that depend on the host."""

from __future__ import annotations

import os

import pytest

from insideout_spark import session


def _fake_sysconf(ram_bytes):
    def sysconf(name):
        return {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": ram_bytes // 4096}[name]

    return sysconf


@pytest.mark.parametrize("ram_gib, heap", [(15, "9216m"), (16, "9830m"), (40, "24g"), (128, "24g")])
def test_driver_memory_is_capped_by_ram(monkeypatch, ram_gib, heap):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    monkeypatch.setattr(os, "sysconf", _fake_sysconf(ram_gib << 30))
    assert session.driver_memory() == heap


def test_driver_memory_env_override(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    monkeypatch.setattr(os, "sysconf", _fake_sysconf(15 << 30))
    assert session.driver_memory() == "3g"


def test_driver_memory_without_sysconf(monkeypatch):
    def missing(name):
        raise ValueError(name)

    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    monkeypatch.setattr(os, "sysconf", missing)
    assert session.driver_memory() == "24g"
