"""session.driver_memory: the driver heap default follows the host, so a
JVM never gets a heap the machine cannot back. No JVM is started."""

import pytest

from outbreak_kg_spark import session

GIB = 1 << 30


@pytest.mark.parametrize("phys_gib, want", [
    (15.6, "7g"),    # half, rounded down to whole GiB
    (64, "24g"),     # capped
    (1, "1g"),       # at least 1g
])
def test_driver_memory_is_half_the_host(monkeypatch, phys_gib, want):
    page = 4096
    pages = int(phys_gib * GIB) // page
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    monkeypatch.setattr(session.os, "sysconf", lambda name: {
        "SC_PAGE_SIZE": page, "SC_PHYS_PAGES": pages}[name])
    assert session.driver_memory() == want


def test_driver_memory_env_override(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert session.driver_memory() == "3g"
