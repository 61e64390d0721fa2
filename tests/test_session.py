"""Session sizing defaults come from the host, not fixed constants."""

from __future__ import annotations

import pytest

from rca_data_tools_spark import session


@pytest.mark.parametrize(
    "ram_gib, heap",
    [(0.5, "1g"), (3, "1g"), (16, "8g"), (64, "32g"), (512, "48g")],
)
def test_default_driver_memory_is_half_of_ram_capped(monkeypatch, ram_gib, heap):
    page = 4096
    pages = int(ram_gib * (1 << 30)) // page
    monkeypatch.setattr(
        session.os, "sysconf", lambda name: page if name == "SC_PAGE_SIZE" else pages
    )
    assert session._default_driver_memory() == heap
