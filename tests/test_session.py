"""session.py defaults that depend on the machine."""

from __future__ import annotations

import os

import pytest

from docling_api_spark import session

GIB = 2**30


@pytest.mark.parametrize(
    ("phys_gib", "expected"),
    [(15.6, "7g"), (16, "8g"), (48, "24g"), (512, "24g"), (1, "1g"), (0.5, "1g")],
)
def test_driver_memory_is_half_physical_capped(monkeypatch, phys_gib, expected):
    page = 4096
    pages = int(phys_gib * GIB) // page
    sysconf = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": pages}
    monkeypatch.setattr(os, "sysconf", sysconf.__getitem__)
    assert session.default_driver_memory() == expected


def test_driver_memory_without_sysconf_keeps_the_cap(monkeypatch):
    def unsupported(name):
        raise ValueError(name)

    monkeypatch.setattr(os, "sysconf", unsupported)
    assert session.default_driver_memory() == "24g"


def test_driver_memory_fits_this_machine():
    gib = int(session.default_driver_memory()[:-1])
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert 1 <= gib <= 24
    assert gib * GIB <= max(phys, GIB)
