"""Session defaults that need no Spark session to check."""

from __future__ import annotations

import pytest

from streamy_db_spark import session

GIB = 2**30


@pytest.mark.parametrize(
    "phys_bytes, expected",
    [
        (15 * GIB, "11520m"),  # ¾ of a 15 GiB host, not the 16g cap
        (64 * GIB, "16384m"),  # capped at 16 GiB
        (4 * GIB, "3072m"),
    ],
)
def test_default_driver_memory_is_three_quarters_of_ram_capped(
    monkeypatch, phys_bytes, expected
):
    page = 4096
    pages = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": phys_bytes // page}
    monkeypatch.setattr(session.os, "sysconf", lambda name: pages[name])
    assert session.default_driver_memory() == expected
