"""Spark-free checks on ``session.py``'s local-mode defaults."""

from __future__ import annotations

import os

from crypto_market_data_etl_spark import session


def test_driver_memory_defaults_to_half_of_physical_capped_at_16g(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    for phys_gb, want in ((8, "4096m"), (15, "7680m"), (32, "16384m"), (64, "16384m")):
        conf = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": phys_gb * 2**30 // 4096}
        monkeypatch.setattr(os, "sysconf", conf.__getitem__)
        assert session._driver_memory() == want, phys_gb
    # an explicit setting always wins
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "2g")
    assert session._driver_memory() == "2g"
