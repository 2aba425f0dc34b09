"""Session defaults fit the host they run on."""

from __future__ import annotations

import os

import pytest

from otel_worker_spark import session


def _mb(value: str) -> int:
    assert value.endswith("m")
    return int(value[:-1])


def test_default_driver_memory_fits_the_host():
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    limit = session.memory_limit_bytes()
    assert 0 < limit <= ram
    mb = _mb(session.default_driver_memory())
    assert 0 < mb * 2**20 <= limit // 2
    assert mb <= session.DRIVER_MEMORY_CAP_MB


def test_default_driver_memory_is_half_the_limit_capped(monkeypatch):
    monkeypatch.setattr(session, "memory_limit_bytes", lambda: 6 * 2**30)
    assert session.default_driver_memory() == "3072m"
    monkeypatch.setattr(session, "memory_limit_bytes", lambda: 256 * 2**30)
    assert session.default_driver_memory() == "16384m"


def test_session_uses_the_default(spark):
    if os.environ.get("SPARK_GRAFT_DRIVER_MEM"):
        pytest.skip("SPARK_GRAFT_DRIVER_MEM overrides the default")
    # the session fixture was built by get_spark, so its conf holds the default
    assert spark.conf.get("spark.driver.memory") == session.default_driver_memory()
