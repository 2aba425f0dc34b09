"""F6 — bearer auth gate parity with middleware/auth.rs:6-27."""

from __future__ import annotations

import pytest

from otel_worker_spark.auth import check_bearer


@pytest.mark.parametrize(
    ("header", "ok"),
    [
        ("Bearer s3cret", True),
        ("Bearer wrong", False),
        ("bearer s3cret", False),      # scheme is case-sensitive
        ("Bearer  s3cret", False),     # split_once: token = " s3cret"
        ("Bearers3cret", False),       # no space at all
        ("Basic s3cret", False),
        ("", False),
        (None, False),
        ("Bearer s3cret extra", False),  # token = "s3cret extra"
        ("Bearer", False),
    ],
)
def test_check_bearer(header, ok):
    assert check_bearer(header, "s3cret") is ok

