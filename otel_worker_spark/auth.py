"""F6 — bearer-token auth gate (otel-worker/src/middleware/auth.rs:6-27).

The reference guards every HTTP route with one middleware: take the
``Authorization`` header (missing/unparsable → ""), split on the FIRST
space, require exactly ``("Bearer", <expected>)``, else 401.
``check_bearer`` is that decision; ``api.serve`` applies it to every
HTTP route (gRPC Export stays ungated, as in the reference).

Constant-time comparison (hmac.compare_digest) — the reference's
``token == expected_token`` is a plain compare, but an engine-side
gate should not leak token prefixes through timing.
"""

from __future__ import annotations

import hmac


def check_bearer(auth_header: str | None, expected_token: str) -> bool:
    """Exact reference semantics: header → "" when missing; split on
    the first space; scheme must be literally "Bearer"; token must
    equal the expected one. "Bearer  x" (double space) fails like the
    reference (token would be " x")."""
    header = auth_header or ""
    scheme, sep, token = header.partition(" ")
    if not sep or scheme != "Bearer":
        return False
    return hmac.compare_digest(token, expected_token)

