"""Tokenize UTF-8 payload text into token arrays.

The graft's wire format (BASELINE.json:input_hint) is a pre-tokenized
sequence ``tokens:array<int32>``. The fixture vocabulary is the
identity byte vocab (FIXTURES.md §1): ``tokens[i] = byte[i]`` of the
UTF-8 payload, so token-array equality ⇔ payload byte equality, and
the mapping is deterministic and reversible.

``tokenize_expr`` is a pure JVM expression (hex/encode/conv inside
whole-stage codegen), so fixtures and sources build token tables
without a Python stage. The reverse direction lives in the parse
kernel (``parse_arrow``), which reads the token column as a numpy
byte view.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def tokenize_expr(payload: Column | str) -> Column:
    """JVM-only tokenize: encode UTF-8 → hex → 2-char split → ints."""
    c = F.col(payload) if isinstance(payload, str) else payload
    pairs = F.split(F.hex(F.encode(c, "UTF-8")), r"(?<=\G..)")
    pairs = F.filter(pairs, lambda p: p != F.lit(""))
    return F.transform(pairs, lambda p: F.conv(p, 16, 10).cast("int"))
