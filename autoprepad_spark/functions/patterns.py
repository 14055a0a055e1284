"""String structural-pattern encodings.

Reference parity (CategoricalPatterns.py:46-92): each character is mapped
to a class — Upper, lower, digit, other — and the per-string class
sequence plus its length become features that expose format breaks
(e.g. 'Hund123' vs 'Hund'). The reference emits a BitArray hex string
(Upper->00 lower->01 digit->10 other->11, leading '0'); we default to the
readable class alphabet U/l/d/o (same information, SQL-portable).

Chained regexp_replace stays inside whole-stage codegen — no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def charclass_encode(col: Column | str) -> Column:
    """'Hund123' -> 'Ulllddd' (Upper/lower/digit/other classes)."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.regexp_replace(c, "[A-Z]", "U")
    out = F.regexp_replace(out, "[a-z]", "l")
    out = F.regexp_replace(out, "[0-9]", "d")
    out = F.regexp_replace(out, "[^Uld]", "o")
    return out
