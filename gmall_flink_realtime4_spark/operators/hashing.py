"""md5-hex values: the random oracle of the sampling, sketch and checksum
queries.

``hexval_sql`` reads the first 12 hex digits of an md5 as a BIGINT (the
KMV hash space ``KMV_M``); ``hexv`` reads any digit range. Both emit SQL
text that is identical for Spark (``instr``) and DuckDB (``strpos``).
"""

from __future__ import annotations

HEX = "0123456789abcdef"

# KMV (k-minimum-values) sketch size and its hash space: the first 12 hex
# digits of an md5, read as a BIGINT.
KMV_K = 64
KMV_HEX_DIGITS = 12  # 48-bit hash value: fits BIGINT exactly
KMV_M = 16 ** KMV_HEX_DIGITS


def hexval_sql(col: str, fn: str) -> str:
    """Numeric value of the first 12 hex chars of ``col`` — identical text
    for Spark (fn='instr') and DuckDB (fn='strpos').

    Every coefficient is CAST to BIGINT: bare ``16**7`` parses as INT32, and
    ``(instr(..)-1) * 268435456`` overflows 32-bit exactly when the digit is
    >= 8 — an ANSI-mode runtime error that only fires on half of all hash
    values (a data-dependent landmine, found when a new query hashed every
    doc instead of just the k-th order statistic). The whole sum is
    parenthesized so callers can inline it into larger expressions without
    a trailing operator rebinding to just the last term."""
    return "(" + " + ".join(
        f"({fn}('{HEX}', substr({col}, {i + 1}, 1)) - 1) * "
        f"CAST({16 ** (KMV_HEX_DIGITS - 1 - i)} AS BIGINT)"
        for i in range(KMV_HEX_DIGITS)
    ) + ")"


def hexv(col: str, start: int, nd: int, fn: str) -> str:
    """Numeric value of ``nd`` hex chars of ``col`` from 1-based ``start``
    — the generalized `hexval_sql` (same BIGINT-cast discipline; see its
    docstring for the INT32-overflow landmine)."""
    return "(" + " + ".join(
        f"({fn}('0123456789abcdef', substr({col}, {start + i}, 1)) - 1) * "
        f"CAST({16 ** (nd - 1 - i)} AS BIGINT)"
        for i in range(nd)
    ) + ")"
