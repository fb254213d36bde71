"""md5-hex values: the random oracle of the sampling, sketch and checksum
queries, and the one KMV (k-minimum-values) sketch per engine.

``hexval_sql`` reads the first 12 hex digits of an md5 as a BIGINT (the
KMV hash space ``KMV_M``); ``hexv`` reads any digit range. Both emit SQL
text that is identical for Spark (``instr``) and DuckDB (``strpos``).

KMV: ``kmv_fold`` folds md5 hashes to the k smallest per key (Spark),
``kmv_merge`` is its second half over per-bucket hash sets,
``kmv_union`` merges overlapping sketches, ``kmv_estimate`` is the
estimator Column and ``kmv_sql`` the DuckDB ranked-k-th CTE with the
same estimate. md5 makes the estimate deterministic, so both engines
report the identical number.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

HEX = "0123456789abcdef"

# KMV (k-minimum-values) sketch size and its hash space: the first 12 hex
# digits of an md5, read as a BIGINT.
KMV_K = 64
KMV_HEX_DIGITS = 12  # 48-bit hash value: fits BIGINT exactly
KMV_M = 16 ** KMV_HEX_DIGITS
# k-min fold fanout: buckets per key, salted by the hash's leading digit
KMV_SALT = 16


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
        f"({fn}('{HEX}', substr({col}, {start + i}, 1)) - 1) * "
        f"CAST({16 ** (nd - 1 - i)} AS BIGINT)"
        for i in range(nd)
    ) + ")"


def kmv_salt() -> Column:
    """The bucket of the md5 hex hash ``hx``: its leading digit mod
    ``KMV_SALT``. The salt partitions the hash space, so bucket k-mins
    merge losslessly and bucket distinct counts are disjoint."""
    return F.expr(f"instr('{HEX}', substr(hx, 1, 1)) % {KMV_SALT}")


def kmv_fold(df: DataFrame, keys: Sequence[str] = ()) -> DataFrame:
    """Salted k-min partial-aggregate fold of the md5 hashes ``hx`` of
    ``(keys..., hx)`` rows: each (keys, salt) bucket folds its distinct
    hashes to one sorted set via map-side-combinable collect_set, then
    ``kmv_merge`` keeps the k smallest per key. ``keys=()`` is the global
    sketch. Returns (keys..., n = exact distinct-hash count, kmin)."""
    buckets = (
        df.withColumn("salt", kmv_salt())
        .groupBy(*keys, "salt")
        .agg(F.array_sort(F.collect_set("hx")).alias("hs"))
    )
    return kmv_merge(buckets, keys)


def kmv_merge(
    buckets: DataFrame, keys: Sequence[str] = (), sums: Sequence[str] = ()
) -> DataFrame:
    """Per-key merge of salted buckets ``(keys..., hs, sums...)``, ``hs``
    a bucket's sorted distinct hash set: each bucket contributes its
    k-prefix, and the merge sorts at most ``KMV_SALT`` x k values.
    ``sums`` columns add up per key. Returns (keys..., sums..., n, kmin)."""
    part = buckets.select(
        *keys,
        F.slice("hs", 1, KMV_K).alias("kmin"),
        F.size("hs").cast("bigint").alias("n_bucket"),
        *sums,
    )
    return part.groupBy(*keys).agg(
        *[F.sum(c).alias(c) for c in sums],
        F.sum("n_bucket").alias("n"),
        F.slice(
            F.array_sort(F.flatten(F.collect_list("kmin"))), 1, KMV_K
        ).alias("kmin"),
    )


def kmv_union(sketches: DataFrame) -> DataFrame:
    """One sketch of the union of overlapping ``kmv_fold`` sketches (one
    row out): the k smallest of their DISTINCT k-min hashes — a hash in
    several sketches counts once. Every one of the union's k smallest
    hashes is inside its own sketch's k-min set, so the merge is exact.
    ``n`` is the merged set's size: below k it is the exact union."""
    return sketches.agg(
        F.slice(
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("kmin")))),
            1,
            KMV_K,
        ).alias("kmin")
    ).select(F.size("kmin").cast("bigint").alias("n"), "kmin")


def kmv_estimate() -> Column:
    """The KMV distinct estimate (BIGINT) of a ``kmv_fold`` row (n, kmin):
    ``(k-1) * M div v_k`` with ``v_k`` the k-th smallest hash, or ``n``
    itself when the sketch holds fewer than k hashes (then it is the exact
    set)."""
    v = hexval_sql(f"element_at(kmin, cast(least(n, {KMV_K}) as int))", "instr")
    return (
        F.when(F.col("n") < KMV_K, F.col("n"))
        .otherwise(F.expr(f"({KMV_K - 1} * {KMV_M}) div greatest({v}, 1)"))
        .cast("bigint")
    )


def kmv_sql(src: str, keys: Sequence[str] = (), name: str = "kth") -> str:
    """DuckDB CTEs for the KMV sketch of the DISTINCT hashes ``hx`` of
    relation ``src``: ``{name}_r`` (keys..., hx, rn, n) ranks them per key
    with their count ``n``, and ``{name}`` (keys..., n, hx, est) keeps the
    k-th smallest (or the last, below k) with the estimate ``est`` that
    ``kmv_estimate`` computes."""
    by = f"PARTITION BY {', '.join(keys)}" if keys else ""
    cols = "".join(f"{k}, " for k in keys)
    v = hexval_sql("hx", "strpos")
    return f"""{name}_r AS (
    SELECT {cols}hx,
           row_number() OVER ({by} ORDER BY hx) AS rn,
           COUNT(*) OVER ({by}) AS n
    FROM {src}
), {name} AS (
    SELECT {cols}n, hx,
           CASE WHEN n < {KMV_K} THEN n
                ELSE ({KMV_K - 1} * {KMV_M}) // greatest({v}, 1) END AS est
    FROM {name}_r WHERE rn = LEAST(n, {KMV_K})
)"""
