"""Join operators (SURVEY.md §2.4).

The reference's three dim-enrichment strategies (uncached map, Redis
sync-cache, Redis+async — DwsTradeSkuOrderWindow* variants, J5/J6) collapse
into ONE Spark mapping: a chain of broadcast hash joins. Caching, async I/O
and timeouts vanish — the dim snapshot ships to every executor once per
batch.

``candidate_pairs`` is the candidate step of every near-dup family: the
document pairs that share a key (a MinHash band bucket, an aHash band
value, a winnowing fingerprint), for a batch query and its
streaming-incremental twin alike.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: Column,
    left_ts: str,
    right_ts: str,
    lower: str,
    upper: str,
    how: str = "inner",
) -> DataFrame:
    """J3 — time-bounded equi join.

    Reference: DwdTradeOrderPaySucDetail.java:66-87 —
    ``p.row_time BETWEEN od.row_time - 15 min AND od.row_time + 5 s``.
    The time-range condition bounds state in streaming mode exactly like
    Flink's interval join (Spark requires it for stream-stream joins, W9).
    lower/upper are interval expressions, e.g. "interval 15 minutes".
    """
    cond = (
        key
        & (F.col(left_ts) >= F.col(right_ts) - F.expr(lower))
        & (F.col(left_ts) <= F.col(right_ts) + F.expr(upper))
    )
    return left.join(right, cond, how)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    left_ts: str,
    right_ts: str,
    right_cols: Sequence[str],
    how: str = "left",
) -> DataFrame:
    """Backward as-of join: for every left row, the LATEST right row with
    ``right_ts <= left_ts`` on the same key (the time-series point-in-time
    lookup Spark has no native operator for; beyond-reference coverage —
    the reference's closest shape is the interval join, J3).

    Spark-first formulation: tag + union + running ``last(ignorenulls)``
    over (key ORDER BY ts, side) — the log-merge construction. ONE shuffle
    on the key and a linear window pass; never the O(left x right-per-key)
    pair space a range-join + rank formulation materializes. Right rows
    order before left rows at equal ts (inclusive as-of); equal-ts right
    rows tie-break on ``right_cols``, so callers should pre-reduce the
    right side to one row per (key, ts) with a deterministic keeper for a
    stable result (DuckDB's native ASOF JOIN has the same contract).
    ``right_cols`` must not collide with left column names. ``how="left"``
    keeps unmatched left rows (NULL right_cols); "inner" drops them.
    """
    # the right payload travels as ONE struct: last(ignorenulls) then
    # carries whole ROWS atomically — per-column fills would reach back
    # through a newer row's NULL field and stitch together values from
    # DIFFERENT right rows (and an inner filter on one payload column
    # would wrongly drop matches whose matched row has a NULL there)
    r = right.select(
        F.col(right_on).alias(left_on),
        F.col(right_ts).alias("__asof_t"),
        F.struct(*right_cols).alias("__asof_p"),
    ).withColumn("__is_l", F.lit(0))
    lt = left.withColumn("__asof_t", F.col(left_ts)).withColumn(
        "__is_l", F.lit(1)
    )
    u = lt.unionByName(r, allowMissingColumns=True)
    from pyspark.sql import Window

    w = (
        Window.partitionBy(left_on)
        .orderBy("__asof_t", "__is_l", "__asof_p")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = u.select(
        *[c for c in left.columns],
        "__is_l",
        F.last("__asof_p", ignorenulls=True).over(w).alias("__asof_p"),
    )
    out = filled.filter(F.col("__is_l") == 1)
    if how == "inner":
        out = out.filter(F.col("__asof_p").isNotNull())
    return out.select(
        *[c for c in left.columns],
        *[F.col("__asof_p")[c].alias(c) for c in right_cols],
    )


def dim_enrich(
    fact: DataFrame,
    dims: Sequence[tuple[DataFrame, str, str]],
    how: str = "left",
) -> DataFrame:
    """J5/J6 — multi-way broadcast dim-chain enrichment.

    ``dims`` is a sequence of (dim_df, fact_key, dim_key); joins apply in
    order, so later dims may key on columns added by earlier ones — exactly
    the reference's sku -> spu -> trademark -> cat3 -> cat2 -> cat1 chain
    (DwsTradeSkuOrderWindowAsyncCache.java:152-257). Each dim is broadcast:
    replaces per-record Redis GET / HBase GET / 24 h cache TTL / async
    waits (DimAsyncFunction.java:39-82) with zero external systems.
    """
    out = fact
    for dim_df, fact_key, dim_key in dims:
        out = out.join(
            F.broadcast(dim_df), out[fact_key] == dim_df[dim_key], how
        ).drop(dim_df[dim_key])
    return out


def candidate_pairs(
    new: DataFrame,
    keys: Sequence[str],
    old: DataFrame | None = None,
    carry: Sequence[str] = (),
) -> DataFrame:
    """Document pairs sharing a key value: one row per (pair, shared key
    value) with ``doc_a < doc_b``, the ``keys`` columns, then ``<c>_a`` and
    ``<c>_b`` for each carried column ``c``, each following its document.

    ``new`` and ``old`` are ``(doc_id, *keys, *carry)`` frames with one
    row per (doc_id, key value). Every output row has a side in ``new``:

    - ``new`` joined with itself on the keys and ``doc_id <`` — with
      ``old=None`` this is the whole batch self-join;
    - ``new`` joined with ``old`` on the keys, oriented by doc id.

    Contract: no doc id is in both ``new`` and ``old`` (a streaming twin's
    doc ids are unique across micro-batches). Then the first join emits a
    pair once per shared key and the second cannot emit it again, so no
    ``distinct`` is needed. A doc id sent again in a later batch would
    pair with itself here.
    """
    a = new.alias("a")
    on = [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys]
    lo = F.col("a.doc_id") < F.col("b.doc_id")
    pairs = a.join(new.alias("b"), [*on, lo]).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        *[F.col(f"a.{k}").alias(k) for k in keys],
        *[F.col(f"{s}.{c}").alias(f"{c}_{s}") for c in carry for s in "ab"],
    )
    if old is None:
        return pairs

    def follow(c: str, side: str) -> Column:
        # doc_a is new's doc (alias a) exactly when lo holds
        other = "b" if side == "a" else "a"
        return F.when(lo, F.col(f"{side}.{c}")).otherwise(F.col(f"{other}.{c}"))

    return pairs.unionByName(
        a.join(old.alias("b"), on).select(
            F.least("a.doc_id", "b.doc_id").alias("doc_a"),
            F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
            *[F.col(f"a.{k}").alias(k) for k in keys],
            *[follow(c, s).alias(f"{c}_{s}") for c in carry for s in "ab"],
        )
    )
