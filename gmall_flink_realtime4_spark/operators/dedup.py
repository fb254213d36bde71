"""Dedup operators (SURVEY.md §2.5 A1/A8).

The reference implements two recurring stateful dedups with keyed Flink
state; here each has a batch-deterministic form (window functions /
aggregation — usable under the DuckDB oracle) and a streaming form
(dropDuplicates under watermark — state auto-evicted).
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def dedup_within_watermark(
    df: DataFrame, id_cols: Sequence[str]
) -> DataFrame:
    """A1 with the reference's state TTL (W4) — duplicates are only netted
    out while their key's state is alive.

    Reference: DwsTradeSkuOrderWindow.java:77-118 keeps the last-seen
    amounts per order_detail_id under a 30 s TTL — re-emissions arrive
    within seconds, so bounded state suffices. Spark twin:
    ``dropDuplicatesWithinWatermark`` — state for a key is dropped once the
    watermark passes its event time + delay, giving O(watermark-window)
    state instead of O(stream). Requires a watermark upstream; duplicates
    farther apart than the watermark delay are NOT deduped (exactly the
    TTL semantics).
    """
    return df.dropDuplicatesWithinWatermark(list(id_cols))


def _orderable(df: DataFrame, exclude: set) -> list[str]:
    """Columns usable in a sort order (Spark cannot order MAP types —
    including maps NESTED inside arrays/structs, hence substring match)."""
    return [
        c
        for c, t in df.dtypes
        if c not in exclude and "map<" not in t
    ]


def first_per_key(
    df: DataFrame, keys: Sequence[str], order_col: str
) -> DataFrame:
    """Deterministic first-row-per-key (batch). The remaining orderable
    tuple tie-breaks equal (key, order_col) rows — the CLAUDE.md
    total-order invariant (duplicate synthesized ids with different
    payloads must pick the same keeper under any partitioning)."""
    rest = _orderable(df, set(keys) | {order_col})
    w = Window.partitionBy(*keys).orderBy(order_col, *rest)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def first_today(
    df: DataFrame,
    key: str,
    ts_col: str = "ts",
    streaming: bool = False,
) -> DataFrame:
    """A8 — keep each key's first event per day ("今日首次", uv/uu dedup).

    Reference: keyed ValueState lastVisitDate compared with today
    (DwsTrafficVcChArIsNewPageViewWindow.java:61-105,
    DwsUserUserLoginWindow.java:73-107, DwsTradeCartAddUuWindow.java:76-97).
    Batch: min-ts row per (key, day); streaming: dropDuplicates on
    (key, day).

    State caveat (streaming): the dedup subset excludes the event-time
    column, so Spark does NOT evict this state by watermark — it grows
    O(keys x days) over the stream's lifetime. That is exactly the
    reference's own posture (its ValueState has no TTL either) and is fine
    for bounded replays and day-scale jobs, not for unbounded ones. The
    upside of dropDuplicates here is that watermark metadata SURVIVES it,
    so downstream windowed aggs keep working (applyInPandasWithState
    would strip the watermark).
    """
    day = F.date_format(F.col(ts_col), "yyyy-MM-dd").alias("__day")
    with_day = df.withColumn("__day", day)
    if streaming:
        return with_day.dropDuplicates([key, "__day"]).drop("__day")
    return first_per_key(with_day, [key, "__day"], ts_col).drop("__day")
