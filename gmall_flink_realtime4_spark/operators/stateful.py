"""Genuinely stateful operators (SURVEY.md §2.9 W10, §2.5 A8 derived flags).

The few places DataFrame expressions can't express the reference's keyed
state machines. Each operator ships two twins:

- batch: window functions over the full history (deterministic, oracle-able)
- streaming: ``applyInPandasWithState`` keyed state (Arrow-batched; the
  Spark-4 path for Flink's ValueState + TTL, W4)
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def repair_is_new_batch(
    df: DataFrame,
    mid_col: str = "mid",
    is_new_col: str = "is_new",
    ts_col: str = "ts",
    tie_cols: tuple[str, ...] = (),
) -> DataFrame:
    """W10 — visitor-state-machine repair of the is_new flag (batch twin).

    Reference: DwdBaseLog.java:72-108 — keyed ValueState firstVisitDate:
    * is_new='1' & no state            -> keep 1, state := today
    * is_new='1' & state == today      -> keep 1
    * is_new='1' & state earlier day   -> rewrite to 0
    * is_new='0' & no state            -> backfill state := yesterday
      (visitor is old; any later same-day is_new='1' still rewrites to 0)

    Net batch semantics: a record keeps is_new='1' iff its mid's FIRST
    record (by ts) had is_new='1' and this record falls on that first day.
    """
    # tie_cols pin a deterministic FIRST when two events share a
    # millisecond (log ts granularity) — without it first_new/first_day
    # resolve arbitrarily and can flip is_new for the whole first day
    w = Window.partitionBy(mid_col).orderBy(
        ts_col, *[F.col(c) for c in tie_cols]
    )
    # log ts is epoch millis (DwdBaseLog reads topic_log; FIXTURES.md §2);
    # accept either a raw BIGINT-millis or an already-typed timestamp column
    is_long = dict(df.dtypes).get(ts_col) == "bigint"
    day_src = (
        F.timestamp_millis(F.col(ts_col)) if is_long else F.col(ts_col)
    )
    day = F.date_format(day_src, "yyyy-MM-dd")
    with_first = df.withColumn("__first_day", F.first(day).over(w)).withColumn(
        "__first_new", F.first(F.col(is_new_col)).over(w)
    )
    repaired = F.when(
        (F.col(is_new_col) == "1")
        & (F.col("__first_new") == "1")
        & (day == F.col("__first_day")),
        "1",
    ).otherwise("0")
    return with_first.withColumn(is_new_col, repaired).drop(
        "__first_day", "__first_new"
    )


def repair_is_new_streaming(
    df: DataFrame,
    mid_col: str = "mid",
    is_new_col: str = "is_new",
    ts_col: str = "ts",
) -> DataFrame:
    """W10 streaming twin — keyed state via applyInPandasWithState.

    State = (first_date, first_is_new) per mid, exactly the reference's
    ValueState (no TTL in the reference either, DwdBaseLog.java:74-78).
    Rows are processed in event-time order within each micro-batch; the
    reference has the same intra-partition-order caveat.
    """
    schema = df.schema
    cols = df.columns
    mid_i, new_i, ts_i = (
        cols.index(mid_col),
        cols.index(is_new_col),
        cols.index(ts_col),
    )

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            first_day, first_new = state.get
        else:
            first_day, first_new = None, None
        # chunks arrive in no guaranteed mutual order — concat + ONE sort
        # before the order-sensitive state walk (sorting each chunk alone
        # lets a later chunk's older row rewind the walk)
        chunks = [pdf for pdf in pdfs if len(pdf)]
        for pdf in (
            [pd.concat(chunks, ignore_index=True)] if chunks else []
        ):
            pdf = pdf.sort_values(pdf.columns[ts_i]).reset_index(drop=True)
            days = (
                pd.to_datetime(pdf.iloc[:, ts_i], unit="ms")
                if pdf.dtypes.iloc[ts_i].kind in "il"
                else pd.to_datetime(pdf.iloc[:, ts_i])
            ).dt.strftime("%Y-%m-%d")
            out_new = []
            for j in range(len(pdf)):
                d, flag = days.iloc[j], pdf.iloc[j, new_i]
                if first_day is None:
                    if flag == "1":
                        first_day, first_new = d, "1"
                    else:
                        first_day, first_new = "1970-01-01", "0"
                out_new.append(
                    "1" if flag == "1" and first_new == "1" and d == first_day else "0"
                )
            pdf.iloc[:, new_i] = out_new
            yield pdf
        state.update((first_day, first_new))

    return (
        df.groupBy(mid_col)
        .applyInPandasWithState(
            fn,
            outputStructType=schema,
            stateStructType="first_day STRING, first_new STRING",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def back_visitor_flags_streaming(
    df: DataFrame,
    uid_col: str = "uid",
    ts_col: str = "event_time",
    gap_days: int = 7,
) -> DataFrame:
    """A8 derived flags, streaming twin — first-of-day emission with the
    "returning after > gap_days" back flag.

    Reference: DwsUserUserLoginWindow.java:73-107 — keyed ValueState
    lastLoginDt; a record emits only on its uid's first login of the day
    (uu), with back=1 when the previous login day is more than 7 days ago.
    The batch twin (pipelines/dws.user_user_login_window) expresses the
    same with the first login per (uid, day) + LAG(day); this is the
    keyed-state form for unbounded streams (applyInPandasWithState, state =
    last login date).

    Output: one row per (uid, day) first login — (uid, event_time, back)
    with back in {0, 1}.

    State = (recent-days set, max day ever): the set (pruned to a
    gap_days + 2 horizon off the max) dedups first-of-day emission
    exactly even when an in-watermark late prior-day login arrives in a
    later batch — a bare last-day equality check would re-emit both days
    and compute a NEGATIVE gap for the late one. For an in-order day the
    gap is measured against the max day ever seen (the reference's
    lastLoginDt semantics); for a late out-of-order day it is measured
    against the nearest EARLIER day still in the horizon (best effort —
    the batch LAG twin sees full history).
    """
    import datetime as _dt

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            days_csv, max_day = state.get
            seen = set(days_csv.split(",")) if days_csv else set()
            max_day = max_day or None
        else:
            seen, max_day = set(), None
        # chunks arrive in no guaranteed mutual order — concat + ONE sort
        # before the first-of-day walk (see repair_is_new_streaming)
        chunks = [pdf for pdf in pdfs if len(pdf)]
        for pdf in (
            [pd.concat(chunks, ignore_index=True)] if chunks else []
        ):
            pdf = pdf.sort_values(ts_col).reset_index(drop=True)
            is_ms = pdf.dtypes[ts_col].kind in "il"
            out_rows = []
            for ts in pdf[ts_col]:
                stamp = (
                    pd.to_datetime(ts, unit="ms") if is_ms else pd.Timestamp(ts)
                )
                day = stamp.strftime("%Y-%m-%d")
                if day in seen:
                    continue  # not first login of this day -> no emission
                if max_day is None:
                    back = 0
                else:
                    prev = (
                        max_day
                        if day > max_day
                        else max((d for d in seen if d < day), default=None)
                    )
                    if prev is None:
                        back = 0
                    else:
                        gap = (
                            _dt.date.fromisoformat(day)
                            - _dt.date.fromisoformat(prev)
                        ).days
                        back = 1 if gap > gap_days else 0
                out_rows.append((key[0], ts, back))
                seen.add(day)
                max_day = day if max_day is None else max(max_day, day)
            if out_rows:
                yield pd.DataFrame(out_rows, columns=[uid_col, ts_col, "back"])
        if seen:  # prune the set; max_day persists separately
            cutoff = (
                pd.Timestamp(max(seen)) - pd.Timedelta(days=gap_days + 2)
            ).strftime("%Y-%m-%d")
            seen = {d for d in seen if d >= cutoff}
        state.update((",".join(sorted(seen)), max_day or ""))

    uid_type = dict(df.dtypes)[uid_col]
    ts_type = dict(df.dtypes)[ts_col]
    return df.groupBy(uid_col).applyInPandasWithState(
        fn,
        outputStructType=f"{uid_col} {uid_type}, {ts_col} {ts_type}, back int",
        stateStructType="seen_days STRING, max_day STRING",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
