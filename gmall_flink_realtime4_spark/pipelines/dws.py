"""DWS domain pipelines over dwd outputs (SURVEY.md §2.5/§2.6).

Each function is the one transform of a reference DWS app, built from the
operator library (dedup/tumble/dim_enrich) over the reference's own
shapes, with a ``streaming`` flag. The registered queries in
plans/dws_queries.py run them over TPC-H-table adapters
(``tables.sku_order_detail`` and its neighbours). The cart-add, login and
province apps' registered queries read the tables directly and call the
transforms' named batch steps (``day_firsts``, ``cart_add_uu_counts``,
``login_uu_back_window``, ``province_order_counts``); the keyword and
vc/ch/ar/is_new apps still have registered bodies of their own (ROADMAP
item 7).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..functions.tokenizer import kw_split
from ..operators.dedup import first_per_key, first_today
from ..operators.joins import dim_enrich
from ..operators.windows import tumble, with_event_watermark

MONEY = "decimal(16,2)"  # the reference's BigDecimal(16,2) beans


def _event_time(df: DataFrame, ts_col: str = "ts", unit: str = "s") -> DataFrame:
    """CDC-derived ts is epoch seconds, log ts epoch millis (FIXTURES.md)."""
    expr = (
        f"cast(timestamp_seconds({ts_col}) as timestamp_ntz)"
        if unit == "s"
        else f"cast(timestamp_micros({ts_col} * 1000) as timestamp_ntz)"
    )
    return df.withColumn("event_time", F.expr(expr))


def trade_cart_add_uu_window(
    cart: DataFrame, window: str = "10 seconds", streaming: bool = False
) -> DataFrame:
    """DwsTradeCartAddUuWindow.java:76-119 — first-today dedup by user (A8,
    1-day TTL state) then 10 s tumbling uu count (A5). Batch: the first
    cart add per (user, day), ``day_firsts``."""
    src = _event_time(cart)
    if streaming:
        src = with_event_watermark(src, "event_time", "5 seconds")
        firsts = first_today(src, "user_id", "event_time", streaming=True)
    else:
        firsts = day_firsts(src, "user_id")
    return cart_add_uu_counts(firsts, window)


def day_firsts(df: DataFrame, key: str, ts_col: str = "event_time") -> DataFrame:
    """(key, d, event_time): each key's first event time per day ``d`` —
    the batch first-today dedup (A8) where only that time is read
    downstream."""
    return df.groupBy(key, F.to_date(ts_col).alias("d")).agg(
        F.min(ts_col).alias("event_time")
    )


def cart_add_uu_counts(firsts: DataFrame, window: str = "10 seconds") -> DataFrame:
    """Tumbling count of the users' first cart adds of the day (A5)."""
    return tumble(
        firsts,
        "event_time",
        window,
        aggs=[F.count(F.lit(1)).alias("cart_add_uu_ct")],
    )


def trade_sku_order_window(
    detail: DataFrame,
    dim_sku: DataFrame,
    dim_spu: DataFrame,
    dim_trademark: DataFrame,
    window: str = "10 seconds",
    streaming: bool = False,
) -> DataFrame:
    """DwsTradeSkuOrderWindow.java:44-194 — dedup upserts by detail id (A1),
    10 s tumbling BigDecimal sums per sku (A2, DOUBLE at the boundary), then
    the sku->spu->trademark dim chain as broadcast joins (J5; replaces
    Redis/HBase cache+async).

    The reference's state-key bug (:89 vs :111) is NOT replicated — intent
    (net out duplicate upsert rows) implemented via dedup.
    """
    src = _event_time(detail)
    if streaming:
        # TTL-bounded dedup state (the reference's 30 s MapState TTL, W4):
        # re-emissions arrive within seconds, so watermark-scoped state
        # suffices — O(watermark window), not O(stream)
        from ..operators.dedup import dedup_within_watermark

        src = with_event_watermark(src, "event_time", "5 seconds")
        d = dedup_within_watermark(src, ["id"])
    else:
        d = first_per_key(src, ["id"], "ts")
    agged = tumble(
        d,
        "event_time",
        window,
        keys=[F.col("sku_id")],
        aggs=[
            F.sum(F.col("split_total_amount").cast(MONEY))
            .cast("double")
            .alias("order_amount"),
            F.sum(F.col("split_activity_amount").cast(MONEY))
            .cast("double")
            .alias("activity_reduce_amount"),
            F.sum(F.col("split_coupon_amount").cast(MONEY))
            .cast("double")
            .alias("coupon_reduce_amount"),
            F.sum(
                (F.col("order_price").cast(MONEY) * F.col("sku_num").cast(MONEY))
            )
            .cast("double")
            .alias("original_amount"),
        ],
    )
    return dim_enrich(
        agged,
        [
            (
                dim_sku.select(
                    F.col("id").alias("sku_dim_id"),
                    "sku_name",
                    "spu_id",
                    "tm_id",
                    "category3_id",
                ),
                "sku_id",
                "sku_dim_id",
            ),
            (
                dim_spu.select(F.col("id").alias("spu_dim_id"), "spu_name"),
                "spu_id",
                "spu_dim_id",
            ),
            (
                dim_trademark.select(F.col("id").alias("tm_dim_id"), "tm_name"),
                "tm_id",
                "tm_dim_id",
            ),
        ],
    )


def user_user_login_window(
    page: DataFrame, window: str = "10 seconds", streaming: bool = False
) -> DataFrame:
    """DwsUserUserLoginWindow.java:41-129 — login filter (uid set, direct
    or via login page, P7), first-today dedup + 7-day-returning flag (A8),
    10 s windows. Batch: ``login_uu_back_window``."""
    logins = _event_time(
        page.filter(
            F.col("common.uid").isNotNull()
            & (
                F.col("page.last_page_id").isNull()
                | (F.col("page.last_page_id") == "login")
            )
        ).select(F.col("common.uid").alias("uid"), "ts"),
        unit="ms",
    )
    if streaming:
        # keyed lastLoginDt state does BOTH the first-of-day dedup and the
        # 7-day back flag (the reference's single ValueState, :73-107);
        # the watermark attaches AFTER the stateful op (watermark metadata
        # does not propagate through applyInPandasWithState).
        from ..operators.stateful import back_visitor_flags_streaming

        flags = back_visitor_flags_streaming(logins, "uid", "event_time")
        return tumble(
            flags,
            "event_time",
            window,
            aggs=[
                F.count(F.lit(1)).alias("uu_ct"),
                F.sum("back").cast("bigint").alias("back_ct"),
            ],
            watermark="5 seconds",
        )
    return login_uu_back_window(logins, window)


def login_uu_back_window(
    logins: DataFrame, window: str = "10 seconds"
) -> DataFrame:
    """The batch ValueState of ``user_user_login_window`` over (uid,
    event_time) logins: the first login per (uid, day), LAG over login
    days for the 7-day back flag, then tumbling uu/back counts (A5)."""
    from pyspark.sql import Window as W

    prev = W.partitionBy("uid").orderBy("d")
    flagged = day_firsts(logins, "uid").withColumn(
        "prev_d", F.lag("d").over(prev)
    )
    return tumble(
        flagged,
        "event_time",
        window,
        aggs=[
            F.count(F.lit(1)).alias("uu_ct"),
            F.sum(
                F.when(
                    F.col("prev_d").isNotNull()
                    & (F.datediff(F.col("d"), F.col("prev_d")) > 7),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("back_ct"),
        ],
    )


def traffic_source_keyword_page_view_window(
    page: DataFrame, window: str = "1 hour", streaming: bool = False
) -> DataFrame:
    """DwsTrafficSourceKeywordPageViewWindow.java:21-62 — keyword-search
    page filter (P7), KwSplit UDTF via explode (U1/J7), TUMBLE count (A3)."""
    kw = (
        _event_time(
            page.filter(
                (F.col("page.last_page_id") == "search")
                & (F.col("page.item_type") == "keyword")
                & F.col("page.item").isNotNull()
            ).select(F.col("page.item").alias("keywords"), "ts"),
            unit="ms",
        )
        .select("event_time", F.explode(kw_split("keywords")).alias("keyword"))
    )
    if streaming:
        kw = with_event_watermark(kw, "event_time", "5 seconds")
    return tumble(
        kw,
        "event_time",
        window,
        keys=[F.col("keyword")],
        aggs=[F.count(F.lit(1)).alias("keyword_count")],
    )


def traffic_vc_ch_ar_is_new_page_view_window(
    page: DataFrame, window: str = "10 seconds", streaming: bool = False
) -> DataFrame:
    """DwsTrafficVcChArIsNewPageViewWindow.java:61-148 — per-mid first-today
    uv flag (A8), session-start sv flag, keyed 10 s reduce of
    uv/sv/pv/dur (A4)."""
    flat = _event_time(
        page.select(
            F.col("common.mid").alias("mid"),
            F.col("common.vc").alias("vc"),
            F.col("common.ch").alias("ch"),
            F.col("common.ar").alias("ar"),
            F.col("common.is_new").alias("is_new"),
            F.col("page.last_page_id").alias("last_page_id"),
            F.col("page.during_time").alias("during_time"),
            "ts",
        ),
        unit="ms",
    )
    if streaming:
        flat = with_event_watermark(flat, "event_time", "3 seconds")
    # uv via the tagged-dedup-union pattern (as in the province/refund
    # windows): the first-today stream carries the dims + uv=1 with its
    # payload nulled; raw rows carry uv=0 and the pv/sv/dur payload. The
    # former equality JOIN back on (mid, event_time) double-marked uv
    # whenever two events of one mid shared the exact same millisecond
    # (first_today keeps ONE row but the join matched every equal-ts row).
    dt = dict(flat.dtypes)
    firsts = (
        first_today(flat, "mid", "event_time", streaming=streaming)
        .withColumn("last_page_id", F.lit(None).cast(dt["last_page_id"]))
        .withColumn("during_time", F.lit(None).cast(dt["during_time"]))
        .withColumn("uv", F.lit(1))
    )
    tagged = flat.withColumn("uv", F.lit(0)).unionByName(firsts)
    return tumble(
        tagged,
        "event_time",
        window,
        keys=[F.col("vc"), F.col("ch"), F.col("ar"), F.col("is_new")],
        aggs=[
            F.sum("uv").cast("bigint").alias("uv_ct"),
            F.sum(
                F.when(
                    (F.col("uv") == 0) & F.col("last_page_id").isNull(), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("sv_ct"),
            F.sum(F.lit(1) - F.col("uv")).cast("bigint").alias("pv_ct"),
            F.sum("during_time").cast("bigint").alias("dur_sum"),
        ],
    )


def trade_trademark_category_user_refund_window(
    refund: DataFrame,
    dim_sku: DataFrame,
    dim_trademark: DataFrame,
    window: str = "1 day",
    streaming: bool = False,
) -> DataFrame:
    """DwsTradeTrademarkCategoryUserRefundWindow.java:52-189 — refund
    stream keyed by (trademark, category3, user), orderIdSet union for the
    DISTINCT refund-order count (A7), windowed amount sum (A2), then the
    trademark dim lookup (J5).

    Batch: countDistinct. Streaming: the province pattern — countDistinct
    has no streaming form, so the distinct order measure becomes a
    window-scoped dedup stream tagged ord=1 and UNIONed with the raw
    amount stream; ONE append-mode windowed agg sums the tags. Same
    STATE CONTRACT as trade_province_order_window: the (keys, order,
    window-start) dedup state is deliberately not watermark-evicted —
    see that docstring for the retention/restart guidance. The sku ->
    (tm_id, category3_id) broadcast join is stream-static and stateless,
    so it happens before the watermarked agg; tm_name enriches after the
    agg (dim_enrich), mirroring the reference's post-agg async lookups.
    """
    src = _event_time(refund)
    sku = dim_sku.select(
        F.col("id").alias("sku_dim_id"), "tm_id", "category3_id"
    )
    # LEFT like every other enrichment (dim_enrich): a refund row whose
    # sku is missing from the dim snapshot groups under NULL tm/category
    # instead of silently vanishing from the totals
    enriched = src.join(
        F.broadcast(sku), src.sku_id == F.col("sku_dim_id"), "left"
    ).drop("sku_dim_id")
    keys = [F.col("tm_id"), F.col("category3_id"), F.col("user_id")]
    if streaming:
        enriched = with_event_watermark(enriched, "event_time", "5 seconds")
        base = enriched.select(
            "tm_id", "category3_id", "user_id", "event_time",
            F.col("refund_amount").cast(MONEY).alias("amount"),
            F.lit(0).alias("ord"),
        )
        # the distinct-order tag must be scoped to the GROUPING KEYS and
        # the TUMBLING WINDOW (batch countDistinct counts an order once per
        # (tm, c3, user, window) it appears in — a refund order spanning
        # two trademarks contributes to BOTH; a global order_id dedup
        # credited only the first-arriving group). Keyed on the window
        # START, not to_date, so sub-day windows dedup exactly like the
        # batch twin instead of silently undercounting.
        orders = (
            enriched.withColumn("d", F.window("event_time", window)["start"])
            .dropDuplicates(
                ["tm_id", "category3_id", "user_id", "order_id", "d"]
            )
            .select(
                "tm_id", "category3_id", "user_id", "event_time",
                F.lit(None).cast(MONEY).alias("amount"),
                F.lit(1).alias("ord"),
            )
        )
        agged = tumble(
            base.unionByName(orders),
            "event_time",
            window,
            keys=keys,
            aggs=[
                F.sum("ord").cast("bigint").alias("refund_order_count"),
                F.sum("amount").cast("double").alias("refund_amount"),
            ],
        )
    else:
        agged = tumble(
            enriched,
            "event_time",
            window,
            keys=keys,
            aggs=[
                F.countDistinct("order_id").alias("refund_order_count"),
                F.sum(F.col("refund_amount").cast(MONEY))
                .cast("double")
                .alias("refund_amount"),
            ],
        )
    return dim_enrich(
        agged,
        [
            (
                dim_trademark.select(F.col("id").alias("tm_dim_id"), "tm_name"),
                "tm_id",
                "tm_dim_id",
            )
        ],
    )


def trade_province_order_window(
    detail: DataFrame, window: str = "1 day", streaming: bool = False
) -> DataFrame:
    """DwsTradeProvinceOrderWindow.java:82-138 — per-province windowed
    amount sum (A2) + DISTINCT order count (A7, the orderIdSet-in-state
    pattern) + distinct user count.

    Batch: plain countDistinct. Streaming: countDistinct is unsupported in
    streaming aggs, so each distinct measure becomes a window-scoped
    dedup stream (keys x tumbling window) tagged and UNIONed with the raw
    amount stream — ONE append-mode windowed agg sums the tags. Works
    because tumbling windows partition event time: every tagged row lands
    in exactly one window.

    STATE CONTRACT (honest): the dedup key includes the window START — a
    derived column, which in Spark carries no event-time metadata — so
    the dropDuplicates state is NOT watermark-evicted: it grows by one
    row per distinct (keys, order/user, window) for the job's lifetime.
    That retention is exactly what makes arbitrarily-late re-emissions
    net out like the reference's orderIdSet (and what the batch-parity
    tests pin); re-watermarking the derived column would both violate the
    one-watermark-owner invariant and lag the global watermark by a full
    window (min-policy over a window-quantized saw-tooth). Production
    deployments bound the job by restarting per retention period (state
    is per-window, so a restart at window N+2 loses nothing that the
    watermark hasn't already sealed), or swap the tag streams to
    `dedup_within_watermark` and accept approximate dedup past the delay.
    """
    src = _event_time(detail)
    if streaming:
        src = with_event_watermark(src, "event_time", "5 seconds")
        base = src.select(
            "province_id", "event_time",
            F.col("split_total_amount").cast(MONEY).alias("amount"),
            F.lit(0).alias("ord"), F.lit(0).alias("usr"),
        )
        # both distinct tags scope to (province, tumbling window) — keyed
        # on the window START, matching the batch countDistinct per
        # (province, window) for ANY window size: an order whose rows
        # straddle windows counts in each, and a user ordering in two
        # provinces counts in both (global keys undercounted)
        orders = (
            src.withColumn("d", F.window("event_time", window)["start"])
            .dropDuplicates(["order_id", "province_id", "d"])
            .select(
                "province_id", "event_time",
                F.lit(None).cast(MONEY).alias("amount"),
                F.lit(1).alias("ord"), F.lit(0).alias("usr"),
            )
        )
        users = (
            src.withColumn("d", F.window("event_time", window)["start"])
            .dropDuplicates(["user_id", "province_id", "d"])
            .select(
                "province_id", "event_time",
                F.lit(None).cast(MONEY).alias("amount"),
                F.lit(0).alias("ord"), F.lit(1).alias("usr"),
            )
        )
        tagged = base.unionByName(orders).unionByName(users)
        return tumble(
            tagged,
            "event_time",
            window,
            keys=[F.col("province_id")],
            aggs=[
                F.sum("ord").cast("bigint").alias("order_count"),
                F.sum("usr").cast("bigint").alias("user_count"),
                F.sum("amount").cast("double").alias("order_amount"),
            ],
        )
    return province_order_counts(src, window)


def province_order_counts(
    rows: DataFrame, window: str = "1 day", keys: tuple[str, ...] = ("province_id",)
) -> DataFrame:
    """The batch aggregate of ``trade_province_order_window`` over order
    detail rows with an ``event_time``: countDistinct orders and users and
    the amount sum per (window, ``keys``); further keys carry attributes
    of the province (its names) along."""
    return tumble(
        rows,
        "event_time",
        window,
        keys=list(keys),
        aggs=[
            F.countDistinct("order_id").alias("order_count"),
            F.countDistinct("user_id").alias("user_count"),
            F.sum(F.col("split_total_amount").cast(MONEY))
            .cast("double")
            .alias("order_amount"),
        ],
    )
