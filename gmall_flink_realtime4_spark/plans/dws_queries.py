"""DWS-layer queries: stateful dedup + tumbling-window aggregates.

Each query re-expresses one reference DWS app (SURVEY.md §2.5/§2.6/§2.9)
over driver testdata: events plays the behavior log, lineitem/orders the
trade facts, part/customer/nation/region the dim chains. The sku-order and
trademark refund apps are a ``tables`` adapter + their ``pipelines/dws.py``
transform run with ``streaming=False``, the same transform the streaming
twin runs. The cart-add uu, user login and province-order apps read the
tables directly and run their transform's named batch steps (an adapter +
the whole transform read slower than the former bodies; CHANGES.md has
the numbers). The others keep a body of their own here. Windows use
``F.window``; oracles reproduce buckets with tz-independent epoch
arithmetic.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .. import tables as T
from ..pipelines import dws
from .catalog import query


def _bucket(col: str, secs: int, plus: int = 0) -> str:
    """DuckDB SQL for the start/end of `col`'s `secs`-second tumbling window
    (tz-independent; equals Spark's F.window on TIMESTAMP_NTZ)."""
    return (
        f"TIMESTAMP '1970-01-01' + (CAST(floor(epoch({col})/{secs})*{secs} AS BIGINT)"
        f" + {plus}) * INTERVAL '1 second'"
    )


# ---------------------------------------------------------------------------
# DwsTrafficSourceKeywordPageViewWindow — UDTF split U1 + lateral join J7 +
# windowed count A3 (batch twin: corpus-wide keyword counts)
# ---------------------------------------------------------------------------
@query(
    "dws_traffic_source_keyword_page_view_window",
    oracle="""
SELECT kw.keyword                 AS keyword,
       COUNT(*)                   AS keyword_count,
       COUNT(DISTINCT d.doc_id)   AS doc_count
FROM documents d,
     unnest(list_distinct(string_split(d.text, ' '))) AS kw(keyword)
WHERE length(kw.keyword) >= 4
GROUP BY kw.keyword
""",
    tags=("U1", "J7", "A3", "A7"),
)
def dws_traffic_source_keyword_page_view_window(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Keyword segmentation + per-keyword counts.

    Reference: DwsTrafficSourceKeywordPageViewWindow.java:30-62 — filters
    keyword-search pages, splits the search string with the KwSplit UDTF
    (IK segmenter, KwSplit.java:47-56 — returns a **HashSet**, so tokens are
    deduped per document; preserved here via array_distinct) through a
    LATERAL TABLE join (J7), then TUMBLE-window counts (A3). Spark-first:
    split + array_distinct + explode; no Python UDF in the hot path.
    """
    d = T.load(spark, sf_dir, "documents")
    return (
        d.select(
            "doc_id",
            F.explode(F.array_distinct(F.split(F.col("text"), " "))).alias("keyword"),
        )
        .filter(F.length("keyword") >= 4)
        .groupBy("keyword")
        .agg(
            F.count(F.lit(1)).alias("keyword_count"),
            F.countDistinct("doc_id").alias("doc_count"),
        )
    )


# ---------------------------------------------------------------------------
# DwsTrafficVcChArIsNewPageViewWindow — multi-dim windowed reduce A4
# ---------------------------------------------------------------------------
@query(
    "dws_traffic_vc_ch_ar_is_new_page_view_window",
    oracle=f"""
SELECT {_bucket('e.ts', 3600)}                          AS stt,
       {_bucket('e.ts', 3600, 3600)}                    AS edt,
       'v' || CAST(CAST(CASE WHEN regexp_matches(json_extract_string(e.props, '$.k'), '^-?[0-9]+$') THEN json_extract_string(e.props, '$.k') END AS INTEGER) % 3 AS VARCHAR)
                                                        AS vc,
       e.event_type                                     AS ch,
       CAST(e.user_id % 5 AS VARCHAR)                   AS ar,
       CASE WHEN CAST(CASE WHEN regexp_matches(json_extract_string(e.props, '$.k'), '^-?[0-9]+$') THEN json_extract_string(e.props, '$.k') END AS INTEGER) < 50
            THEN '1' ELSE '0' END                       AS is_new,
       COUNT(*)                                         AS pv_ct,
       CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS dur_sum
FROM events e
GROUP BY 1, 2, 3, 4, 5, 6
""",
    tags=("A4", "F-json1", "W1"),
)
def dws_traffic_vc_ch_ar_is_new_page_view_window(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Four-dimension traffic page-view window aggregate.

    Reference: DwsTrafficVcChArIsNewPageViewWindow.java:93-148 — keyBy
    (vc, ch, ar, is_new), 10 s tumbling windows, reduce summing
    uv/sv/pv/dur (A4). Here: dims derived from events (vc/ar/is_new
    synthesized from props/user_id), 1 h tumbling window, pv count + duration
    sum. Its streaming twin in pipelines/dws.py also counts uv/sv, which
    needs a (mid, day) dedup this query does not run (ROADMAP item 7).
    """
    e = T.load(spark, sf_dir, "events")
    # ANSI-safe integral guard (see p1_json_parse_validity_filter): a
    # non-integral k yields NULL dims on BOTH engines instead of raising
    # here / rounding in DuckDB
    ks = F.get_json_object("props", "$.k")
    k = F.when(ks.rlike("^-?[0-9]+$"), ks.cast("int"))
    return (
        e.groupBy(
            F.window("ts", "1 hour").alias("w"),
            F.concat(F.lit("v"), (k % 3).cast("string")).alias("vc"),
            F.col("event_type").alias("ch"),
            (F.col("user_id") % 5).cast("string").alias("ar"),
            F.when(k < 50, "1").otherwise("0").alias("is_new"),
        )
        .agg(
            F.count(F.lit(1)).alias("pv_ct"),
            F.sum(F.col("value").cast(T.MONEY)).cast("double").alias("dur_sum"),
        )
        .select(
            F.col("w.start").alias("stt"),
            F.col("w.end").alias("edt"),
            "vc",
            "ch",
            "ar",
            "is_new",
            "pv_ct",
            "dur_sum",
        )
    )


# ---------------------------------------------------------------------------
# DwsTrafficHomeDetailPageViewWindow — two-state first-today dedup A8
# ---------------------------------------------------------------------------
@query(
    "dws_traffic_home_detail_page_view_window",
    oracle="""
SELECT strftime(ts, '%Y-%m-%d')                          AS cur_date,
       COUNT(DISTINCT CASE WHEN event_type = 'view'  THEN user_id END)
                                                          AS home_uv_ct,
       COUNT(DISTINCT CASE WHEN event_type = 'click' THEN user_id END)
                                                          AS good_detail_uv_ct
FROM events
WHERE event_type IN ('view', 'click')
GROUP BY 1
""",
    tags=("A8", "A5", "P7"),
)
def dws_traffic_home_detail_page_view_window(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Home/good-detail unique-visitor counts per day.

    Reference: DwsTrafficHomeDetailPageViewWindow.java:42-143 — page filter
    ``page_id in ('home','good_detail')`` (P7), two keyed ValueStates holding
    each mid's last home / detail visit date (first-today dedup, A8), then
    10 s windowAll sums (A5). Batch twin: conditional distinct counts per
    day — identical result, no per-record state needed.
    """
    e = T.load(spark, sf_dir, "events", spread=False).filter(
        F.col("event_type").isin("view", "click")
    )
    return (
        e.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("cur_date"))
        .agg(
            F.countDistinct(
                F.when(F.col("event_type") == "view", F.col("user_id"))
            ).alias("home_uv_ct"),
            F.countDistinct(
                F.when(F.col("event_type") == "click", F.col("user_id"))
            ).alias("good_detail_uv_ct"),
        )
    )


# ---------------------------------------------------------------------------
# DwsUserUserLoginWindow — first-today dedup A8 + 7-day-returning flag
# ---------------------------------------------------------------------------
@query(
    "dws_user_user_login_window",
    oracle=f"""
WITH firsts AS (
    SELECT user_id, CAST(ts AS DATE) AS d, MIN(ts) AS first_ts
    FROM events
    WHERE user_id IS NOT NULL
    GROUP BY 1, 2
), flagged AS (
    SELECT user_id, d, first_ts,
           LAG(d) OVER (PARTITION BY user_id ORDER BY d) AS prev_d
    FROM firsts
)
SELECT {_bucket('first_ts', 10)}        AS stt,
       {_bucket('first_ts', 10, 10)}    AS edt,
       strftime(first_ts, '%Y-%m-%d')   AS cur_date,
       COUNT(*)                         AS uu_ct,
       CAST(SUM(CASE WHEN prev_d IS NOT NULL AND date_diff('day', prev_d, d) > 7
                     THEN 1 ELSE 0 END) AS BIGINT) AS back_ct
FROM flagged
GROUP BY 1, 2, 3
""",
    tags=("A8", "A5", "W4"),
)
def dws_user_user_login_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unique-login + 7-day-returning counts in 10 s tumbling windows.

    Reference: DwsUserUserLoginWindow.java:73-129 — keyed ValueState
    lastLoginDate: emit uu only on first login of the day (A8); emit back=1
    when the gap since the previous login exceeds 7 days
    (DwsUserUserLoginWindow.java:96-100); then 10 s windowAll sums (A5).
    Every event of a known user is a login (``tables.page_log`` has no
    previous page), so its (uid, time) pairs feed the transform's batch
    step straight from events.
    """
    e = T.load(spark, sf_dir, "events", spread=False)
    logins = e.filter("user_id IS NOT NULL").selectExpr("user_id AS uid", "ts AS event_time")
    return dws.login_uu_back_window(logins, window="10 seconds")


# ---------------------------------------------------------------------------
# DwsUserUserRegisterWindow — global windowed count A5
# ---------------------------------------------------------------------------
@query(
    "dws_user_user_register_window",
    oracle=f"""
SELECT {_bucket('ts', 5)}      AS stt,
       {_bucket('ts', 5, 5)}   AS edt,
       COUNT(*)                AS register_ct
FROM events
WHERE event_type = 'signup'
GROUP BY 1, 2
""",
    tags=("A5",),
)
def dws_user_user_register_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registration counts in 5 s tumbling windows.

    Reference: DwsUserUserRegisterWindow.java:39-82 — reads dwd_user_register,
    5 s tumbling windowAll count (A5). Spark has no parallelism-1 constraint
    for un-keyed windows: partial aggregation distributes, the final merge is
    per-window. Streaming twin adds withWatermark("ts", "5 seconds").
    """
    e = T.load(spark, sf_dir, "events", spread=False).filter(
        F.col("event_type") == "signup"
    )
    return (
        e.groupBy(F.window("ts", "5 seconds").alias("w"))
        .agg(F.count(F.lit(1)).alias("register_ct"))
        .select(
            F.col("w.start").alias("stt"), F.col("w.end").alias("edt"), "register_ct"
        )
    )


# ---------------------------------------------------------------------------
# DwsTradeCartAddUuWindow — first-today dedup A8 (cart role)
# ---------------------------------------------------------------------------
@query(
    "dws_trade_cart_add_uu_window",
    oracle=f"""
SELECT {_bucket('ts', 86400)}            AS stt,
       {_bucket('ts', 86400, 86400)}     AS edt,
       strftime(ts, '%Y-%m-%d')          AS cur_date,
       COUNT(DISTINCT user_id)           AS cart_add_uu_ct
FROM events
WHERE event_type = 'purchase'
GROUP BY 1, 2, 3
""",
    tags=("A8", "W4"),
)
def dws_trade_cart_add_uu_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cart-add unique users per day.

    Reference: DwsTradeCartAddUuWindow.java:76-119 — keyed ValueState
    lastCartDate with 1-day TTL: first cart-add of the day per user counts
    (A8), then a windowAll sum; here purchase events of known users are
    the cart adds (``tables.cart_add``), read straight into the
    transform's batch steps, and the window is one day.
    """
    e = T.load(spark, sf_dir, "events", spread=False).filter(
        "event_type = 'purchase' AND user_id IS NOT NULL"
    )
    return dws.cart_add_uu_counts(dws.day_firsts(e, "user_id", "ts"), "1 day")


# ---------------------------------------------------------------------------
# DwsTradePaymentSucWindow — A8 + derived new-payer flag
# ---------------------------------------------------------------------------
@query(
    "dws_trade_payment_suc_window",
    oracle="""
WITH pay AS (
    SELECT user_id, CAST(ts AS DATE) AS d
    FROM events WHERE event_type = 'purchase'
), ud AS (
    SELECT DISTINCT user_id, d FROM pay
), fd AS (
    SELECT user_id, MIN(d) AS first_d FROM pay GROUP BY user_id
)
SELECT strftime(ud.d, '%Y-%m-%d')                       AS cur_date,
       COUNT(*)                                        AS payment_suc_unique_user_count,
       CAST(SUM(CASE WHEN ud.d = fd.first_d THEN 1 ELSE 0 END) AS BIGINT)
                                                       AS payment_new_user_count
FROM ud JOIN fd ON ud.user_id = fd.user_id
GROUP BY ud.d
""",
    tags=("A8", "W4"),
)
def dws_trade_payment_suc_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily paying users + first-ever payers.

    Reference: DwsTradePaymentSucWindow.java:72-119 — keyed ValueState
    lastPayDate: uu on first payment of the day; new-user flag when the state
    was empty (first payment ever, :92-95). Batch twin: distinct (user, day)
    plus min-day-per-user join — same state machine relationally.
    """
    pay = (
        T.load(spark, sf_dir, "events", spread=False)
        .filter(F.col("event_type") == "purchase")
        .select("user_id", F.to_date("ts").alias("d"))
    )
    ud = pay.distinct()
    fd = pay.groupBy("user_id").agg(F.min("d").alias("first_d"))
    return (
        ud.join(fd, "user_id")
        .groupBy(F.date_format("d", "yyyy-MM-dd").alias("cur_date"))
        .agg(
            F.count(F.lit(1)).alias("payment_suc_unique_user_count"),
            F.sum(F.when(F.col("d") == F.col("first_d"), 1).otherwise(0))
            .cast("bigint")
            .alias("payment_new_user_count"),
        )
    )


# ---------------------------------------------------------------------------
# DwsTradeOrderWindow — A5 + A8 over the order fact
# ---------------------------------------------------------------------------
@query(
    "dws_trade_order_window",
    oracle="""
SELECT strftime(o_orderdate, '%Y-%m-%d') AS cur_date,
       COUNT(*)                        AS order_ct,
       COUNT(DISTINCT o_custkey)       AS order_uu_ct,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                                       AS order_amount
FROM orders
GROUP BY 1
""",
    tags=("A5", "A8", "A2"),
)
def dws_trade_order_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily order counts, unique purchasers, order amount.

    Reference: DwsTradeOrderWindow.java:75-133 — keyed ValueState for
    first-order-of-day dedup (A8; reference bug at :91 compares full
    datetime — intent [date compare] implemented, bug not replicated),
    10 s windowAll sums (A5). Batch twin over the orders fact.
    """
    o = T.load(spark, sf_dir, "orders", spread=False)
    return (
        o.groupBy(F.date_format("o_orderdate", "yyyy-MM-dd").alias("cur_date"))
        .agg(
            F.count(F.lit(1)).alias("order_ct"),
            F.countDistinct("o_custkey").alias("order_uu_ct"),
            F.sum(F.col("o_totalprice").cast(T.MONEY))
            .cast("double")
            .alias("order_amount"),
        )
    )


# ---------------------------------------------------------------------------
# DwsTradeSkuOrderWindow — FLAGSHIP: dedup A1 + windowed sums A2 + dim chain J5
# ---------------------------------------------------------------------------
@query(
    "dws_trade_sku_order_window",
    oracle=f"""
WITH detail AS (
    -- tables.sku_order_detail: the unit price, and the activity split of
    -- the line (unit price x quantity) at the line's discount; round():
    -- Spark's cast to a smaller scale rounds half up, DuckDB's truncates
    -- (the amounts are non-negative)
    SELECT l_orderkey * 8 + l_linenumber            AS id,
           l_orderkey                               AS order_id,
           l_partkey                                AS sku_id,
           CAST(CAST(l_extendedprice AS DECIMAL(18,2)) / CAST(l_quantity AS DECIMAL(18,2))
                AS DECIMAL(18,2))                   AS order_price,
           CAST(l_quantity AS DECIMAL(18,2))        AS sku_num,
           CAST(l_discount AS DECIMAL(18,2))        AS discount,
           CAST(floor(epoch(l_shipdate)) AS BIGINT) AS ts,
           l_shipdate
    FROM lineitem
), split AS (
    SELECT *, round(order_price * sku_num * discount, 2) AS split_activity_amount
    FROM detail
), kept AS (
    -- first_per_key's keeper: ts, then the other columns in order, NULLs
    -- first like Spark's ascending sort
    SELECT DISTINCT ON (id) *,
           order_price * sku_num - split_activity_amount AS split_total_amount
    FROM split
    ORDER BY id, ts NULLS FIRST, order_id NULLS FIRST, sku_id NULLS FIRST,
             order_price NULLS FIRST, sku_num NULLS FIRST,
             order_price * sku_num - split_activity_amount NULLS FIRST,
             split_activity_amount NULLS FIRST
), agg AS (
    SELECT {_bucket('l_shipdate', 86400)}        AS stt,
           {_bucket('l_shipdate', 86400, 86400)} AS edt,
           strftime(l_shipdate, '%Y-%m-%d')     AS cur_date,
           sku_id,
           CAST(SUM(CAST(split_total_amount AS DECIMAL(16,2))) AS DOUBLE) AS order_amount,
           CAST(SUM(CAST(split_activity_amount AS DECIMAL(16,2))) AS DOUBLE)
                                                AS activity_reduce_amount,
           CAST(SUM(CAST(0 AS DECIMAL(16,2))) AS DOUBLE) AS coupon_reduce_amount,
           CAST(SUM(CAST(order_price AS DECIMAL(16,2)) * CAST(sku_num AS DECIMAL(16,2)))
                AS DOUBLE)                      AS original_amount
    FROM kept
    GROUP BY 1, 2, 3, 4
)
SELECT agg.*,
       p.p_name  AS sku_name,
       p.p_name  AS spu_id,
       p.p_brand AS tm_id,
       p.p_type  AS category3_id,
       p.p_name  AS spu_name,
       p.p_brand AS tm_name
FROM agg
LEFT JOIN part p ON agg.sku_id = p.p_partkey
""",
    tags=("A1", "A2", "A7", "J5", "W1"),
)
def dws_trade_sku_order_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP — sku-grain daily order window with dim enrichment.

    Reference: DwsTradeSkuOrderWindow.java:44-194 — keyed diff-state dedup of
    re-emitted order_detail upserts (A1, :77-118), 10 s tumbling sums of four
    BigDecimal amounts (A2, :120-149), then the sku->spu->trademark->category
    dim chain via Redis/HBase async lookups (J5, Async/SyncCache variants).
    Here lineitem plays order_detail (``tables.sku_order_detail``) and part
    the dim chain (``tables.sku_dims``); the windows are one day.
    """
    sku, spu, tm = T.sku_dims(spark, sf_dir)
    return dws.trade_sku_order_window(
        T.sku_order_detail(spark, sf_dir), sku, spu, tm, window="1 day"
    )


# ---------------------------------------------------------------------------
# DwsTradeProvinceOrderWindow — A2 + distinct-set count A7 + dim chain J5
# ---------------------------------------------------------------------------
@query(
    "dws_trade_province_order_window",
    oracle=f"""
WITH agg AS (
    SELECT {_bucket('o.o_orderdate', 86400)}        AS stt,
           {_bucket('o.o_orderdate', 86400, 86400)} AS edt,
           strftime(o.o_orderdate, '%Y-%m-%d')     AS cur_date,
           c.c_nationkey                           AS province_id,
           COUNT(DISTINCT o.o_orderkey)            AS order_count,
           COUNT(DISTINCT o.o_custkey)             AS user_count,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(16,2))) AS DOUBLE)
                                                   AS order_amount
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1, 2, 3, 4
)
SELECT agg.*,
       n.n_name AS province_name,
       r.r_name AS region_name
FROM agg
LEFT JOIN nation n ON agg.province_id = n.n_nationkey
LEFT JOIN region r ON n.n_regionkey   = r.r_regionkey
""",
    tags=("A2", "A7", "J5"),
)
def dws_trade_province_order_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Province-grain daily order aggregate with distinct order count.

    Reference: DwsTradeProvinceOrderWindow.java:82-155 — diff-state dedup,
    10 s windows summing amounts + an ``orderIdSet`` whose size is the
    distinct order count (A7), then base_province async lookup (J5). Here
    orders play the order details and the customer's nation the province
    (``tables.province_order_detail``); the nation/region names are
    broadcast-joined before the transform's batch aggregate
    (``dws.province_order_counts``), which carries them as keys.
    """
    o = T.load(spark, sf_dir, "orders", spread=False)
    c = T.load(spark, sf_dir, "customer", spread=False)
    n = T.load(spark, sf_dir, "nation", spread=False)
    r = T.load(spark, sf_dir, "region", spread=False)
    rows = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "left")
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey, "left")
        .select(
            F.col("c_nationkey").alias("province_id"),
            F.col("n_name").alias("province_name"),
            F.col("r_name").alias("region_name"),
            F.col("o_orderkey").alias("order_id"),
            F.col("o_custkey").alias("user_id"),
            F.col("o_totalprice").alias("split_total_amount"),
            F.col("o_orderdate").cast("timestamp_ntz").alias("event_time"),
        )
    )
    return dws.province_order_counts(
        rows, "1 day", keys=("province_id", "province_name", "region_name")
    )


# ---------------------------------------------------------------------------
# DwsTradeTrademarkCategoryUserRefundWindow — A7 + J5 over refunds
# ---------------------------------------------------------------------------
@query(
    "dws_trade_trademark_category_user_refund_window",
    oracle=f"""
WITH refund AS (
    SELECT l.l_orderkey AS order_id, o.o_custkey AS user_id,
           l.l_partkey AS sku_id, l.l_extendedprice AS refund_amount,
           l.l_shipdate
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_returnflag = 'R'
)
SELECT {_bucket('f.l_shipdate', 86400)}        AS stt,
       {_bucket('f.l_shipdate', 86400, 86400)} AS edt,
       strftime(f.l_shipdate, '%Y-%m-%d')     AS cur_date,
       p.p_brand                              AS tm_id,
       p.p_type                               AS category3_id,
       f.user_id                              AS user_id,
       p.p_brand                              AS tm_name,
       COUNT(DISTINCT f.order_id)             AS refund_order_count,
       CAST(SUM(CAST(f.refund_amount AS DECIMAL(16,2))) AS DOUBLE)
                                              AS refund_amount
FROM refund f
LEFT JOIN part p ON f.sku_id = p.p_partkey
GROUP BY 1, 2, 3, 4, 5, 6, 7
""",
    tags=("A7", "J5", "P4"),
)
def dws_trade_trademark_category_user_refund_window(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(trademark, category3, user)-grain daily refund aggregate.

    Reference: DwsTradeTrademarkCategoryUserRefundWindow.java:52-189 —
    refund stream keyed by (trademark, category3, user), orderIdSet union
    for distinct orders (A7), 5 s windows, then trademark/category dim
    lookups (J5 chain). Here returned lineitems are the refunds
    (``tables.order_refund``) and part the dim chain; the windows are one
    day.
    """
    sku, _, tm = T.sku_dims(spark, sf_dir)
    return dws.trade_trademark_category_user_refund_window(
        T.order_refund(spark, sf_dir), sku, tm, window="1 day"
    )
