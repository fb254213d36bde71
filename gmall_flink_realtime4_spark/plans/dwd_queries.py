"""DWD-layer queries: fact extraction — filters, projections, joins.

Each query re-expresses one reference DWD app's operator semantics
(SURVEY.md §2.3/§2.4) over the driver testdata via the domain mapping in
``tables.py`` (orders->order_info, lineitem->order_detail, part/supplier/
nation/region->dims). Citations point into /root/reference.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .. import tables as T
from .catalog import query


# ---------------------------------------------------------------------------
# DwdTradeOrderDetail — multi-way join J1/J2 + map-key projection P3
# ---------------------------------------------------------------------------
@query(
    "dwd_trade_order_detail",
    oracle="""
SELECT l.l_orderkey * 8 + l.l_linenumber              AS id,
       l.l_orderkey                                   AS order_id,
       l.l_partkey                                    AS sku_id,
       o.o_custkey                                    AS user_id,
       CASE WHEN o.o_orderstatus = 'O' THEN '1001'
            WHEN o.o_orderstatus = 'P' THEN '1002'
            ELSE '1003' END                           AS order_status,
       strftime(o.o_orderdate, '%Y-%m-%d')            AS date_id,
       p.p_name                                       AS sku_name,
       s.s_name                                       AS supplier_name,
       l.l_quantity                                   AS sku_num,
       l.l_extendedprice                              AS order_price,
       l.l_extendedprice * (1 - l.l_discount)         AS split_total_amount
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
LEFT JOIN part p     ON l.l_partkey = p.p_partkey
LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
""",
    tags=("J1", "J2", "P3", "F-date1"),
)
def dwd_trade_order_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """order_detail |><| order_info left-join activity/coupon dims.

    Reference: DwdTradeOrderDetail.java:22-115 — stream-stream inner join of
    order_detail x order_info (J1) plus LEFT OUTER joins to
    order_detail_activity / order_detail_coupon (J2), projected from the CDC
    ``data`` map (P3) with date_id derivation (F-date1). Here: lineitem is
    the detail fact, orders the order head, part/supplier the left-joined
    enrichments. Joins are key-equi; Catalyst broadcasts the small dims.

    Scale note: orders is a FACT (grows with the corpus), so the
    lineitem |><| orders edge is pinned shuffle_hash — the physical analog
    of the reference's keyed-state stream-stream join. Without the hint,
    Catalyst's file-size estimate broadcasts orders in the measurable
    range (single-threaded hash-relation build, measured 1.8x slower at
    x30 and strictly worse with growth); dims stay broadcast.
    """
    l = T.load(spark, sf_dir, "lineitem", spread=False)
    o = T.load(spark, sf_dir, "orders", spread=False)
    p = T.load(spark, sf_dir, "part", spread=False)
    s = T.load(spark, sf_dir, "supplier", spread=False)
    return (
        l.join(o.hint("shuffle_hash"), l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(p), l.l_partkey == p.p_partkey, "left")
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey, "left")
        .select(
            (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("id"),
            F.col("l_orderkey").alias("order_id"),
            F.col("l_partkey").alias("sku_id"),
            F.col("o_custkey").alias("user_id"),
            F.when(F.col("o_orderstatus") == "O", "1001")
            .when(F.col("o_orderstatus") == "P", "1002")
            .otherwise("1003")
            .alias("order_status"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("date_id"),
            F.col("p_name").alias("sku_name"),
            F.col("s_name").alias("supplier_name"),
            F.col("l_quantity").alias("sku_num"),
            F.col("l_extendedprice").alias("order_price"),
            (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).alias(
                "split_total_amount"
            ),
        )
    )


# ---------------------------------------------------------------------------
# DwdTradeOrderCancelDetail — change-predicate filter P4 + join J1
# ---------------------------------------------------------------------------
@query(
    "dwd_trade_order_cancel_detail",
    oracle="""
SELECT l.l_orderkey * 8 + l.l_linenumber        AS id,
       l.l_orderkey                             AS order_id,
       l.l_partkey                              AS sku_id,
       o.o_custkey                              AS user_id,
       strftime(o.o_orderdate, '%Y-%m-%d')      AS date_id,
       l.l_quantity                             AS sku_num,
       l.l_extendedprice * (1 - l.l_discount)   AS split_total_amount
FROM orders o
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderstatus = 'F' AND l.l_returnflag = 'R'
""",
    tags=("P4", "J1"),
)
def dwd_trade_order_cancel_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cancelled-order detail extraction.

    Reference: DwdTradeOrderCancelDetail.java:47-81 — accepts only rows whose
    status transition is 1001 -> 1003 (``old.order_status='1001' and
    data.order_status='1003'``, P4) then joins dwd order_detail (J1). Here the
    change predicate maps to o_orderstatus='F' plus l_returnflag='R'
    (cancelled/returned analog); pushdown-friendly conjunctive filters.
    """
    o = T.load(spark, sf_dir, "orders", spread=False).filter(
        F.col("o_orderstatus") == "F"
    )
    l = T.load(spark, sf_dir, "lineitem", spread=False).filter(
        F.col("l_returnflag") == "R"
    )
    # both sides are status-filtered FACTS (each a constant fraction of the
    # corpus): pin shuffle_hash so the filtered orders stream is never
    # broadcast-built (the dwd_trade_order_detail scale note)
    return o.hint("shuffle_hash").join(l, l.l_orderkey == o.o_orderkey).select(
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("id"),
        F.col("l_orderkey").alias("order_id"),
        F.col("l_partkey").alias("sku_id"),
        F.col("o_custkey").alias("user_id"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("date_id"),
        F.col("l_quantity").alias("sku_num"),
        (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).alias(
            "split_total_amount"
        ),
    )


# ---------------------------------------------------------------------------
# DwdTradeOrderPaySucDetail — interval join J3
# ---------------------------------------------------------------------------
@query(
    "dwd_trade_order_pay_suc_detail",
    oracle="""
SELECT l.l_orderkey * 8 + l.l_linenumber    AS id,
       l.l_orderkey                         AS order_id,
       l.l_partkey                          AS sku_id,
       o.o_custkey                          AS user_id,
       o.o_orderdate                        AS order_time,
       l.l_shipdate                         AS callback_time,
       l.l_extendedprice * (1 - l.l_discount) AS split_payment_amount
FROM lineitem l
JOIN orders o
  ON l.l_orderkey = o.o_orderkey
 AND l.l_shipdate >= o.o_orderdate
 AND l.l_shipdate <= o.o_orderdate + INTERVAL 90 DAY
""",
    tags=("J3",),
)
def dwd_trade_order_pay_suc_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Payment-success detail via interval join.

    Reference: DwdTradeOrderPaySucDetail.java:66-87 — interval join
    ``p.row_time BETWEEN od.row_time - 15 min AND od.row_time + 5 s``.
    Here: lineitem (payment role) joins orders within
    [o_orderdate, o_orderdate + 90 days]. The streaming twin adds
    ``withWatermark`` on both sides; the time-range condition bounds join
    state exactly like Flink's interval join.
    """
    l = T.load(spark, sf_dir, "lineitem", spread=False)
    o = T.load(spark, sf_dir, "orders", spread=False)
    # orders is a fact: shuffle_hash on the equi key (the interval
    # predicates ride as join-condition filters), matching Flink's keyed
    # two-sided interval-join state — never a broadcast of a growing side
    return (
        l.join(
            o.hint("shuffle_hash"),
            (l.l_orderkey == o.o_orderkey)
            & (l.l_shipdate >= o.o_orderdate)
            & (l.l_shipdate <= o.o_orderdate + F.expr("interval 90 days")),
        )
        .select(
            (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("id"),
            F.col("l_orderkey").alias("order_id"),
            F.col("l_partkey").alias("sku_id"),
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").alias("order_time"),
            F.col("l_shipdate").alias("callback_time"),
            (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).alias(
                "split_payment_amount"
            ),
        )
    )


# ---------------------------------------------------------------------------
# DwdTradeCartAdd — conditional expression P5 + change predicate P4
# ---------------------------------------------------------------------------
@query(
    "dwd_trade_cart_add",
    oracle="""
SELECT l_partkey                                     AS sku_id,
       CAST(SUM(CASE WHEN l_linestatus = 'O'
                     THEN CAST(l_quantity AS DECIMAL(18,2))
                     ELSE -CAST(l_quantity AS DECIMAL(18,2)) END)
            AS DOUBLE)                               AS net_sku_num,
       COUNT(*)                                      AS change_count
FROM lineitem
WHERE l_linestatus = 'O' OR l_returnflag <> 'N'
GROUP BY l_partkey
""",
    tags=("P4", "P5"),
)
def dwd_trade_cart_add(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cart-add delta extraction.

    Reference: DwdTradeCartAdd.java:22-40 — keeps inserts OR updates where
    sku_num increased (P4), and computes the delta
    ``if(type='insert', sku_num, new - old)`` (P5). Here: open lines count
    positive quantity, closed/returned lines negative; the CASE mirrors the
    Flink ``if()`` and the filter mirrors the insert-or-increase predicate.
    """
    l = T.load(spark, sf_dir, "lineitem", spread=False)
    money = T.MONEY
    qty = F.col("l_quantity").cast(money)
    return (
        l.filter((F.col("l_linestatus") == "O") | (F.col("l_returnflag") != "N"))
        .groupBy(F.col("l_partkey").alias("sku_id"))
        .agg(
            F.sum(F.when(F.col("l_linestatus") == "O", qty).otherwise(-qty))
            .cast("double")
            .alias("net_sku_num"),
            F.count(F.lit(1)).alias("change_count"),
        )
    )


# ---------------------------------------------------------------------------
# DwdInteractionCommentInfo — temporal lookup join J4 (code -> name dic)
# ---------------------------------------------------------------------------
_DIC_ORACLE_VALUES = """
(VALUES ('1-URGENT', 'urgent'), ('2-HIGH', 'high'), ('3-MEDIUM', 'medium'),
        ('4-NOT SPECIFIED', 'not_specified'), ('5-LOW', 'low'))
  AS dic(dic_code, dic_name)
"""

DIC_ROWS = [
    ("1-URGENT", "urgent"),
    ("2-HIGH", "high"),
    ("3-MEDIUM", "medium"),
    ("4-NOT SPECIFIED", "not_specified"),
    ("5-LOW", "low"),
]


@query(
    "dwd_interaction_comment_info",
    oracle=f"""
SELECT o.o_orderkey          AS id,
       o.o_custkey           AS user_id,
       o.o_orderpriority     AS appraise_code,
       dic.dic_name          AS appraise_name,
       strftime(o.o_orderdate, '%Y-%m-%d') AS date_id
FROM orders o
JOIN {_DIC_ORACLE_VALUES} ON o.o_orderpriority = dic.dic_code
""",
    tags=("J4",),
)
def dwd_interaction_comment_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Comment fact with dictionary lookup enrichment.

    Reference: DwdInteractionCommentInfo.java:38-52 — temporal lookup join
    ``FOR SYSTEM_TIME AS OF proc_time`` against HBase ``base_dic`` (J4,
    partial cache + async). Spark-first: the dic is a small static DataFrame,
    broadcast stream-static join — replaces lookup cache and async I/O
    wholesale. Here o_orderpriority plays the dic code.
    """
    o = T.load(spark, sf_dir, "orders", spread=False)
    dic = spark.createDataFrame(DIC_ROWS, "dic_code string, dic_name string")
    return o.join(F.broadcast(dic), o.o_orderpriority == dic.dic_code).select(
        F.col("o_orderkey").alias("id"),
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderpriority").alias("appraise_code"),
        F.col("dic_name").alias("appraise_name"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("date_id"),
    )


# ---------------------------------------------------------------------------
# DwdTradeOrderRefund — double dictionary lookup (dic1/dic2 aliases)
# ---------------------------------------------------------------------------
@query(
    "dwd_trade_order_refund",
    oracle=f"""
SELECT o.o_orderkey              AS id,
       o.o_custkey               AS user_id,
       o.o_orderpriority         AS refund_type_code,
       dic1.dic_name             AS refund_type_name,
       o.o_orderstatus           AS refund_reason_type_code,
       dic2.dic_name             AS refund_reason_type_name,
       o.o_totalprice            AS refund_amount
FROM orders o
JOIN {_DIC_ORACLE_VALUES.replace('AS dic(', 'AS dic1(')}
  ON o.o_orderpriority = dic1.dic_code
JOIN (VALUES ('O','open'), ('F','finished'), ('P','pending'))
  AS dic2(status_code, dic_name)
  ON o.o_orderstatus = dic2.status_code
WHERE o.o_orderstatus = 'P'
""",
    tags=("P4", "J4"),
)
def dwd_trade_order_refund(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Refund fact with two dictionary lookups (aliased dic1/dic2).

    Reference: DwdTradeOrderRefund.java:48-88 — filter
    ``data.order_status='1005'`` (P4) then two lookup joins on base_dic for
    refund_type and refund_reason_type (J4 x2, aliased dic1/dic2). Here:
    status 'P' plays the refund-requested state; two broadcast joins against
    two small dics.
    """
    o = T.load(spark, sf_dir, "orders", spread=False).filter(
        F.col("o_orderstatus") == "P"
    )
    dic1 = spark.createDataFrame(DIC_ROWS, "dic_code string, dic_name string")
    dic2 = spark.createDataFrame(
        [("O", "open"), ("F", "finished"), ("P", "pending")],
        "status_code string, dic_name string",
    )
    return (
        o.join(F.broadcast(dic1), o.o_orderpriority == dic1.dic_code)
        .join(F.broadcast(dic2), o.o_orderstatus == dic2.status_code)
        .select(
            F.col("o_orderkey").alias("id"),
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderpriority").alias("refund_type_code"),
            dic1.dic_name.alias("refund_type_name"),
            F.col("o_orderstatus").alias("refund_reason_type_code"),
            dic2.dic_name.alias("refund_reason_type_name"),
            F.col("o_totalprice").alias("refund_amount"),
        )
    )


# ---------------------------------------------------------------------------
# DwdBaseDb — config-broadcast routing J8/W5 + dynamic topic K2
# ---------------------------------------------------------------------------
ROUTER_CONFIG = [
    ("click", "dwd_traffic_click", "user_id,ts"),
    ("view", "dwd_traffic_page", "user_id,ts"),
    ("purchase", "dwd_trade_pay", "user_id,ts,value"),
    ("signup", "dwd_user_register", "user_id,ts"),
]


@query(
    "dwd_base_db_router",
    oracle="""
SELECT cfg.sink_table                          AS sink_table,
       COUNT(*)                                AS record_count,
       COUNT(DISTINCT e.user_id)               AS user_count
FROM events e
JOIN (VALUES ('click', 'dwd_traffic_click'), ('view', 'dwd_traffic_page'),
             ('purchase', 'dwd_trade_pay'), ('signup', 'dwd_user_register'))
     AS cfg(source_type, sink_table)
  ON e.event_type = cfg.source_type
GROUP BY cfg.sink_table
""",
    tags=("J8", "W5", "K2"),
)
def dwd_base_db_router(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Config-table-driven stream router.

    Reference: DwdBaseDb.java:80-139 — broadcast ``table_process_dwd`` config
    (J8/W5) and route each CDC record to its configured sink topic via the
    dynamic-topic Kafka sink (K2, FlinkSinkUtil.java:38-52). Spark-first: the
    config is a small broadcast-joined DataFrame (re-read per micro-batch in
    foreachBatch for dynamism); per-row topic routing uses the kafka sink's
    ``topic`` column. This batch twin counts routed records per sink table.
    """
    e = T.load(spark, sf_dir, "events", spread=False)
    cfg = spark.createDataFrame(
        [(s, t) for s, t, _ in ROUTER_CONFIG],
        "source_type string, sink_table string",
    )
    return (
        e.join(F.broadcast(cfg), e.event_type == cfg.source_type)
        .groupBy("sink_table")
        .agg(
            F.count(F.lit(1)).alias("record_count"),
            F.countDistinct("user_id").alias("user_count"),
        )
    )
