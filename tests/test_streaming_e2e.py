"""End-to-end streaming pipeline test: Kafka-shaped JSON -> DWS output.

One full reference app runs as a real Structured Streaming query —
DwdTradeCartAdd (CDC envelope parse + change predicate P4/P5) feeding
DwsTradeCartAddUuWindow (A8 first-today dedup + tumbling uu count) — over
staged micro-batches, asserted against the identical pipeline run in batch
mode. This is the BaseAPP lifecycle (SURVEY §3.1) minus the broker: source
factory -> pipeline transforms -> sink. Each DWS app whose registered query
runs its pipelines/dws.py transform is also streamed over that query's
adapter output and compared with the registered query itself.
"""

from __future__ import annotations

import json
import os
import sys

import pyspark.sql.functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gmall_flink_realtime4_spark import tables as T
from gmall_flink_realtime4_spark.pipelines import dwd_trade, dws
from gmall_flink_realtime4_spark.plans.catalog import queries
from gmall_flink_realtime4_spark.sources import read_topic_db
from gmall_flink_realtime4_spark.streaming.runner import (
    empty_stream_dir,
    run_to_memory,
    stream_parquet_source,
)

DAY = 86_400  # epoch seconds
# a flush row's event time (epoch seconds), in a window past every
# test-data row
FLUSH_S = 4_000_000_000
FLUSH_CUT = "2090-01-01"


def _assert_stream_matches_registered(
    spark, tmp_path, sf_dir, name, frame, run, flush=None, order=("ts",)
):
    """Stream the registered query's adapter output ``frame`` through its
    transform (``run(df, streaming)``) and compare with the registered
    query on the transform's columns.

    The rows arrive as one micro-batch, in ``order`` (event time by
    default); a second batch holds one flush row, ``frame``'s first row
    with ``ts`` at ``FLUSH_S`` and the ``flush`` overrides, whose output
    windows are dropped."""
    src = empty_stream_dir(str(tmp_path / "registered"))
    stages = [
        lambda: frame.coalesce(1).sortWithinPartitions(*order)
        .write.mode("append").parquet(src),
        lambda: frame.limit(1)
        .withColumns({"ts": F.lit(FLUSH_S), **(flush or {})})
        .coalesce(1).write.mode("append").parquet(src),
    ]
    s = stream_parquet_source(spark, src, frame.schema, 1)
    got = run_to_memory(run(s, True), "append", stages=stages)
    cols = got.columns
    streamed = sorted(
        tuple(str(r[c]) for c in cols)
        for r in got.filter(F.col("stt") < FLUSH_CUT).collect()
    )
    expect = sorted(
        tuple(str(r[c]) for c in cols)
        for r in queries()[name](spark, sf_dir).select(*cols).collect()
    )
    assert streamed == expect


def _cdc(table, typ, ts, data, old=None):
    return json.dumps(
        {"database": "gmall", "table": table, "type": typ, "ts": ts,
         "data": data, "old": old}
    )


def _rows():
    # 3 users; u1 adds twice on day 1 (dedup -> 1), again day 2 (counts);
    # u2's update with DECREASED sku_num must be filtered by P4;
    # u3 inserts day 1.
    return [
        _cdc("cart_info", "insert", 10, {"id": "1", "user_id": "u1", "sku_id": "s1", "cart_price": "5", "sku_num": "2", "sku_name": "a", "create_time": "t"}),
        _cdc("cart_info", "update", 20, {"id": "1", "user_id": "u1", "sku_id": "s1", "cart_price": "5", "sku_num": "5", "sku_name": "a", "create_time": "t"}, {"sku_num": "2"}),
        _cdc("cart_info", "update", 30, {"id": "2", "user_id": "u2", "sku_id": "s2", "cart_price": "5", "sku_num": "1", "sku_name": "b", "create_time": "t"}, {"sku_num": "4"}),
        _cdc("cart_info", "insert", 40, {"id": "3", "user_id": "u3", "sku_id": "s3", "cart_price": "5", "sku_num": "1", "sku_name": "c", "create_time": "t"}),
        _cdc("order_info", "insert", 50, {"id": "9"}),  # wrong table -> filtered
        _cdc("cart_info", "insert", DAY + 10, {"id": "4", "user_id": "u1", "sku_id": "s1", "cart_price": "5", "sku_num": "1", "sku_name": "a", "create_time": "t"}),
    ]


def _pipeline(raw, streaming):
    # exactly one watermark owner per stream (Spark disallows redefining):
    # the DWS op watermarks its own event_time, so the source sets none.
    cdc = read_topic_db(raw, watermark=None)
    cart = dwd_trade.cart_add(cdc)
    return dws.trade_cart_add_uu_window(
        cart, window="1 day", streaming=streaming
    )


def test_cart_add_uu_end_to_end_stream_vs_batch(spark, tmp_path, sf_dir):
    rows = _rows()
    batch_raw = spark.createDataFrame([(v,) for v in rows], "value string")
    expect = sorted(
        (r["stt"].isoformat(), r["cart_add_uu_ct"])
        for r in _pipeline(batch_raw, streaming=False).collect()
    )
    # day 1: u1 + u3 (u2 filtered by the decreased-sku_num predicate);
    # day 2: u1 again
    assert [c for _, c in expect] == [2, 1]

    src = empty_stream_dir(str(tmp_path))
    s = stream_parquet_source(spark, src, "value string", 1000)
    flush = _cdc("cart_info", "insert", 10 * DAY, {"id": "99", "user_id": "flush", "sku_id": "s", "cart_price": "1", "sku_num": "1", "sku_name": "f", "create_time": "t"})
    stages = [
        (lambda vs=vs: spark.createDataFrame([(v,) for v in vs], "value string")
         .coalesce(1).write.mode("append").parquet(src))
        for vs in (rows[:3], rows[3:], [flush])
    ]
    got = run_to_memory(_pipeline(s, streaming=True), "append", stages=stages)
    streamed = sorted(
        (r["stt"].isoformat(), r["cart_add_uu_ct"])
        for r in got.filter(F.col("stt") < "2000-01-01").collect()
    )
    assert streamed == expect

    _assert_stream_matches_registered(
        spark, tmp_path, sf_dir, "dws_trade_cart_add_uu_window",
        T.cart_add(spark, sf_dir),
        lambda df, st: dws.trade_cart_add_uu_window(
            df, window="1 day", streaming=st
        ),
    )


def _page_rows(spark, rows):
    """(uid, last_page_id, ts_ms) -> page-log-shaped frame."""
    return spark.createDataFrame(
        rows, "uid string, lp string, ts long"
    ).select(
        F.struct(F.col("uid")).alias("common"),
        F.struct(F.col("lp").alias("last_page_id")).alias("page"),
        "ts",
    )


def test_login_window_end_to_end_stream_vs_batch(spark, tmp_path, sf_dir):
    """DwsUserUserLoginWindow: the streaming keyed-state path must produce
    the batch plan's uu/back counts exactly (incl. the 7-day back flag)."""
    day = 86_400_000
    rows = [
        ("u1", None, 10 * day),          # first login
        ("u1", "login", 10 * day + 1000),  # same day -> deduped
        ("u2", None, 10 * day + 2000),
        (None, None, 10 * day + 3000),   # no uid -> filtered
        ("u1", "cart", 10 * day + 4000),  # not a login page -> filtered
        ("u1", None, 20 * day),          # 10-day gap -> back=1
        ("u2", None, 21 * day),          # 11-day gap -> back=1
    ]
    batch = dws.user_user_login_window(
        _page_rows(spark, rows), window="1 day", streaming=False
    )
    expect = sorted(
        (r["stt"].isoformat(), r["uu_ct"], r["back_ct"]) for r in batch.collect()
    )
    assert [(c, b) for _, c, b in expect] == [(2, 0), (1, 1), (1, 1)]

    src = empty_stream_dir(str(tmp_path))
    schema = "common struct<uid:string>, page struct<last_page_id:string>, ts long"
    s = stream_parquet_source(spark, src, schema, 1000)
    streamed_df = dws.user_user_login_window(s, window="1 day", streaming=True)
    flush = [("zz", None, 400 * day)]
    stages = [
        (lambda vs=vs: _page_rows(spark, vs).coalesce(1)
         .write.mode("append").parquet(src))
        for vs in (rows[:5], rows[5:], flush)
    ]
    got = run_to_memory(streamed_df, "append", stages=stages)
    streamed = sorted(
        (r["stt"].isoformat(), r["uu_ct"], r["back_ct"])
        for r in got.filter(F.col("stt") < "2000-01-01").collect()
    )
    assert streamed == expect

    _assert_stream_matches_registered(
        spark, tmp_path, sf_dir, "dws_user_user_login_window",
        T.page_log(spark, sf_dir),
        lambda df, st: dws.user_user_login_window(
            df, window="10 seconds", streaming=st
        ),
        flush={"ts": F.lit(FLUSH_S * 1000)},  # page-log ts is epoch millis
    )


def test_base_db_dynamic_routing_end_to_end(spark, tmp_path):
    """DwdBaseDb end-to-end (J8/W5 -> K2): streamed CDC rows broadcast-join
    the routing config, prune to sink_columns, and land under per-topic
    partition dirs via foreachBatch — the broker-less twin of the dynamic
    Kafka sink."""
    from gmall_flink_realtime4_spark.schemas import CDC_ENVELOPE
    from gmall_flink_realtime4_spark.sinks import routed_kafka_frame
    from gmall_flink_realtime4_spark.sinks.factories import write_routed_batch
    from gmall_flink_realtime4_spark.streaming.runner import run_foreach_batch

    config = spark.createDataFrame(
        [
            ("comment_info", "insert", "dwd_interaction_comment", "id,user_id"),
            ("favor_info", "insert", "dwd_interaction_favor", "id,sku_id"),
        ],
        "source_table string, source_type string, sink_table string,"
        " sink_columns string",
    )
    rows = [
        _cdc("comment_info", "insert", 10, {"id": "1", "user_id": "u1", "junk": "x"}),
        _cdc("favor_info", "insert", 20, {"id": "2", "sku_id": "s9", "junk": "y"}),
        _cdc("comment_info", "update", 30, {"id": "3"}),  # wrong type -> dropped
        _cdc("other_tbl", "insert", 40, {"id": "4"}),  # unconfigured -> dropped
    ]
    src = empty_stream_dir(str(tmp_path))
    out = str(tmp_path / "topics")
    s = stream_parquet_source(spark, src, "value string", 1000)
    cdc = s.select(F.from_json("value", CDC_ENVELOPE).alias("j")).select("j.*")
    routed = routed_kafka_frame(
        dwd_trade.base_db_route(cdc, config), topic_col="sink_table"
    )
    stages = [
        lambda: spark.createDataFrame([(v,) for v in rows], "value string")
        .coalesce(1).write.mode("append").parquet(src)
    ]
    q = (
        routed.writeStream.foreachBatch(
            lambda bdf, _bid: write_routed_batch(bdf, out)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        for st in stages:
            st()
            q.processAllAvailable()
    finally:
        q.stop(); q.awaitTermination()
    got = spark.read.parquet(out)
    topics = {r["topic"] for r in got.select("topic").distinct().collect()}
    assert topics == {"dwd_interaction_comment", "dwd_interaction_favor"}
    vals = {r["topic"]: r["value"] for r in got.collect()}
    # pruned payload: junk column gone, only configured sink_columns kept
    assert '"junk"' not in vals["dwd_interaction_comment"]
    assert '"user_id":"u1"' in vals["dwd_interaction_comment"]


def test_sku_order_window_end_to_end_stream_vs_batch(spark, tmp_path, sf_dir):
    """Flagship (DwsTradeSkuOrderWindow) streaming path: watermark -> A1
    dedup -> tumbling sums -> broadcast dim chain, as ONE streaming query,
    vs the identical pipeline in batch. Duplicate emissions carry identical
    payloads (the reference's re-emission case), so stream/batch keepers
    agree."""
    detail_schema = (
        "id string, sku_id string, order_price string, sku_num string,"
        " split_total_amount string, split_activity_amount string,"
        " split_coupon_amount string, ts long"
    )
    rows = [
        ("d1", "s1", "10", "2", "20", "1", "0", 100),
        ("d1", "s1", "10", "2", "20", "1", "0", 100),  # re-emission
        ("d2", "s1", "5", "1", "5", "0", "1", 103),
        ("d3", "s2", "7", "1", "7", "0", "0", 111),
    ]
    dim_sku = spark.createDataFrame(
        [("s1", "sku one", "p1", "t1", "c1"), ("s2", "sku two", "p2", "t2", "c2")],
        "id string, sku_name string, spu_id string, tm_id string, category3_id string",
    )
    dim_spu = spark.createDataFrame(
        [("p1", "spu one"), ("p2", "spu two")], "id string, spu_name string"
    )
    dim_tm = spark.createDataFrame(
        [("t1", "brand one"), ("t2", "brand two")], "id string, tm_name string"
    )

    def run(df, streaming):
        return dws.trade_sku_order_window(
            df, dim_sku, dim_spu, dim_tm, window="10 seconds", streaming=streaming
        )

    batch_detail = spark.createDataFrame(rows, detail_schema)
    cols = ["stt", "sku_id", "order_amount", "original_amount", "sku_name", "tm_name"]
    expect = sorted(
        tuple(str(r[c]) for c in cols) for r in run(batch_detail, False).collect()
    )

    src = empty_stream_dir(str(tmp_path))
    s = stream_parquet_source(spark, src, detail_schema, 1000)
    flush = [("zz", "s1", "0", "0", "0", "0", "0", 10_000_000)]
    stages = [
        (lambda vs=vs: spark.createDataFrame(vs, detail_schema).coalesce(1)
         .write.mode("append").parquet(src))
        for vs in (rows[:2], rows[2:], flush)
    ]
    got = run_to_memory(run(s, True), "append", stages=stages)
    streamed = sorted(
        tuple(str(r[c]) for c in cols)
        for r in got.filter(F.col("stt") < "1970-02-01").collect()  # drop flush
    )
    assert streamed == expect

    # lineitem repeats detail ids with different payloads: the stream
    # keeps each id's first arrival and the batch its least (ts, payload),
    # so the rows arrive in that order
    frame = T.sku_order_detail(spark, sf_dir)
    sku, spu, tm = T.sku_dims(spark, sf_dir)
    _assert_stream_matches_registered(
        spark, tmp_path, sf_dir, "dws_trade_sku_order_window", frame,
        lambda df, st: dws.trade_sku_order_window(
            df, sku, spu, tm, window="1 day", streaming=st
        ),
        flush={"id": F.lit(-1)},
        order=["ts", *[c for c in frame.columns if c not in ("id", "ts")]],
    )
    # the splits add up to the original amount, as upstream
    for r in queries()["dws_trade_sku_order_window"](spark, sf_dir).collect():
        parts = (
            r["order_amount"] + r["activity_reduce_amount"]
            + r["coupon_reduce_amount"]
        )
        assert abs(parts - r["original_amount"]) < 0.005, r


def test_vc_ch_ar_window_end_to_end_stream_vs_batch(spark, tmp_path):
    """DwsTrafficVcChArIsNewPageViewWindow streaming: first-today uv flag
    (self-join against the dedup stream) + keyed tumbling multi-measure
    reduce, vs the batch plan."""
    schema = (
        "common struct<mid:string,vc:string,ch:string,ar:string,is_new:string>,"
        " page struct<last_page_id:string,during_time:bigint>, ts long"
    )

    def frame(rows):
        return spark.createDataFrame(rows, schema)

    c1 = ("m1", "v1", "app", "1", "0")
    c2 = ("m2", "v1", "app", "1", "0")
    rows = [
        (c1, (None, 10), 1_000),        # m1 first visit (uv=1, sv=1)
        (c1, ("home", 20), 5_000),      # same window, not first (pv only)
        (c2, (None, 30), 7_000),        # m2 first visit
        (c1, (None, 40), 90_000_000),   # m1 next day -> uv again, new window
    ]
    batch = dws.traffic_vc_ch_ar_is_new_page_view_window(
        frame(rows), window="1 day", streaming=False
    )
    cols = ["stt", "vc", "ch", "ar", "is_new", "uv_ct", "sv_ct", "pv_ct", "dur_sum"]
    expect = sorted(tuple(str(r[c]) for c in cols) for r in batch.collect())
    assert [(r[5], r[7]) for r in expect] == [("2", "3"), ("1", "1")]

    src = empty_stream_dir(str(tmp_path))
    s = stream_parquet_source(spark, src, schema, 1000)
    streamed_df = dws.traffic_vc_ch_ar_is_new_page_view_window(
        s, window="1 day", streaming=True
    )
    flush = [(("zz", "v9", "app", "9", "0"), (None, 0), 10_000_000_000)]
    stages = [
        (lambda vs=vs: frame(vs).coalesce(1).write.mode("append").parquet(src))
        for vs in (rows[:3], rows[3:], flush)
    ]
    got = run_to_memory(streamed_df, "append", stages=stages)
    streamed = sorted(
        tuple(str(r[c]) for c in cols)
        for r in got.filter(F.col("vc") != "v9").collect()
    )
    assert streamed == expect


def test_home_detail_window_end_to_end_stream_vs_batch(spark, tmp_path):
    """DwsTrafficHomeDetailPageViewWindow: TWO independent first-today
    dedup states (home vs good_detail, DwsTrafficHomeDetailPageViewWindow.
    java:69-113) feeding one window — streamed vs batch."""
    from gmall_flink_realtime4_spark.operators.dedup import first_today
    from gmall_flink_realtime4_spark.operators.windows import (
        tumble,
        with_event_watermark,
    )

    schema = "mid string, page_id string, ts long"

    def pipeline(df, streaming):
        src = df.select(
            "mid", "page_id",
            F.expr("cast(timestamp_micros(ts * 1000) as timestamp_ntz)").alias(
                "event_time"
            ),
        )
        if streaming:
            src = with_event_watermark(src, "event_time", "5 seconds")
        home = first_today(
            src.filter(F.col("page_id") == "home"), "mid", "event_time",
            streaming=streaming,
        ).withColumn("home_uv", F.lit(1)).withColumn("detail_uv", F.lit(0))
        detail = first_today(
            src.filter(F.col("page_id") == "good_detail"), "mid", "event_time",
            streaming=streaming,
        ).withColumn("home_uv", F.lit(0)).withColumn("detail_uv", F.lit(1))
        return tumble(
            home.unionByName(detail),
            "event_time",
            "1 day",
            aggs=[
                F.sum("home_uv").cast("bigint").alias("home_uv_ct"),
                F.sum("detail_uv").cast("bigint").alias("good_detail_uv_ct"),
            ],
        )

    day = 86_400_000
    rows = [
        ("m1", "home", 10 * day),
        ("m1", "home", 10 * day + 1000),        # same-day dup -> dropped
        ("m1", "good_detail", 10 * day + 2000),  # independent state
        ("m2", "good_detail", 10 * day + 3000),
        ("m2", "cart", 10 * day + 4000),         # neither page -> ignored
        ("m1", "home", 11 * day),                # next day counts again
    ]
    batch = pipeline(spark.createDataFrame(rows, schema), False)
    cols = ["stt", "home_uv_ct", "good_detail_uv_ct"]
    expect = sorted(tuple(str(r[c]) for c in cols) for r in batch.collect())
    assert [(r[1], r[2]) for r in expect] == [("1", "2"), ("1", "0")]

    src = empty_stream_dir(str(tmp_path))
    s = stream_parquet_source(spark, src, schema, 1000)
    flush = [("zz", "home", 400 * day)]
    stages = [
        (lambda vs=vs: spark.createDataFrame(vs, schema).coalesce(1)
         .write.mode("append").parquet(src))
        for vs in (rows[:4], rows[4:], flush)
    ]
    got = run_to_memory(pipeline(s, True), "append", stages=stages)
    streamed = sorted(
        tuple(str(r[c]) for c in cols)
        for r in got.filter(F.col("stt") < "2000-01-01").collect()
    )
    assert streamed == expect


def test_keyword_window_end_to_end_stream_vs_batch(spark, tmp_path):
    """DwsTrafficSourceKeywordPageViewWindow streaming: search-page filter
    (P7) -> tokenizer UDTF explode (U1/J7) -> tumbling keyword counts (A3),
    streamed vs batch."""
    schema = (
        "common struct<mid:string>,"
        " page struct<last_page_id:string,item:string,item_type:string>, ts long"
    )

    def frame(rows):
        return spark.createDataFrame(rows, schema)

    day = 86_400_000
    rows = [
        (("m1",), ("search", "red dress", "keyword"), 10 * day),
        (("m2",), ("search", "red shoes", "keyword"), 10 * day + 1000),
        (("m3",), ("home", "red hat", "keyword"), 10 * day + 2000),   # wrong last page
        (("m4",), ("search", None, "keyword"), 10 * day + 3000),      # null item
        (("m5",), ("search", "dress dress", "keyword"), 11 * day),    # set-dedup
    ]
    batch = dws.traffic_source_keyword_page_view_window(
        frame(rows), window="1 day", streaming=False
    )
    cols = ["stt", "keyword", "keyword_count"]
    expect = sorted(tuple(str(r[c]) for c in cols) for r in batch.collect())
    # day1: red x2, dress, shoes; day2: dress x1 (HashSet-dedup inside doc)
    assert [(k, c) for _, k, c in expect] == [
        ("dress", "1"), ("red", "2"), ("shoes", "1"), ("dress", "1")
    ]

    src = empty_stream_dir(str(tmp_path))
    s = stream_parquet_source(spark, src, schema, 1000)
    flush = [(("zz",), ("search", "flush", "keyword"), 400 * day)]
    stages = [
        (lambda vs=vs: frame(vs).coalesce(1).write.mode("append").parquet(src))
        for vs in (rows[:3], rows[3:], flush)
    ]
    got = run_to_memory(
        dws.traffic_source_keyword_page_view_window(s, window="1 day", streaming=True),
        "append",
        stages=stages,
    )
    streamed = sorted(
        tuple(str(r[c]) for c in cols)
        for r in got.filter(F.col("keyword") != "flush").collect()
    )
    assert streamed == expect


def test_trademark_refund_window_end_to_end_stream_vs_batch(
    spark, tmp_path, sf_dir
):
    """DwsTradeTrademarkCategoryUserRefundWindow streaming: DISTINCT refund
    order count (A7, the orderIdSet pattern) via tagged dedup-stream union,
    sku -> (tm, category3) broadcast pre-join, tm_name post-agg enrichment
    (J5) — vs the batch countDistinct plan. Last reference DWS app to gain
    a streaming e2e twin."""
    schema = (
        "order_id string, user_id string, sku_id string,"
        " refund_amount string, ts long"
    )
    day = 86_400
    rows = [
        ("o1", "u1", "s1", "10", 10 * day),
        ("o1", "u1", "s1", "5", 10 * day + 60),   # same order, 2nd refund row
        ("o2", "u1", "s2", "7", 10 * day + 120),  # same user, other category
        ("o3", "u2", "s3", "3", 10 * day + 180),
        ("o4", "u3", "s1", "2", 11 * day),        # next window
    ]
    dim_sku = spark.createDataFrame(
        [("s1", "t1", "c1"), ("s2", "t1", "c2"), ("s3", "t2", "c1")],
        "id string, tm_id string, category3_id string",
    )
    dim_tm = spark.createDataFrame(
        [("t1", "brand one"), ("t2", "brand two")], "id string, tm_name string"
    )

    def run(df, streaming):
        return dws.trade_trademark_category_user_refund_window(
            df, dim_sku, dim_tm, window="1 day", streaming=streaming
        )

    cols = [
        "stt", "tm_id", "category3_id", "user_id",
        "refund_order_count", "refund_amount", "tm_name",
    ]
    batch = run(spark.createDataFrame(rows, schema), False)
    expect = sorted(tuple(str(r[c]) for c in cols) for r in batch.collect())
    assert [(r[4], r[5]) for r in expect] == [
        ("1", "15.0"), ("1", "7.0"), ("1", "3.0"), ("1", "2.0")
    ]

    src = empty_stream_dir(str(tmp_path))
    s = stream_parquet_source(spark, src, schema, 1000)
    flush = [("oz", "uz", "s1", "0", 10_000 * day)]
    stages = [
        (lambda vs=vs: spark.createDataFrame(vs, schema).coalesce(1)
         .write.mode("append").parquet(src))
        for vs in (rows[:3], rows[3:], flush)
    ]
    got = run_to_memory(run(s, True), "append", stages=stages)
    streamed = sorted(
        tuple(str(r[c]) for c in cols)
        for r in got.filter(F.col("user_id") != "uz").collect()
    )
    assert streamed == expect

    sku, _, tm = T.sku_dims(spark, sf_dir)
    _assert_stream_matches_registered(
        spark, tmp_path, sf_dir, "dws_trade_trademark_category_user_refund_window",
        T.order_refund(spark, sf_dir),
        lambda df, st: dws.trade_trademark_category_user_refund_window(
            df, sku, tm, window="1 day", streaming=st
        ),
    )


def test_province_window_end_to_end_stream_vs_batch(spark, tmp_path, sf_dir):
    """DwsTradeProvinceOrderWindow streaming: DISTINCT order/user counts
    (A7) via tagged dedup-stream union — countDistinct has no streaming
    form — vs the batch countDistinct plan."""
    schema = (
        "province_id string, order_id string, user_id string,"
        " split_total_amount string, ts long"
    )
    day = 86_400
    rows = [
        ("p1", "o1", "u1", "10", 10 * day),
        ("p1", "o1", "u1", "5", 10 * day + 60),   # same order, 2nd detail row
        ("p1", "o2", "u1", "7", 10 * day + 120),  # same user, distinct order
        ("p2", "o3", "u2", "3", 10 * day + 180),
        ("p1", "o4", "u3", "2", 11 * day),        # next window
    ]
    def run(df, streaming):
        return dws.trade_province_order_window(df, window="1 day", streaming=streaming)

    batch = run(spark.createDataFrame(rows, schema), False)
    cols = ["stt", "province_id", "order_count", "user_count", "order_amount"]
    expect = sorted(tuple(str(r[c]) for c in cols) for r in batch.collect())
    assert [(r[2], r[3], r[4]) for r in expect] == [
        ("2", "1", "22.0"), ("1", "1", "3.0"), ("1", "1", "2.0")
    ]
    src = empty_stream_dir(str(tmp_path))
    s = stream_parquet_source(spark, src, schema, 1000)
    flush = [("pz", "oz", "uz", "0", 10_000 * day)]
    stages = [
        (lambda vs=vs: spark.createDataFrame(vs, schema).coalesce(1)
         .write.mode("append").parquet(src))
        for vs in (rows[:3], rows[3:], flush)
    ]
    got = run_to_memory(run(s, True), "append", stages=stages)
    streamed = sorted(
        tuple(str(r[c]) for c in cols)
        for r in got.filter(F.col("province_id") != "pz").collect()
    )
    assert streamed == expect

    _assert_stream_matches_registered(
        spark, tmp_path, sf_dir, "dws_trade_province_order_window",
        T.province_order_detail(spark, sf_dir), run,
    )


def test_province_window_sub_day_stream_vs_batch(spark, tmp_path):
    """Sub-day windows: the streaming distinct tags must dedup per
    TUMBLING WINDOW (window-start key), not per calendar day — an order
    re-appearing in a later hour counts again, exactly like the batch
    countDistinct per (province, window)."""
    schema = (
        "province_id string, order_id string, user_id string,"
        " split_total_amount string, ts long"
    )
    hour = 3600
    rows = [
        ("p1", "o1", "u1", "10", 10 * hour),
        ("p1", "o1", "u1", "5", 10 * hour + 60),   # same order+hour: dedup
        ("p1", "o1", "u1", "7", 11 * hour),        # same order, NEXT hour:
        ("p1", "o2", "u2", "3", 11 * hour + 60),   #   must count again
    ]

    def run(df, streaming):
        return dws.trade_province_order_window(
            df, window="1 hour", streaming=streaming
        )

    batch = run(spark.createDataFrame(rows, schema), False)
    cols = ["stt", "province_id", "order_count", "user_count", "order_amount"]
    expect = sorted(tuple(str(r[c]) for c in cols) for r in batch.collect())
    assert [(r[2], r[3], r[4]) for r in expect] == [
        ("1", "1", "15.0"), ("2", "2", "10.0")
    ]
    src = empty_stream_dir(str(tmp_path))
    s = stream_parquet_source(spark, src, schema, 1000)
    flush = [("pz", "oz", "uz", "0", 10_000 * hour)]
    stages = [
        (lambda vs=vs: spark.createDataFrame(vs, schema).coalesce(1)
         .write.mode("append").parquet(src))
        for vs in (rows[:2], rows[2:], flush)
    ]
    got = run_to_memory(run(s, True), "append", stages=stages)
    streamed = sorted(
        tuple(str(r[c]) for c in cols)
        for r in got.filter(F.col("province_id") != "pz").collect()
    )
    assert streamed == expect
