"""Pipeline-level tests over domain fixtures (SURVEY.md §5.2).

Fixtures cover FIXTURES.md §6 edge rows: duplicate detail ids (A1), cart
updates with decreased sku_num (must drop), status transitions 1001->1003 /
1005, payment updates without old.payment_status (must drop), malformed
JSON (P1), is_new=1 from devices first seen earlier (W10 repair).
"""

from __future__ import annotations

import os
import sys

import pyspark.sql.functions as F
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gmall_flink_realtime4_spark.pipelines import dim_app, dwd_base_log, dwd_trade, dws
from gmall_flink_realtime4_spark.schemas import CDC_ENVELOPE, TABLE_PROCESS_DIM, TABLE_PROCESS_DWD


def cdc_rows(spark, rows):
    return spark.createDataFrame(
        [
            ("gmall", t, typ, ts, data, old)
            for (t, typ, ts, data, old) in rows
        ],
        CDC_ENVELOPE,
    )


@pytest.fixture(scope="module")
def base_dic(spark):
    return spark.createDataFrame(
        [("1101", "alipay"), ("1102", "wechat"), ("1301", "quality"), ("1501", "broken")],
        "dic_code string, dic_name string",
    )


# ---------------------------------------------------------------------------
# DwdTradeCartAdd
# ---------------------------------------------------------------------------
def test_cart_add_insert_update_predicate(spark):
    cdc = cdc_rows(
        spark,
        [
            ("cart_info", "insert", 100, {"id": "c1", "user_id": "u1", "sku_id": "s1", "sku_num": "2"}, None),
            # update with increase -> delta 3
            ("cart_info", "update", 101, {"id": "c2", "user_id": "u1", "sku_id": "s1", "sku_num": "5"}, {"sku_num": "2"}),
            # update with DECREASE -> dropped (DwdTradeCartAdd.java:40)
            ("cart_info", "update", 102, {"id": "c3", "user_id": "u2", "sku_id": "s2", "sku_num": "1"}, {"sku_num": "4"}),
            # update without old.sku_num -> dropped
            ("cart_info", "update", 103, {"id": "c4", "user_id": "u2", "sku_id": "s2", "sku_num": "9"}, {}),
            # wrong table -> dropped
            ("order_info", "insert", 104, {"id": "o1", "sku_num": "7"}, None),
        ],
    )
    out = {r["id"]: r for r in dwd_trade.cart_add(cdc).collect()}
    assert set(out) == {"c1", "c2"}
    assert out["c1"]["sku_num"] == "2"  # insert keeps raw sku_num
    assert out["c2"]["sku_num"] == "3"  # update emits the delta new-old


# ---------------------------------------------------------------------------
# DwdTradeOrderDetail
# ---------------------------------------------------------------------------
def test_order_detail_joins(spark):
    cdc = cdc_rows(
        spark,
        [
            ("order_detail", "insert", 10, {"id": "d1", "order_id": "o1", "sku_id": "s1", "sku_name": "a", "order_price": "9.90", "sku_num": "1", "create_time": "2024-01-01 00:00:10", "split_total_amount": "9.90", "split_activity_amount": "1.00", "split_coupon_amount": "0.50"}, None),
            ("order_detail", "insert", 11, {"id": "d2", "order_id": "o1", "sku_id": "s2", "sku_name": "b", "order_price": "5.00", "sku_num": "2", "create_time": "2024-01-01 00:00:11", "split_total_amount": "10.00", "split_activity_amount": "0.00", "split_coupon_amount": "0.00"}, None),
            ("order_info", "insert", 10, {"id": "o1", "user_id": "u7", "province_id": "p3", "order_status": "1001"}, None),
            ("order_detail_activity", "insert", 10, {"order_detail_id": "d1", "activity_id": "a1", "activity_rule_id": "r1"}, None),
            # coupon only for d2
            ("order_detail_coupon", "insert", 11, {"order_detail_id": "d2", "coupon_id": "cp1"}, None),
            # update rows must be ignored (insert-only extraction)
            ("order_detail", "update", 12, {"id": "d3", "order_id": "o1"}, {"sku_num": "1"}),
        ],
    )
    out = {r["id"]: r for r in dwd_trade.order_detail(cdc).collect()}
    assert set(out) == {"d1", "d2"}
    assert out["d1"]["user_id"] == "u7" and out["d1"]["activity_id"] == "a1"
    assert out["d1"]["coupon_id"] is None  # left join miss
    assert out["d2"]["coupon_id"] == "cp1" and out["d2"]["activity_id"] is None


# ---------------------------------------------------------------------------
# DwdTradeOrderCancelDetail — P4 transition predicate
# ---------------------------------------------------------------------------
def test_order_cancel_transition_predicate(spark):
    detail = spark.createDataFrame(
        [("d1", "o1", 10), ("d2", "o2", 11)], "id string, order_id string, ts long"
    )
    cdc = cdc_rows(
        spark,
        [
            # true cancel 1001 -> 1003
            ("order_info", "update", 20, {"id": "o1", "order_status": "1003", "operate_time": "2024-01-02 03:04:05"}, {"order_status": "1001"}),
            # 1002 -> 1003 does NOT qualify (must come from created state)
            ("order_info", "update", 21, {"id": "o2", "order_status": "1003", "operate_time": "2024-01-02 03:04:06"}, {"order_status": "1002"}),
        ],
    )
    out = dwd_trade.order_cancel_detail(cdc, detail).collect()
    assert [r["id"] for r in out] == ["d1"]
    assert out[0]["date_id"] == "2024-01-02"


# ---------------------------------------------------------------------------
# DwdTradeOrderPaySucDetail — P4 + interval join J3 + dic J4
# ---------------------------------------------------------------------------
def test_pay_suc_interval_join_and_dic(spark, base_dic):
    t0 = 1_700_000_000  # epoch seconds
    detail = spark.createDataFrame(
        [("d1", "o1", t0), ("d2", "o2", t0)],
        "id string, order_id string, ts long",
    )
    cdc = cdc_rows(
        spark,
        [
            # pay 10 min BEFORE detail: inside the reference window
            # `p.row_time BETWEEN od.row_time - 15 MIN AND od.row_time + 5 SEC`
            # (DwdTradeOrderPaySucDetail.java:87 — details of an upsert stream
            # can arrive after their payment)
            ("payment_info", "update", t0 - 600, {"order_id": "o1", "user_id": "u1", "payment_type": "1101", "payment_status": "1602", "callback_time": "x"}, {"payment_status": "1601"}),
            # pay 20 min before detail: OUTSIDE window -> dropped
            ("payment_info", "update", t0 - 1200, {"order_id": "o2", "user_id": "u2", "payment_type": "1102", "payment_status": "1602", "callback_time": "y"}, {"payment_status": "1601"}),
            # missing old.payment_status -> dropped (DwdTradeOrderPaySucDetail.java:21-37)
            ("payment_info", "update", t0 + 1, {"order_id": "o1", "user_id": "u1", "payment_type": "1101", "payment_status": "1602"}, {}),
        ],
    )
    out = dwd_trade.order_pay_suc_detail(cdc, detail, base_dic).collect()
    assert len(out) == 1
    assert out[0]["id"] == "d1" and out[0]["payment_type_name"] == "alipay"


# ---------------------------------------------------------------------------
# DwdTradeOrderRefund — dual dic aliases
# ---------------------------------------------------------------------------
def test_order_refund_dual_dic(spark, base_dic):
    cdc = cdc_rows(
        spark,
        [
            ("order_refund_info", "insert", 30, {"id": "r1", "user_id": "u1", "order_id": "o1", "sku_id": "s1", "refund_type": "1301", "refund_num": "1", "refund_amount": "9.90", "refund_reason_type": "1501", "refund_reason_txt": "broke", "create_time": "2024-02-02 10:00:00"}, None),
            ("order_info", "update", 30, {"id": "o1", "order_status": "1005", "province_id": "p9"}, {"order_status": "1004"}),
            # refund for an order never reaching 1005 -> dropped by join
            ("order_refund_info", "insert", 31, {"id": "r2", "user_id": "u2", "order_id": "o2", "sku_id": "s2", "refund_type": "1301", "refund_num": "1", "refund_amount": "1.00", "refund_reason_type": "1501", "refund_reason_txt": "meh", "create_time": "2024-02-02 11:00:00"}, None),
        ],
    )
    out = dwd_trade.order_refund(cdc, base_dic).collect()
    assert len(out) == 1
    r = out[0]
    assert r["refund_type_name"] == "quality" and r["refund_reason_type_name"] == "broken"
    assert r["province_id"] == "p9" and r["date_id"] == "2024-02-02"


def test_comment_info_dic(spark, base_dic):
    cdc = cdc_rows(
        spark,
        [
            ("comment_info", "insert", 40, {"id": "c1", "user_id": "u1", "sku_id": "s1", "spu_id": "sp1", "order_id": "o1", "appraise": "1101", "comment_txt": "nice", "create_time": "t"}, None),
        ],
    )
    out = dwd_trade.comment_info(cdc, base_dic).collect()
    assert out[0]["appraise_name"] == "alipay"


# ---------------------------------------------------------------------------
# DwdBaseDb + DimApp routers — config broadcast J8/W5 + pruning P6
# ---------------------------------------------------------------------------
def test_base_db_router_prunes_and_routes(spark):
    cfg = spark.createDataFrame(
        [("favor_info", "insert", "dwd_favor_add", "id,user_id,sku_id")],
        TABLE_PROCESS_DWD,
    )
    cdc = cdc_rows(
        spark,
        [
            ("favor_info", "insert", 50, {"id": "f1", "user_id": "u1", "sku_id": "s1", "junk": "x"}, None),
            ("favor_info", "delete", 51, {"id": "f2"}, None),  # type not configured
            ("other", "insert", 52, {"id": "z"}, None),
        ],
    )
    out = dwd_trade.base_db_route(cdc, cfg).collect()
    assert len(out) == 1
    assert out[0]["sink_table"] == "dwd_favor_add"
    assert set(out[0]["data"].keys()) == {"id", "user_id", "sku_id"}  # junk pruned


def test_dim_router_and_materialize(spark):
    cfg = spark.createDataFrame(
        [("base_trademark", "dim_base_trademark", "id,tm_name", "info", "id")],
        TABLE_PROCESS_DIM,
    )
    cdc = cdc_rows(
        spark,
        [
            ("base_trademark", "insert", 60, {"id": "1", "tm_name": "acme", "logo_url": "x"}, None),
            ("base_trademark", "update", 61, {"id": "1", "tm_name": "acme2", "logo_url": "y"}, {"tm_name": "acme"}),
            ("base_trademark", "insert", 60, {"id": "2", "tm_name": "zorp"}, None),
            ("base_trademark", "delete", 62, {"id": "2", "tm_name": "zorp"}, None),
            ("bogus_table", "insert", 60, {"id": "9"}, None),
            # Maxwell bootstrap-start noise must be dropped (DimApp.java:71)
            ("base_trademark", "bootstrap-start", 60, {"id": "3"}, None),
        ],
    )
    routed = dim_app.route_dims(cdc, cfg)
    rows = routed.collect()
    assert all(r["sink_table"] == "dim_base_trademark" for r in rows)
    assert all(set(r["data"].keys()) <= {"id", "tm_name"} for r in rows)
    latest = {r["row_key"]: r for r in dim_app.apply_dim_batch(routed, "dim_base_trademark").collect()}
    assert set(latest) == {"1"}  # id=2 deleted; id=1 last-write-wins
    assert latest["1"]["data"]["tm_name"] == "acme2"


# ---------------------------------------------------------------------------
# DwdBaseLog — parse P1, is_new repair W10, split W6
# ---------------------------------------------------------------------------
def _log(mid, is_new, ts, page_id="home", last=None, start=None, err=None, displays=None, actions=None, item=None, item_type=None):
    import json

    d = {
        "common": {"mid": mid, "uid": mid, "vc": "v1", "ch": "app", "ar": "1", "is_new": is_new, "sid": "s"},
        "ts": ts,
    }
    if start:
        d["start"] = {"entry": start}
    else:
        d["page"] = {"page_id": page_id, "last_page_id": last, "item": item, "item_type": item_type, "during_time": 7}
    if err:
        d["err"] = {"error_code": err}
    if displays:
        d["displays"] = displays
    if actions:
        d["actions"] = actions
    return json.dumps(d)


DAY1 = 1_704_067_200_000  # 2024-01-01 UTC millis
DAY2 = DAY1 + 86_400_000


def test_base_log_parse_split_and_is_new_repair(spark):
    raw = spark.createDataFrame(
        [
            ("not json at all",),  # P1 drop
            ('{"page":{"page_id":"home"},"ts":1}',),  # missing mid -> drop
            (_log("m1", "1", DAY1),),  # first visit, is_new stays 1
            (_log("m1", "1", DAY1 + 1000, displays=[{"item": "i1", "item_type": "sku_id", "pos_id": "0"}]),),
            (_log("m1", "1", DAY2),),  # next day still claims 1 -> repaired to 0
            (_log("m2", "0", DAY1),),  # old visitor
            (_log("m2", "1", DAY1 + 5),),  # old visitor claiming new same day -> 0 (backfilled yesterday)
            (_log("m3", "1", DAY1, start="icon"),),  # start event
            (_log("m4", "1", DAY1, err="42"),),  # err event
            (_log("m5", "1", DAY1, actions=[{"action_id": "fav", "item": "i", "item_type": "sku", "ts": DAY1}]),),
        ],
        "value string",
    )
    out = dwd_base_log.transform(raw)
    page = out["page"].collect()
    flags = {(r["common"]["mid"], r["ts"]): r["common"]["is_new"] for r in page}
    assert flags[("m1", DAY1)] == "1"
    assert flags[("m1", DAY1 + 1000)] == "1"  # same first day keeps 1
    assert flags[("m1", DAY2)] == "0"  # W10 repair
    assert flags[("m2", DAY1)] == "0"
    assert flags[("m2", DAY1 + 5)] == "0"  # backfill-yesterday case
    assert out["start"].count() == 1
    assert out["err"].count() == 1
    assert out["display"].count() == 1
    assert out["action"].count() == 1
    d = out["display"].first()
    assert d["display"]["item"] == "i1" and d["common"]["mid"] == "m1"


# ---------------------------------------------------------------------------
# DWS domain pipelines
# ---------------------------------------------------------------------------
def test_dws_cart_add_uu_window(spark):
    cart = spark.createDataFrame(
        [
            ("u1", 1000), ("u1", 1003),  # same user same 10s window + same day
            ("u2", 1001),
            ("u1", 86_400 + 5),  # next day -> counted again
        ],
        "user_id string, ts long",
    )
    out = {(r["stt"].isoformat(), r["cart_add_uu_ct"]) for r in dws.trade_cart_add_uu_window(cart).collect()}
    assert out == {("1970-01-01T00:16:40", 2), ("1970-01-02T00:00:00", 1)}


def test_dws_sku_order_window_dedup_and_enrich(spark):
    detail = spark.createDataFrame(
        [
            # duplicate upsert rows for the same detail id (A1) — must count once
            ("d1", "s1", "9.90", "2", "19.80", "1.00", "0.00", 1000),
            ("d1", "s1", "9.90", "2", "19.80", "1.00", "0.00", 1000),
            ("d2", "s2", "5.00", "1", "5.00", "0.00", "0.50", 1001),
        ],
        "id string, sku_id string, order_price string, sku_num string, "
        "split_total_amount string, split_activity_amount string, "
        "split_coupon_amount string, ts long",
    )
    dim_sku = spark.createDataFrame(
        [("s1", "widget", "sp1", "t1", "c3"), ("s2", "gadget", "sp1", "t2", "c3")],
        "id string, sku_name string, spu_id string, tm_id string, category3_id string",
    )
    dim_spu = spark.createDataFrame([("sp1", "things")], "id string, spu_name string")
    dim_tm = spark.createDataFrame(
        [("t1", "acme"), ("t2", "zorp")], "id string, tm_name string"
    )
    out = {
        r["sku_id"]: r
        for r in dws.trade_sku_order_window(detail, dim_sku, dim_spu, dim_tm).collect()
    }
    assert float(out["s1"]["order_amount"]) == 19.80  # deduped, not 39.60
    assert out["s1"]["tm_name"] == "acme" and out["s1"]["spu_name"] == "things"
    assert float(out["s2"]["coupon_reduce_amount"]) == 0.50


def test_dws_user_login_back_flag(spark):
    def page_row(uid, ts, last=None):
        return (
            {"mid": uid, "uid": uid, "vc": "v", "ch": "c", "ar": "a", "is_new": "0", "sid": "s"},
            {"page_id": "home", "last_page_id": last, "item": None, "item_type": None, "during_time": 1},
            ts,
        )

    page = spark.createDataFrame(
        [
            page_row("u1", DAY1),            # first login
            page_row("u1", DAY1 + 9 * 86_400_000),  # 9-day gap -> back
            page_row("u2", DAY1),
            page_row("u2", DAY1 + 86_400_000),      # 1-day gap -> not back
            page_row("u3", DAY1, last="cart"),      # not a login entry -> filtered
        ],
        "common struct<mid:string,uid:string,vc:string,ch:string,ar:string,is_new:string,sid:string>, "
        "page struct<page_id:string,last_page_id:string,item:string,item_type:string,during_time:long>, ts long",
    )
    rows = dws.user_user_login_window(page, window="1 hour").collect()
    total_uu = sum(r["uu_ct"] for r in rows)
    total_back = sum(r["back_ct"] for r in rows)
    assert total_uu == 4  # u1 x2 days, u2 x2 days; u3 filtered
    assert total_back == 1  # only u1's 9-day gap


def test_dws_keyword_window_tokenizer(spark):
    page = spark.createDataFrame(
        [
            (
                {"mid": "m", "uid": "u", "vc": "v", "ch": "c", "ar": "a", "is_new": "0", "sid": "s"},
                {"page_id": "good_list", "last_page_id": "search", "item": "Apple iPhone apple", "item_type": "keyword", "during_time": 1},
                DAY1,
            ),
            (
                {"mid": "m", "uid": "u", "vc": "v", "ch": "c", "ar": "a", "is_new": "0", "sid": "s"},
                {"page_id": "home", "last_page_id": None, "item": None, "item_type": None, "during_time": 1},
                DAY1,
            ),
        ],
        "common struct<mid:string,uid:string,vc:string,ch:string,ar:string,is_new:string,sid:string>, "
        "page struct<page_id:string,last_page_id:string,item:string,item_type:string,during_time:long>, ts long",
    )
    out = {r["keyword"]: r["keyword_count"] for r in dws.traffic_source_keyword_page_view_window(page).collect()}
    # HashSet semantics: 'apple' deduped within one search (KwSplit.java returns a set)
    assert out == {"apple": 1, "iphone": 1}


def test_dws_traffic_vc_ch_ar_is_new(spark):
    page = spark.createDataFrame(
        [
            (
                {"mid": "m1", "uid": "u", "vc": "v1", "ch": "app", "ar": "1", "is_new": "0", "sid": "s"},
                {"page_id": "home", "last_page_id": None, "item": None, "item_type": None, "during_time": 10},
                DAY1,
            ),
            (
                {"mid": "m1", "uid": "u", "vc": "v1", "ch": "app", "ar": "1", "is_new": "0", "sid": "s"},
                {"page_id": "detail", "last_page_id": "home", "item": None, "item_type": None, "during_time": 20},
                DAY1 + 1000,
            ),
        ],
        "common struct<mid:string,uid:string,vc:string,ch:string,ar:string,is_new:string,sid:string>, "
        "page struct<page_id:string,last_page_id:string,item:string,item_type:string,during_time:long>, ts long",
    )
    rows = dws.traffic_vc_ch_ar_is_new_page_view_window(page, window="1 hour").collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["uv_ct"], r["sv_ct"], r["pv_ct"], r["dur_sum"]) == (1, 1, 2, 30)


def test_tokenizer_pure():
    from gmall_flink_realtime4_spark.functions.tokenizer import tokenize

    assert tokenize("Hello, hello WORLD 42") == ["42", "hello", "world"]
    # CJK falls back to single-char tokens, sorted by codepoint
    assert tokenize("小米手机 pro") == ["pro", "小", "手", "机", "米"]
    assert tokenize(None) == []
    assert tokenize("") == []


def test_dim_config_ddl_side_effects(spark, tmp_path):
    """K6: config rows create dim tables idempotently; a removed config row
    drops its table (DimApp.java:99-139 twin)."""
    config = spark.createDataFrame(
        [("user_info", "dim_tbl_a", "id", "id"), ("sku_info", "dim_tbl_b", "id", "id")],
        "source_table string, sink_table string, sink_columns string, sink_row_key string",
    )
    loc = str(tmp_path / "dims")
    ensured = dim_app.apply_config_ddl(spark, config, location_root=loc)
    assert sorted(ensured) == ["dim_tbl_a", "dim_tbl_b"]
    # idempotent replay
    assert sorted(dim_app.apply_config_ddl(spark, config, location_root=loc)) == [
        "dim_tbl_a", "dim_tbl_b"
    ]
    assert spark.catalog.tableExists("dim_tbl_a")
    spark.sql("INSERT INTO dim_tbl_a VALUES ('k1', map('a', '1'))")
    assert spark.table("dim_tbl_a").count() == 1
    dim_app.drop_dim_table(spark, "dim_tbl_a")
    dim_app.drop_dim_table(spark, "dim_tbl_a")  # idempotent
    assert not spark.catalog.tableExists("dim_tbl_a")
    dim_app.drop_dim_table(spark, "dim_tbl_b")


def test_raw_log_topic_follows_events_rewritten_in_place(spark, sf_dir, tmp_path):
    """The materialized log topic is keyed by the events file, not only the
    directory: rewriting events.parquet in place changes the page output."""
    import shutil

    import pyarrow.parquet as pq

    from gmall_flink_realtime4_spark.plans.catalog import queries

    def page(d):
        df = queries()["dwd_base_log_page"](spark, str(d))
        return sorted(map(tuple, df.collect()), key=repr)

    sf = tmp_path / "sf"
    sf.mkdir()
    for f in os.listdir(sf_dir):  # copyfile: the fixtures are read-only
        shutil.copyfile(os.path.join(sf_dir, f), sf / f)
    before = page(sf)
    events = pq.read_table(sf / "events.parquet")
    pq.write_table(events.slice(0, events.num_rows // 2), sf / "events.parquet")
    after = page(sf)
    shutil.copytree(sf, tmp_path / "fresh")
    assert after != before
    assert after == page(tmp_path / "fresh")
