"""Session sizing and the generated-class cache of sessions the engine owns."""

from __future__ import annotations

import os

from gmall_flink_realtime4_spark import session
from gmall_flink_realtime4_spark.plans.catalog import queries

# perfbench's `warehouse_batch` queries (perfbench/workloads.py; importing
# that module needs perfbench/ and tools/ on sys.path)
WAREHOUSE_QUERIES = (
    "dwd_trade_order_detail",
    "dwd_trade_order_pay_suc_detail",
    "dwd_base_log_page",
    "dws_trade_sku_order_window",
    "dws_trade_province_order_window",
    "dws_traffic_vc_ch_ar_is_new_page_view_window",
    "dws_user_user_login_window",
    "dws_sliding_window_events",
    "dws_session_window_events",
    "dws_user_event_funnel",
)


def test_sizing_follows_the_machine_unless_pinned(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: set(range(4)))
    assert session.cpus() == "4"
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: set(range(96)))
    assert session.cpus() == str(session.MAX_DEFAULT_CPUS)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "48")
    assert session.cpus() == "48"

    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": 15 * 2**30 // 4096}
    monkeypatch.setattr(os, "sysconf", pages.__getitem__)
    assert session.driver_memory() == f"{15 * 1024 // 2}m"
    pages["SC_PHYS_PAGES"] = 256 * 2**30 // 4096
    assert session.driver_memory() == f"{session.MAX_DEFAULT_DRIVER_MEM_MB}m"
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert session.driver_memory() == "3g"
    assert session.owned_confs()["spark.driver.memory"] == "3g"


def test_warm_warehouse_pass_compiles_no_class(spark, sf_dir):
    """A second pass over the warehouse queries finds every generated class
    in Spark's codegen cache: none is compiled again.

    One known exception: the province query's two DISTINCT counts plan an
    ``Expand`` whose groups come in expression-id hash order, so a rebuilt
    plan may generate the other order's two stage classes (compiled twice
    each) until both orders are cached.
    """
    compilations = (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME()
    )
    qs = queries()

    def one_pass() -> dict[str, int]:
        counts = {}
        for name in WAREHOUSE_QUERIES:
            before = compilations.getCount()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            counts[name] = compilations.getCount() - before
        return counts

    one_pass()
    warm = one_pass()
    assert warm.pop("dws_trade_province_order_window") <= 4
    assert {n: c for n, c in warm.items() if c} == {}
    assert int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) >= 4096
