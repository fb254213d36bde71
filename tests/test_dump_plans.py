"""The plan-identity check (``tools/dump_plans.py`` dumps of two
checkouts, then ``diff -r``) must see two builds of the same plan as equal
text, whatever the session built before them."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gmall_flink_realtime4_spark.plans.catalog import queries  # noqa: E402
from tools.dump_plans import mask_ids  # noqa: E402


def _masked_explain(spark, sf_dir: str, name: str) -> str:
    df = queries()[name](spark, sf_dir)
    return mask_ids(
        df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
    )


def test_masked_explain_is_stable_across_lambda_counter(spark, sf_dir):
    # every build of this query mints fresh PySpark lambda variables
    # (``lambda x_<n>``) from the session-global counter
    first = _masked_explain(spark, sf_dir, "llm_text_repetition")
    second = _masked_explain(spark, sf_dir, "llm_text_repetition")
    assert "lambda x_" in first
    assert first == second


def test_masked_checkpoint_call_site_is_session_independent():
    # Spark records where a checkpointed RDD was created; the text depends
    # on which query the session built first
    site = (
        "Arguments: [doc_id#{}L], MapPartitionsRDD[{}]"
        " at localCheckpoint at {}, ExistingRDD"
    )
    first = mask_ids(site.format(12, 40, "<unknown>:0"))
    later = mask_ids(site.format(97, 311, "NativeMethodAccessorImpl.java:0"))
    assert first == later
    assert "localCheckpoint" in first


# One DISTINCT-group Expand of dws_trade_province_order_window's former
# monthly plan and the aggregate that reads it, in the two orders a
# session can plan its two groups (count DISTINCT o_custkey / o_orderkey).
_EXPAND_PLAN = """\
(18) Expand
Input [6]: [o_orderkey#0L, o_custkey#1L, o_totalprice#3, n_name#12, r_name#15, g#45]
Arguments: [[g#45, n_name#12, r_name#15, null, null, 0, cast(o_totalprice#3 as decimal(18,2))], [g#45, n_name#12, r_name#15, {c1}, null, 1, null], [g#45, n_name#12, r_name#15, null, {c2}, 2, null]], [g#45, n_name#12, r_name#15, {o1}#47L, {o2}#48L, gid#46, CAST(o_totalprice AS DECIMAL(18,2))#49]

(19) HashAggregate
Input [7]: [g#45, n_name#12, r_name#15, {o1}#47L, {o2}#48L, gid#46, CAST(o_totalprice AS DECIMAL(18,2))#49]
Keys [6]: [g#45, n_name#12, r_name#15, {o1}#47L, {o2}#48L, gid#46]
Arguments: hashpartitioning(g#45, n_name#12, r_name#15, {o1}#47L, {o2}#48L, gid#46, 4), ENSURE_REQUIREMENTS, [plan_id=99]

(22) HashAggregate
Functions [3]: [partial_count(o_orderkey#{ko}L) FILTER (WHERE (gid#46 = {go})), partial_count(o_custkey#{kc}L) FILTER (WHERE (gid#46 = {gc})), partial_first(sum#50, true) FILTER (WHERE (gid#46 = 0))]
"""


def test_masked_distinct_expand_is_session_independent():
    # RewriteDistinctAggregates numbers the DISTINCT groups in a hash
    # order that differs between sessions
    custkey_first = _EXPAND_PLAN.format(
        c1="o_custkey#1L", c2="o_orderkey#0L", o1="o_custkey", o2="o_orderkey",
        ko=48, go=2, kc=47, gc=1,
    )
    orderkey_first = _EXPAND_PLAN.format(
        c1="o_orderkey#0L", c2="o_custkey#1L", o1="o_orderkey", o2="o_custkey",
        ko=47, go=1, kc=48, gc=2,
    )
    assert mask_ids(custkey_first) == mask_ids(orderkey_first)
    assert "o_custkey#NL, o_orderkey#NL, gid#N" in mask_ids(orderkey_first)
