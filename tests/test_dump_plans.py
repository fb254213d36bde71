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
