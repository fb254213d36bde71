"""Source factories (SURVEY.md §2.1).

``read_topic_db`` (S3) normalizes any frame of topic_db JSON strings —
streaming or batch — into the CDC envelope with its event time and
watermark, so pipelines never touch connector options. Kafka sources
(S1/S2) need the ``spark-sql-kafka`` connector on the classpath; without
it ``format("kafka")`` fails at plan time, so none is defined here.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..schemas import CDC_ENVELOPE


def read_topic_db(
    raw: DataFrame,
    watermark: str | None = "15 seconds",
) -> DataFrame:
    """S3 — the shared topic_db CDC table: envelope + event_time + watermark.

    Reference: SQLUtil.java:30-42 (`row_time AS TO_TIMESTAMP_LTZ(ts,3)`,
    `WATERMARK ... - INTERVAL '15' SECOND`; ts is epoch SECONDS in topic_db)
    via BaseSQLApp.createTopicDb (BaseSQLApp.java:48-50). Input: a
    DataFrame of JSON strings (streaming or batch).
    """
    env = raw.select(F.from_json("value", CDC_ENVELOPE).alias("j")).select("j.*")
    out = env.withColumn("event_time", F.timestamp_seconds(F.col("ts")))
    if watermark is not None and out.isStreaming:
        out = out.withWatermark("event_time", watermark)
    return out
