"""Central schema registry (SURVEY.md §1.3).

The reference declares DDL inline per app (e.g. DwdTradeOrderDetail.java:
96-113) and otherwise flows schemaless fastjson JSONObjects; here every
shape is an explicit StructType:

- CDC envelope (Maxwell style, SQLUtil.java:30-42)
- Debezium envelope (FlinkSourceUtil.java:50-66)
- behavior log (DwdBaseLog.java:44-53,118-154)
- config rows (TableProcessDim.java:10-28, TableProcessDwd.java:10-25)
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

# ---------------------------------------------------------------------------
# Maxwell-style CDC envelope: {database, table, type, ts, data, old}
# ts is epoch SECONDS (logs are millis — FIXTURES.md header note).
# ---------------------------------------------------------------------------
CDC_ENVELOPE = StructType(
    [
        StructField("database", StringType()),
        StructField("table", StringType()),
        StructField("type", StringType()),
        StructField("ts", LongType()),
        StructField("data", MapType(StringType(), StringType())),
        StructField("old", MapType(StringType(), StringType())),
    ]
)

# ---------------------------------------------------------------------------
# Behavior log (topic_log): nested common/page/start/displays/actions/err + ts
# ---------------------------------------------------------------------------
_COMMON = StructType(
    [
        StructField("mid", StringType()),
        StructField("uid", StringType()),
        StructField("vc", StringType()),
        StructField("ch", StringType()),
        StructField("ar", StringType()),
        StructField("is_new", StringType()),
        StructField("sid", StringType()),
    ]
)
_PAGE = StructType(
    [
        StructField("page_id", StringType()),
        StructField("last_page_id", StringType()),
        StructField("item", StringType()),
        StructField("item_type", StringType()),
        StructField("during_time", LongType()),
    ]
)
_DISPLAY = StructType(
    [
        StructField("item", StringType()),
        StructField("item_type", StringType()),
        StructField("pos_id", StringType()),
    ]
)
_ACTION = StructType(
    [
        StructField("action_id", StringType()),
        StructField("item", StringType()),
        StructField("item_type", StringType()),
        StructField("ts", LongType()),
    ]
)

LOG_EVENT = StructType(
    [
        StructField("common", _COMMON),
        StructField("page", _PAGE),
        StructField("start", StructType([StructField("entry", StringType())])),
        StructField("displays", ArrayType(_DISPLAY)),
        StructField("actions", ArrayType(_ACTION)),
        StructField("err", StructType([StructField("error_code", StringType())])),
        StructField("ts", LongType()),  # epoch millis
    ]
)

# ---------------------------------------------------------------------------
# Config tables (gmall_config_realtime4, streamed via CDC in the reference)
# ---------------------------------------------------------------------------
TABLE_PROCESS_DIM = StructType(
    [
        StructField("source_table", StringType()),
        StructField("sink_table", StringType()),
        StructField("sink_columns", StringType()),  # comma list
        StructField("sink_family", StringType()),
        StructField("sink_row_key", StringType()),
    ]
)

TABLE_PROCESS_DWD = StructType(
    [
        StructField("source_table", StringType()),
        StructField("source_type", StringType()),
        StructField("sink_table", StringType()),
        StructField("sink_columns", StringType()),
    ]
)
