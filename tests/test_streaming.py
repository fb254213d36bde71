"""Batch-vs-stream parity tests (SURVEY.md §5.3).

Structured Streaming's unified semantics make "run the same DataFrame fn in
batch" the oracle: each test materializes an input, replays it as staged
micro-batches (one stage = one drain = one-or-more triggers), and asserts
the streaming result equals the batch plan's — windows (A2-A5), dedup (A8),
keyed state (W10), stream-stream joins (J1/J3), and the foreachBatch upsert
sink (K3/K5). Watermark late-row semantics (W1/W3) get a dedicated test.
"""

from __future__ import annotations

import os
import sys

import pyspark.sql.functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gmall_flink_realtime4_spark import tables as T
from gmall_flink_realtime4_spark.operators.dedup import first_today
from gmall_flink_realtime4_spark.operators.joins import interval_join
from gmall_flink_realtime4_spark.operators.stateful import (
    repair_is_new_batch,
    repair_is_new_streaming,
)
from gmall_flink_realtime4_spark.sinks import routed_kafka_frame, upsert_parquet
from gmall_flink_realtime4_spark.streaming import (
    run_to_memory,
    stream_from_dataframe,
    stream_parquet_source,
)
from gmall_flink_realtime4_spark.streaming.runner import (
    empty_stream_dir,
    run_foreach_batch,
    time_slices,
)

SF = "/root/testdata/sf0.001"


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def _events(spark):
    # typed event frame with a proper timestamp column
    return T.load(spark, SF, "events").select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id", "event_type"
    )


def _stage_writes(src: str, frames) -> list:
    """One callable per frame: append it to the source dir (a micro-batch)."""
    return [
        (lambda df=df: df.coalesce(1).write.mode("append").parquet(src))
        for df in frames
    ]


def _flush_row(spark):
    """Far-future row to push the watermark past every real window
    (append-mode windowed aggs only emit closed windows)."""
    return spark.createDataFrame(
        [(999_999, "2025-06-01 00:00:00", 0, "__flush")],
        "event_id bigint, ts string, user_id bigint, event_type string",
    ).select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id", "event_type"
    )


def test_tumbling_window_stream_parity(spark, tmp_path):
    """A3/A5 twin: 1-hour tumbling count by key arriving in 3 in-order
    micro-batches == batch groupBy(window)."""
    e = _events(spark)
    batch = (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("ct"))
        .select(F.col("w.start").alias("stt"), "event_type", "ct")
    )
    src = empty_stream_dir(str(tmp_path))
    s = stream_parquet_source(spark, src, e.schema, max_files_per_trigger=1000)
    streamed = (
        s.withWatermark("ts", "5 seconds")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("ct"))
        .select(F.col("w.start").alias("stt"), "event_type", "ct")
    )
    stages = _stage_writes(src, time_slices(e, 3, "ts") + [_flush_row(spark)])
    got = run_to_memory(streamed, output_mode="append", stages=stages)
    cols = ["stt", "event_type", "ct"]
    assert _rows(got.filter(F.col("event_type") != "__flush"), cols) == _rows(
        batch, cols
    )


def test_first_today_dedup_stream_parity(spark, tmp_path):
    """A8 twin: per-day first-visit dedup; streaming dropDuplicates keeps
    arrival-order first, so assert the (key, day) universe + count match
    the batch min-ts keeper."""
    e = _events(spark)
    batch = first_today(e, "user_id", "ts")
    src = empty_stream_dir(str(tmp_path))
    s = stream_parquet_source(spark, src, e.schema, max_files_per_trigger=1000)
    streamed = run_to_memory(
        first_today(s.withWatermark("ts", "1 day"), "user_id", "ts", streaming=True),
        output_mode="update",
        stages=_stage_writes(src, time_slices(e, 3, "ts")),
    )

    def key(df):
        return sorted(
            (r[0], r[1])
            for r in df.select("user_id", F.date_format("ts", "yyyy-MM-dd")).collect()
        )

    assert key(streamed) == key(batch)
    assert streamed.count() == batch.count()


def test_kmv_sketch_windowed_stream_parity(spark, tmp_path):
    """A7-at-scale twin: per-window KMV distinct estimate (k smallest md5
    values via collect_set) — the mergeable-sketch alternative to the
    tagged dedup-union when exact distinct isn't required. Streaming
    windowed agg == identical batch plan."""
    from gmall_flink_realtime4_spark.operators.hashing import KMV_M, hexval_sql

    K = 16

    def kmv(df):
        h = df.select(
            "event_type",
            "ts",
            F.md5(F.col("user_id").cast("string")).alias("hx"),
        )
        agged = h.groupBy(
            F.window("ts", "1 day").alias("w"), "event_type"
        ).agg(F.array_sort(F.collect_set("hx")).alias("arr"))
        kth = F.element_at("arr", F.least(F.size("arr"), F.lit(K)))
        v = F.expr(hexval_sql("element_at(arr, least(size(arr), {}))".format(K), "instr"))
        est = F.when(F.size("arr") < K, F.size("arr").cast("bigint")).otherwise(
            F.expr(f"cast(({K - 1} * {KMV_M}) as bigint)") / v
        )
        return agged.select(
            F.col("w.start").alias("stt"),
            "event_type",
            F.floor(est).cast("bigint").alias("kmv_est"),
        )

    e = _events(spark)
    batch = kmv(e)
    src = empty_stream_dir(str(tmp_path))
    s = stream_parquet_source(spark, src, e.schema, max_files_per_trigger=1000)
    streamed = kmv(s.withWatermark("ts", "5 seconds"))
    stages = _stage_writes(src, time_slices(e, 3, "ts") + [_flush_row(spark)])
    got = run_to_memory(streamed, output_mode="append", stages=stages)
    cols = ["stt", "event_type", "kmv_est"]
    assert _rows(got.filter(F.col("event_type") != "__flush"), cols) == _rows(
        batch, cols
    )


def test_is_new_repair_stream_parity_single_batch(spark, tmp_path):
    """W10 twin: applyInPandasWithState == batch window-fn repair when all
    rows arrive in one micro-batch (intra-batch ts ordering is handled by
    the operator)."""
    log = spark.createDataFrame(
        [
            ("m1", "1", 1_000),
            ("m1", "1", 90_000_000),  # next day, claims new -> repaired 0
            ("m1", "0", 95_000_000),
            ("m2", "0", 2_000),  # first seen not-new -> backfill, never 1
            ("m2", "1", 3_000),
            ("m3", "1", 5_000),  # same-day repeat new stays 1
            ("m3", "1", 6_000),
        ],
        "mid string, is_new string, ts long",
    )
    expect = _rows(repair_is_new_batch(log), ["mid", "is_new", "ts"])
    _, src = stream_from_dataframe(log, n_files=1, base_dir=str(tmp_path))
    s = stream_parquet_source(spark, src, log.schema)
    got = run_to_memory(repair_is_new_streaming(s), output_mode="append")
    assert _rows(got, ["mid", "is_new", "ts"]) == expect


def test_is_new_repair_state_survives_batches(spark, tmp_path):
    """W10 cross-batch state: the first-day state set in micro-batch 1 must
    rewrite a day-2 'new' claim arriving in micro-batch 2."""
    schema = "mid string, is_new string, ts long"
    day1 = spark.createDataFrame([("m1", "1", 1_000)], schema)
    day2 = spark.createDataFrame([("m1", "1", 90_000_000)], schema)
    src = empty_stream_dir(str(tmp_path))
    s = stream_parquet_source(spark, src, schema, max_files_per_trigger=1000)
    got = run_to_memory(
        repair_is_new_streaming(s),
        output_mode="append",
        stages=_stage_writes(src, [day1, day2]),
    )
    vals = {r["ts"]: r["is_new"] for r in got.collect()}
    assert vals == {1_000: "1", 90_000_000: "0"}


def test_interval_join_stream_parity(spark, tmp_path):
    """J3 twin: watermarked stream-stream interval join == batch join.
    payment within [-15 min, +5 s] of detail (DwdTradeOrderPaySucDetail
    bounds)."""
    e = _events(spark)
    detail = e.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("d_id"),
        F.col("user_id").alias("d_uid"),
        F.col("ts").alias("d_ts"),
    )
    pay = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_uid"),
        F.col("ts").alias("p_ts"),
    )
    batch = interval_join(
        pay, detail, F.col("p_uid") == F.col("d_uid"), "p_ts", "d_ts",
        "interval 15 minutes", "interval 5 seconds",
    )
    dsrc = empty_stream_dir(str(tmp_path))
    psrc = empty_stream_dir(str(tmp_path))
    ds = stream_parquet_source(spark, dsrc, detail.schema, 1000).withWatermark(
        "d_ts", "15 seconds"
    )
    ps = stream_parquet_source(spark, psrc, pay.schema, 1000).withWatermark(
        "p_ts", "15 seconds"
    )
    streamed = interval_join(
        ps, ds, F.col("p_uid") == F.col("d_uid"), "p_ts", "d_ts",
        "interval 15 minutes", "interval 5 seconds",
    )
    # stage both sides together, oldest slice first (kafka-ish arrival)
    dslices, pslices = time_slices(detail, 2, "d_ts"), time_slices(pay, 2, "p_ts")
    stages = [
        w
        for pair in zip(_stage_writes(dsrc, dslices), _stage_writes(psrc, pslices))
        for w in pair
    ]
    got = run_to_memory(streamed, output_mode="append", stages=stages)
    cols = ["p_id", "d_id"]
    assert _rows(got, cols) == _rows(batch, cols)


def test_late_rows_dropped_by_watermark(spark, tmp_path):
    """W1/W3: a row arriving after the watermark passed its window is
    silently dropped (reference: no allowedLateness anywhere)."""
    schema = "k string, ts timestamp"

    def frame(rows):
        return spark.createDataFrame(rows, "k string, ts string").select(
            "k", F.col("ts").cast("timestamp").alias("ts")
        )

    on_time = frame([("a", "2024-01-01 00:00:01"), ("a", "2024-01-01 02:00:00")])
    late = frame([("late", "2024-01-01 00:00:02")])
    src = empty_stream_dir(str(tmp_path))
    s = stream_parquet_source(spark, src, schema, max_files_per_trigger=1000)
    agg = (
        s.withWatermark("ts", "5 seconds")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.collect_set("k").alias("ks"))
    )
    got = run_to_memory(
        agg, output_mode="append", stages=_stage_writes(src, [on_time, late])
    )
    emitted = {
        (r["w"]["start"].isoformat(), tuple(sorted(r["ks"]))) for r in got.collect()
    }
    # batch 1's 02:00 row advanced the watermark past the 00:00 window;
    # the late row must not appear anywhere
    assert ("2024-01-01T00:00:00", ("a",)) in emitted
    assert all("late" not in ks for _, ks in emitted)


def test_upsert_parquet_foreach_batch(spark, tmp_path):
    """K3/K5 twin: streamed changes through foreachBatch+upsert_parquet ==
    batch last-change-wins materialization (delete drops the key)."""
    changes = spark.createDataFrame(
        [
            ("k1", 1, "upsert", "v1"),
            ("k1", 3, "upsert", "v3"),
            ("k1", 2, "upsert", "v2"),
            ("k2", 1, "upsert", "x1"),
            ("k2", 2, "delete", ""),
            ("k3", 5, "delete", ""),
            ("k3", 7, "upsert", "z7"),
        ],
        "row_key string, seq long, type string, val string",
    )
    target = str(tmp_path / "dim_tbl")
    _, src = stream_from_dataframe(changes, n_files=1, base_dir=str(tmp_path))
    s = stream_parquet_source(spark, src, changes.schema)
    run_foreach_batch(
        s,
        lambda bdf, _bid: upsert_parquet(
            bdf, target, ["row_key"], "seq", delete_col="type"
        ),
        output_mode="append",
    )
    got = _rows(spark.read.parquet(target), ["row_key", "seq", "val"])
    assert got == [("k1", 3, "v3"), ("k3", 7, "z7")]


def test_routed_kafka_frame_shape(spark):
    """K2: dynamic-topic projection emits (topic, value) and strips the
    routing column from the payload."""
    df = spark.createDataFrame(
        [("dwd_a", "1", "x"), ("dwd_b", "2", "y")],
        "sink_table string, id string, payload string",
    )
    routed = routed_kafka_frame(df)
    assert routed.columns == ["topic", "value"]
    rows = {r["topic"]: r["value"] for r in routed.collect()}
    assert rows["dwd_a"] == '{"id":"1","payload":"x"}'


def test_back_visitor_flags_stream_vs_batch(spark, tmp_path):
    """A8 derived flag (7-day returning) — keyed-state streaming twin must
    match the batch first_today + LAG(day) formulation over real events."""
    from pyspark.sql import Window as W

    from gmall_flink_realtime4_spark.operators.stateful import (
        back_visitor_flags_streaming,
    )

    e = _events(spark).select(
        F.col("user_id").cast("string").alias("uid"),
        F.col("ts").alias("event_time"),
    )
    firsts = first_today(e, "uid", "event_time")
    prev = W.partitionBy("uid").orderBy("d")
    batch = (
        firsts.withColumn("d", F.to_date("event_time"))
        .withColumn("prev_d", F.lag("d").over(prev))
        .select(
            "uid",
            "event_time",
            F.when(
                F.col("prev_d").isNotNull()
                & (F.datediff(F.col("d"), F.col("prev_d")) > 7),
                1,
            )
            .otherwise(0)
            .alias("back"),
        )
    )
    src = empty_stream_dir(str(tmp_path))
    s = stream_parquet_source(spark, src, e.schema, max_files_per_trigger=1000)
    got = run_to_memory(
        back_visitor_flags_streaming(s),
        output_mode="append",
        stages=_stage_writes(src, time_slices(e, 3, "event_time")),
    )
    cols = ["uid", "event_time", "back"]
    assert _rows(got, cols) == _rows(batch, cols)


def test_checkpoint_recovery_exactly_once(spark, tmp_path):
    """W8: a restarted query resumes from its checkpoint — rows processed
    before the stop are NOT re-emitted (effective exactly-once with the
    idempotent parquet sink), rows arriving while down are picked up."""
    src = empty_stream_dir(str(tmp_path))
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = "k string, v long"

    def start():
        s = stream_parquet_source(spark, src, schema, max_files_per_trigger=1000)
        return (
            s.select("k", (F.col("v") * 2).alias("v2"))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    def write(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    q = start()
    try:
        write([("a", 1), ("b", 2)])
        q.processAllAvailable()
    finally:
        q.stop(); q.awaitTermination()
    write([("c", 3)])  # arrives while the query is down
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop(); q.awaitTermination()
    got = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    assert got == [("a", 2), ("b", 4), ("c", 6)]


def test_checkpoint_file_manager_class_loads(spark):
    """The session routes checkpoints through Spark's FileSystem manager
    (no per-file shell forks on a local FS without native hadoop). The
    class moved package in Spark 4.1: an upgrade must fail here, not at
    the first streaming start()."""
    from gmall_flink_realtime4_spark.session import RUNTIME_CONFS

    key = "spark.sql.streaming.checkpointFileManagerClass"
    name = spark.conf.get(key)
    assert name == RUNTIME_CONFS[key]
    jvm = spark._jvm
    cls = jvm.java.lang.Class.forName(name)
    base = jvm.java.lang.Class.forName(
        "org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager"
    )
    assert base.isAssignableFrom(cls)
    # Spark's checkpoint checksums still wrap the manager
    assert spark.conf.get(
        "spark.sql.streaming.checkpoint.fileChecksum.enabled"
    ) == "true"


def test_page_view_window_restart_from_checkpoint(spark, tmp_path):
    """The traffic page-view twin (first-today dedup state + window state)
    over two in-order slices, stopped, then restarted from the SAME
    checkpoint with the remaining slices and a flush row: batch ids
    continue past the stop, the union of emitted rows equals the batch
    twin, and the state store's delta files carry Spark's checksum
    sidecars (``N.delta.crc``) and Hadoop's (``.N.delta.crc``)."""
    import re

    from gmall_flink_realtime4_spark.pipelines import dws

    # dims are functions of mid, so which of a mid's same-day rows the
    # streaming dedup keeps cannot move its uv into another group
    page = T.load(spark, SF, "events").select(
        F.struct(
            F.col("user_id").cast("string").alias("mid"),
            F.concat(F.lit("v"), (F.col("user_id") % 3).cast("string")).alias("vc"),
            F.lit("app").alias("ch"),
            (F.col("user_id") % 7).cast("string").alias("ar"),
            (F.col("user_id") % 2).cast("string").alias("is_new"),
        ).alias("common"),
        F.struct(
            F.when(F.col("event_id") % 3 != 0, F.lit("home")).alias("last_page_id"),
            F.floor(F.col("value") * 100).cast("bigint").alias("during_time"),
        ).alias("page"),
        F.expr("unix_millis(cast(ts as timestamp))").alias("ts"),
    )
    cols = ["stt", "vc", "ch", "ar", "is_new", "uv_ct", "sv_ct", "pv_ct", "dur_sum"]
    expected = _rows(
        dws.traffic_vc_ch_ar_is_new_page_view_window(
            page, window="1 day", streaming=False
        ),
        cols,
    )
    flush = page.limit(1).select(
        F.struct(
            F.lit("__flush").alias("mid"), F.lit("__flush").alias("vc"),
            F.lit("app").alias("ch"), F.lit("0").alias("ar"),
            F.lit("0").alias("is_new"),
        ).alias("common"),
        "page",
        (F.col("ts") + F.lit(30 * 86_400_000)).alias("ts"),
    )
    slices = time_slices(page, 4, "ts")

    src = empty_stream_dir(str(tmp_path))
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def emit(bdf, bid):
        # batch-id keyed overwrite: a batch replayed after a crash rewrites
        # its own output
        bdf.write.mode("overwrite").parquet(os.path.join(out, f"batch_id={bid}"))

    def run(frames):
        q = (
            dws.traffic_vc_ch_ar_is_new_page_view_window(
                stream_parquet_source(spark, src, page.schema, 1000),
                window="1 day",
                streaming=True,
            )
            .writeStream.foreachBatch(emit)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            for stage in _stage_writes(src, frames):
                stage()
                q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination()

    def batch_ids():
        return {int(d.split("=")[1]) for d in os.listdir(out)}

    run(slices[:2])
    first = batch_ids()
    run(slices[2:] + [flush])
    second = batch_ids() - first
    assert first and second
    assert min(second) > max(first)  # resumed, not re-numbered from 0

    got = spark.read.parquet(out).filter(F.col("vc") != "__flush")
    assert _rows(got, cols) == expected

    state = os.path.join(ckpt, "state")
    n_deltas = 0
    for _, _, fs in os.walk(state):
        for f in fs:
            if re.fullmatch(r"\d+\.delta", f):
                n_deltas += 1
                assert f"{f}.crc" in fs  # Spark's checkpoint checksum
                assert f".{f}.crc" in fs  # Hadoop's sidecar
    assert n_deltas
    # both state operators (dedup and window) kept their stores
    assert len(os.listdir(state)) == 2


def test_dedup_within_watermark_ttl_semantics(spark, tmp_path):
    """A1+W4: dropDuplicatesWithinWatermark nets out duplicates arriving
    within the watermark delay (the reference's 30 s TTL state) but NOT a
    re-emission after state expiry — bounded state, TTL semantics."""
    from gmall_flink_realtime4_spark.operators.dedup import dedup_within_watermark

    schema = "id long, ts timestamp, amount long"

    def frame(rows):
        return spark.createDataFrame(
            rows, "id long, ts string, amount long"
        ).select("id", F.col("ts").cast("timestamp").alias("ts"), "amount")

    src = empty_stream_dir(str(tmp_path))
    s = stream_parquet_source(spark, src, schema, max_files_per_trigger=1000)
    dd = dedup_within_watermark(s.withWatermark("ts", "30 seconds"), ["id"])
    stages = _stage_writes(
        src,
        [
            frame([(1, "2024-01-01 00:00:00", 10), (1, "2024-01-01 00:00:05", 10)]),
            frame([(2, "2024-01-01 00:01:00", 20)]),  # advances watermark
            frame([(1, "2024-01-01 00:05:00", 10)]),  # id=1 state expired
            frame([(9, "2024-01-01 01:00:00", 0)]),  # flush
        ],
    )
    got = run_to_memory(dd, output_mode="append", stages=stages)
    by_id = {}
    for r in got.collect():
        by_id[r["id"]] = by_id.get(r["id"], 0) + 1
    # in-window duplicate removed; the post-expiry re-emission survives
    assert by_id[1] == 2 and by_id[2] == 1


def test_upsert_parquet_across_batches(spark, tmp_path):
    """K5 across micro-batches: a later batch must upsert over keys merged
    in an earlier batch (read-merge-overwrite cycle), and a late delete
    must remove a previously-materialized key."""
    target = str(tmp_path / "dim_multi")
    schema = "row_key string, seq long, type string, val string"
    src = empty_stream_dir(str(tmp_path))
    s = stream_parquet_source(spark, src, schema, max_files_per_trigger=1000)

    def batch(rows):
        return spark.createDataFrame(rows, schema)

    stages = _stage_writes(
        src,
        [
            batch([("k1", 1, "upsert", "v1"), ("k2", 1, "upsert", "x1")]),
            batch([("k1", 2, "upsert", "v2"), ("k3", 1, "upsert", "z1")]),
            batch([("k2", 2, "delete", "")]),
        ],
    )
    qname = f"fb_{tmp_path.name}"
    q = (
        s.writeStream.foreachBatch(
            lambda bdf, _bid: upsert_parquet(
                bdf, target, ["row_key"], "seq", delete_col="type"
            )
        )
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        for st in stages:
            st()
            q.processAllAvailable()
    finally:
        q.stop(); q.awaitTermination()
    got = _rows(spark.read.parquet(target), ["row_key", "seq", "val"])
    assert got == [("k1", 2, "v2"), ("k3", 1, "z1")]


def test_llm_exact_dedup_streaming(spark, tmp_path):
    """LLM exact dedup on a document STREAM: md5-fingerprint
    dropDuplicates under watermark — re-ingested duplicate content is
    emitted once (the streaming ingestion twin of llm_dedup_exact)."""
    schema = "doc_id long, text string, ts timestamp"

    def frame(rows):
        return spark.createDataFrame(
            rows, "doc_id long, text string, ts string"
        ).select("doc_id", "text", F.col("ts").cast("timestamp").alias("ts"))

    src = empty_stream_dir(str(tmp_path))
    s = stream_parquet_source(spark, src, schema, max_files_per_trigger=1000)
    dedup = (
        s.withWatermark("ts", "1 hour")
        .withColumn("content_hash", F.md5(F.lower("text")))
        .dropDuplicates(["content_hash"])
    )
    stages = _stage_writes(
        src,
        [
            frame([(1, "Alpha Beta", "2024-01-01 00:00:01"),
                   (2, "alpha beta", "2024-01-01 00:00:02"),  # dup (case)
                   (3, "gamma", "2024-01-01 00:00:03")]),
            frame([(4, "ALPHA BETA", "2024-01-01 00:10:00"),  # dup again
                   (5, "delta", "2024-01-01 00:10:01")]),
        ],
    )
    got = run_to_memory(dedup, output_mode="append", stages=stages)
    kept = sorted(r["doc_id"] for r in got.collect())
    assert kept == [1, 3, 5]


def test_routed_batch_replay_idempotent(spark, tmp_path):
    """K2 exactly-once: re-delivering the same foreachBatch batch_id (the
    post-crash replay case) must overwrite its own partitions, not append
    duplicates; distinct batch_ids accumulate."""
    from gmall_flink_realtime4_spark.sinks.factories import write_routed_batch

    out = str(tmp_path / "routed")
    b0 = spark.createDataFrame(
        [("t_a", "r1"), ("t_b", "r2")], "topic string, value string"
    )
    write_routed_batch(b0, out, batch_id=0)
    write_routed_batch(b0, out, batch_id=0)  # replay of batch 0
    b1 = spark.createDataFrame([("t_a", "r3")], "topic string, value string")
    write_routed_batch(b1, out, batch_id=1)
    got = sorted(
        (r["topic"], r["value"]) for r in spark.read.parquet(out).collect()
    )
    assert got == [("t_a", "r1"), ("t_a", "r3"), ("t_b", "r2")]


def test_incremental_corpus_dedup_foreach_batch(spark, tmp_path):
    """Streaming x LLM-pipeline twin: the nightly corpus build run
    INCREMENTALLY — documents arrive in micro-batches, each batch applies
    the quality gates + fingerprinting and MERGEs into the keeper table
    (key = fp, keeper = min doc_id, enforced as order_col = -doc_id).
    After all batches the table must equal the one-shot batch dedup —
    regardless of arrival order, because min is arrival-insensitive."""
    docs = T.load(spark, SF, "documents")

    def prep(df):
        return df.select(
            "doc_id",
            "source",
            F.size(F.split("text", " ")).alias("n_tokens"),
            F.length("text").alias("n_chars"),
            F.md5(
                F.trim(F.regexp_replace(F.lower("text"), "\\s+", " "))
            ).alias("fp"),
            F.expr(
                "(1000 * size(filter(split(text, ' '),"
                " x -> x IN ('the','a','of','to','and'))))"
                " div greatest(size(split(text, ' ')), 1)"
            ).alias("stop_pm"),
        ).filter(
            (F.col("n_tokens") >= 5)
            & (F.col("n_chars") >= 30)
            & (F.col("stop_pm") <= 500)
        ).withColumn("ord", -F.col("doc_id"))

    expected = (
        prep(docs).groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    )

    target = str(tmp_path / "corpus_keepers")
    _, src = stream_from_dataframe(docs, n_files=3, base_dir=str(tmp_path))
    s = stream_parquet_source(spark, src, docs.schema)  # 3 micro-batches
    run_foreach_batch(
        s,
        lambda bdf, _bid: upsert_parquet(prep(bdf), target, ["fp"], "ord"),
        output_mode="append",
    )
    got = _rows(spark.read.parquet(target), ["fp", "doc_id"])
    assert got == _rows(expected, ["fp", "doc_id"]) and got


def test_incremental_checksum_partials_merge(spark, tmp_path):
    """Streaming x DQ twin: the per-source content checksum run
    INCREMENTALLY — documents arrive in micro-batches, each batch appends
    its mergeable partials (count / chars / DECIMAL digest-sum), and the
    fold of all partials must equal the one-shot batch fingerprint. This
    is the property that makes the migration checksum computable as a
    continuously-maintained aggregate (commutative + associative digests:
    arrival order and batch boundaries cannot matter)."""
    from gmall_flink_realtime4_spark.plans.dq_queries import (
        checksum_finalize,
        checksum_partials,
    )

    docs = T.load(spark, SF, "documents")
    expected = _rows(
        checksum_finalize(checksum_partials(docs)),
        ["source", "n_rows", "n_chars_total", "content_checksum"],
    )

    target = str(tmp_path / "checksum_partials")
    _, src = stream_from_dataframe(docs, n_files=3, base_dir=str(tmp_path))
    s = stream_parquet_source(spark, src, docs.schema)  # 3 micro-batches
    run_foreach_batch(
        s,
        lambda bdf, _bid: checksum_partials(bdf)
        .write.mode("append")
        .parquet(target),
        output_mode="append",
    )
    partials = spark.read.parquet(target)
    # >1 partial row per source proves the fold actually merged something
    assert partials.count() > docs.select("source").distinct().count()
    got = _rows(
        checksum_finalize(partials),
        ["source", "n_rows", "n_chars_total", "content_checksum"],
    )
    assert got == expected and got


def test_incremental_countmin_sketch_stream(spark, tmp_path):
    """Streaming twin of the count-min sketch: documents arrive in
    micro-batches, each batch appends its partial sketch (bucket counters
    over the batch's token counts), and the element-wise sum of all
    partials equals the one-shot whole-corpus sketch — bucket assignment
    depends only on the token, so counters are commutative/associative
    and batch boundaries cannot matter."""
    from gmall_flink_realtime4_spark.plans.olap_queries import countmin_sketch

    docs = T.load(spark, SF, "documents")

    def tc(df):
        return (
            df.select(F.explode(F.split("text", " ")).alias("token"))
            .groupBy("token")
            .agg(F.count(F.lit(1)).cast("bigint").alias("exact_count"))
        )

    expected = _rows(countmin_sketch(tc(docs)), ["rw", "bucket", "bucket_count"])

    target = str(tmp_path / "cm_partials")
    _, src = stream_from_dataframe(docs, n_files=3, base_dir=str(tmp_path))
    s = stream_parquet_source(spark, src, docs.schema)
    run_foreach_batch(
        s,
        lambda bdf, _bid: countmin_sketch(tc(bdf))
        .write.mode("append")
        .parquet(target),
        output_mode="append",
    )
    partials = spark.read.parquet(target)
    merged = partials.groupBy("rw", "bucket").agg(
        F.sum("bucket_count").cast("bigint").alias("bucket_count")
    )
    got = _rows(merged, ["rw", "bucket", "bucket_count"])
    assert got == expected and got


def test_incremental_surprisal_model_accumulate_then_score(spark, tmp_path):
    """Streaming twin of the unigram-LM surprisal: the MODEL sufficient
    statistics — (doc, term, tf) partials — accumulate per micro-batch
    (sum-mergeable), and scoring the accumulated model reproduces the
    one-shot batch query exactly. This is the two-phase pattern a periodic
    corpus-quality re-score ships: ingest updates the model incrementally,
    the scoring pass runs on the frozen model."""
    from gmall_flink_realtime4_spark.plans.catalog import queries

    docs = T.load(spark, SF, "documents")
    expected = _rows(
        queries()["llm_text_unigram_surprisal"](spark, SF),
        ["doc_id", "n_tokens", "sum_surprisal_bits", "mean_surprisal_millibits"],
    )

    target = str(tmp_path / "tf_partials")
    _, src = stream_from_dataframe(docs, n_files=3, base_dir=str(tmp_path))
    s = stream_parquet_source(spark, src, docs.schema)

    def tf_partials(bdf):
        return (
            bdf.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
            .groupBy("doc_id", "term")
            .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
        )

    run_foreach_batch(
        s,
        lambda bdf, _bid: tf_partials(bdf).write.mode("append").parquet(target),
        output_mode="append",
    )
    # fold partials (a doc straddling batches merges by summing tf), then
    # score against the accumulated model — same expressions as the query
    tf = (
        spark.read.parquet(target)
        .groupBy("doc_id", "term")
        .agg(F.sum("tf").cast("bigint").alias("tf"))
    )
    vocab = tf.groupBy("term").agg(F.sum("tf").cast("bigint").alias("tc"))
    tot = vocab.agg(F.sum("tc").cast("bigint").alias("total_tokens"))
    scored = (
        tf.join(F.broadcast(vocab), "term")
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "bits", F.expr("CAST(length(bin(total_tokens div tc)) - 1 AS BIGINT)")
        )
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("bigint").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("bits")).cast("bigint").alias(
                "sum_surprisal_bits"
            ),
            F.expr(
                "CAST((1000 * SUM(tf * bits)) div greatest(SUM(tf), 1) AS BIGINT)"
            ).alias("mean_surprisal_millibits"),
        )
    )
    got = _rows(
        scored,
        ["doc_id", "n_tokens", "sum_surprisal_bits", "mean_surprisal_millibits"],
    )
    assert got == expected and got


def test_incremental_path_transitions_state_table(spark, tmp_path):
    """Streaming twin of dws_user_path_transitions: events arrive in
    event-time-ordered micro-batches; a per-user LAST-EVENT state table
    (upsert_parquet, keeper = max (ts, event_id)) seeds each batch's lag()
    so transitions crossing batch boundaries are still counted. After all
    batches, accumulated transitions == the one-shot batch matrix. This is
    W4-style keyed state expressed as the foreachBatch/MERGE pattern the
    repo uses for all retract-free state."""
    from pyspark.sql import Window

    e = _events(spark)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    expected = _rows(
        e.withColumn("prev_et", F.lag("event_type").over(w))
        .groupBy(
            F.coalesce("prev_et", F.lit("_start")).alias("prev_event_type"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n")),
        ["prev_event_type", "event_type", "n"],
    )

    state = str(tmp_path / "user_last_event")
    trans = str(tmp_path / "transitions")

    def batch_fn(bdf, _bid):
        sp = bdf.sparkSession
        ev = bdf.withColumn("is_state", F.lit(0))
        if os.path.exists(state):
            prev = (
                sp.read.parquet(state).drop("ord").withColumn("is_state", F.lit(1))
            )
            un = ev.unionByName(prev)
        else:
            un = ev
        wb = Window.partitionBy("user_id").orderBy("ts", "event_id")
        tr = (
            un.withColumn("prev_et", F.lag("event_type").over(wb))
            .filter(F.col("is_state") == 0)  # state rows seed, never emit
            .select(
                F.coalesce("prev_et", F.lit("_start")).alias("prev_event_type"),
                "event_type",
            )
        )
        tr.write.mode("append").parquet(trans)
        upsert_parquet(
            un.drop("is_state").withColumn("ord", F.struct("ts", "event_id")),
            state,
            ["user_id"],
            "ord",
        )

    src = empty_stream_dir(str(tmp_path))
    s = stream_parquet_source(spark, src, e.schema, max_files_per_trigger=1000)
    eo = e.withColumn("__ord", F.struct("ts", "event_id"))
    slices = [df.drop("__ord") for df in time_slices(eo, 3, "__ord")]
    run_foreach_batch(
        s, batch_fn, output_mode="append", stages=_stage_writes(src, slices)
    )

    got = _rows(
        spark.read.parquet(trans)
        .groupBy("prev_event_type", "event_type")
        .agg(F.count(F.lit(1)).alias("n")),
        ["prev_event_type", "event_type", "n"],
    )
    assert got == expected and got


def test_repair_is_new_streaming_multi_chunk_batch(spark, tmp_path):
    """Same chunk-order regression for the is_new repair state machine:
    with 1-row Arrow chunks and an out-of-order batch, the FIRST visit
    must still be the min-ts row and later-day rows must repair to 0."""
    from gmall_flink_realtime4_spark.operators.stateful import (
        repair_is_new_streaming,
    )

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "1")
    try:
        rows = [
            ("m1", "1", 1704276000000),  # 2024-01-03 (claims new)
            ("m1", "1", 1704103200000),  # 2024-01-01 <- true first
            ("m1", "1", 1704189600000),  # 2024-01-02 (claims new)
        ]
        e = spark.createDataFrame(rows, "mid string, is_new string, ts long")
        src = empty_stream_dir(str(tmp_path))
        s = stream_parquet_source(spark, src, e.schema, max_files_per_trigger=1000)
        streamed = run_to_memory(
            repair_is_new_streaming(s),
            output_mode="append",
            stages=_stage_writes(src, [e.coalesce(1)]),
        )
        got = {r.ts: r.is_new for r in streamed.collect()}
        # only the true first day keeps is_new=1; later days repaired to 0
        assert got == {
            1704103200000: "1",
            1704189600000: "0",
            1704276000000: "0",
        }
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)


def test_upsert_parquet_crash_recovery_and_null_delete(spark, tmp_path):
    """Durability: the swap protocol must survive a death between its two
    renames (target retired, staging not yet promoted) WITHOUT truncating
    history to the replayed batch; and rows whose delete_col is NULL
    (e.g. pre-delete_col history through allowMissingColumns) must NOT be
    treated as deletes."""
    import os

    path = str(tmp_path / "t")
    b1 = spark.createDataFrame(
        [("k1", 1, "upsert", "v1"), ("k2", 1, "upsert", "x1")],
        "k string, ver int, op string, v string",
    )
    upsert_parquet(b1, path, ["k"], "ver", delete_col="op")
    # simulate dying between the two renames: target moved aside, staging
    # (the unpromoted new version) left behind
    os.rename(path, path + ".__retired__")
    os.makedirs(path + ".__staging__", exist_ok=True)
    # replayed batch arrives at the next call — recovery must restore the
    # retired history BEFORE merging
    b2 = spark.createDataFrame(
        [("k2", 2, "upsert", "x2")], "k string, ver int, op string, v string"
    )
    upsert_parquet(b2, path, ["k"], "ver", delete_col="op")
    got = {r.k: (r.ver, r.v) for r in spark.read.parquet(path).collect()}
    assert got == {"k1": (1, "v1"), "k2": (2, "x2")}  # k1 NOT truncated
    assert not os.path.exists(path + ".__retired__")
    assert not os.path.exists(path + ".__staging__")

    # NULL op (schema evolution: delete_col absent in old history)
    b3 = spark.createDataFrame(
        [("k3", 1, None, "z1")], "k string, ver int, op string, v string"
    )
    upsert_parquet(b3, path, ["k"], "ver", delete_col="op")
    got = {r.k for r in spark.read.parquet(path).collect()}
    assert "k3" in got  # NULL op must not delete

    # real delete still deletes
    b4 = spark.createDataFrame(
        [("k1", 9, "delete", None)], "k string, ver int, op string, v string"
    )
    upsert_parquet(b4, path, ["k"], "ver", delete_col="op")
    got = {r.k for r in spark.read.parquet(path).collect()}
    assert got == {"k2", "k3"}


def test_upsert_parquet_tie_break_deterministic(spark, tmp_path):
    """At-least-once replay can re-deliver the same (key, order_col) with a
    revised payload — the keeper must be the deterministic max of the full
    remaining tuple, not whichever row a partitioning happened to rank."""
    path = str(tmp_path / "t")
    rows = [("k1", 1, f"v{i}") for i in range(8)]
    for rep in range(3):  # shuffled replays must all converge
        b = spark.createDataFrame(
            rows[rep:] + rows[:rep], "k string, ver int, v string"
        ).repartition(8)
        upsert_parquet(b, path, ["k"], "ver")
        got = [(r.ver, r.v) for r in spark.read.parquet(path).collect()]
        assert got == [(1, "v7")]  # max payload tuple wins, every time


def test_incremental_anomaly_partials_merge(spark, tmp_path):
    """Streaming x DWS twin: the daily anomaly z-scores computed
    INCREMENTALLY — events arrive in micro-batches, each batch appends its
    mergeable (event_type, day, ct) partials, and finalizing the folded
    partials must equal the one-shot batch query exactly (counts are
    commutative + associative; the z expression runs only at finalize)."""
    from gmall_flink_realtime4_spark.plans.olap_queries import (
        anomaly_daily_partials,
        anomaly_finalize,
    )

    events = T.load(spark, SF, "events")
    cols = ["event_type", "day", "ct", "z_milli", "is_anomaly"]
    expected = _rows(anomaly_finalize(anomaly_daily_partials(events)), cols)

    target = str(tmp_path / "anomaly_partials")
    _, src = stream_from_dataframe(events, n_files=3, base_dir=str(tmp_path))
    s = stream_parquet_source(spark, src, events.schema)  # 3 micro-batches
    run_foreach_batch(
        s,
        lambda bdf, _bid: anomaly_daily_partials(bdf)
        .write.mode("append")
        .parquet(target),
        output_mode="append",
    )
    partials = spark.read.parquet(target)
    # >1 partial row per (type, day) proves the fold actually merged
    n_cells = partials.select("event_type", "day").distinct().count()
    assert partials.count() > n_cells
    assert _rows(anomaly_finalize(partials), cols) == expected and expected


def test_incremental_minhash_pairs_matches_batch(spark, tmp_path):
    """Streaming x near-dup twin: documents arriving in micro-batches
    through the incremental MinHash-LSH index must emit, across all
    batches, EXACTLY the batch query's verified pair set — every pair
    once (in the batch where its later doc arrives), with identical
    shared_bands / inter_ct / jaccard_permille."""
    from gmall_flink_realtime4_spark.plans.catalog import queries
    from gmall_flink_realtime4_spark.streaming.incremental import (
        incremental_minhash_pairs,
    )

    cols = ["doc_a", "doc_b", "shared_bands", "inter_ct", "jaccard_permille"]
    expected = _rows(queries()["llm_dedup_minhash_lsh"](spark, SF), cols)

    docs = T.load(spark, SF, "documents")
    state = str(tmp_path / "mh_state")
    sink = str(tmp_path / "mh_pairs")
    _, src = stream_from_dataframe(docs, n_files=3, base_dir=str(tmp_path))
    s = stream_parquet_source(spark, src, docs.schema)
    run_foreach_batch(
        s,
        lambda bdf, bid: incremental_minhash_pairs(spark, bdf, state, bid)
        .write.mode("append")
        .parquet(sink),
        output_mode="append",
    )
    got = _rows(spark.read.parquet(sink), cols)
    # equality with the (unique-pair) batch set also proves each pair was
    # emitted exactly once across the micro-batches
    assert got == expected and expected


def test_incremental_minhash_replay_is_idempotent(spark, tmp_path):
    """foreachBatch replays a batch after a downstream failure; the state
    writes must be idempotent (same batch_id -> same bytes, never a
    double-append that would corrupt every future pair's jaccard
    denominator) and the replay must re-emit the same pairs."""
    from gmall_flink_realtime4_spark.plans.catalog import queries
    from gmall_flink_realtime4_spark.streaming.incremental import (
        incremental_minhash_pairs,
    )

    cols = ["doc_a", "doc_b", "shared_bands", "inter_ct", "jaccard_permille"]
    docs = T.load(spark, SF, "documents")
    half = docs.filter(F.col("doc_id") % 2 == 0)
    rest = docs.filter(F.col("doc_id") % 2 == 1)
    state = str(tmp_path / "mh_state")

    first = _rows(incremental_minhash_pairs(spark, half, state, 0), cols)
    # REPLAY batch 0: same pairs out, state unchanged (overwrite, not append)
    replay = _rows(incremental_minhash_pairs(spark, half, state, 0), cols)
    assert replay == first
    n_docs_state = spark.read.parquet(f"{state}/docs").count()
    assert n_docs_state == half.count()

    second = _rows(incremental_minhash_pairs(spark, rest, state, 1), cols)
    expected = _rows(queries()["llm_dedup_minhash_lsh"](spark, SF), cols)
    assert sorted(first + second) == expected and expected


def test_incremental_ahash_pairs_matches_batch(spark, tmp_path):
    """Streaming x image-near-dup twin: images arriving in micro-batches
    through the incremental aHash band index must emit, across all
    batches, EXACTLY the batch query's pair set — every pair once (in the
    batch where its later image arrives) — with only fingerprints in
    state (no payload retention)."""
    from gmall_flink_realtime4_spark.plans.catalog import queries
    from gmall_flink_realtime4_spark.plans.llm_multimodal import (
        _fixed_ppm_frame,
    )
    from gmall_flink_realtime4_spark.streaming.incremental import (
        incremental_ahash_pairs,
    )

    cols = ["doc_a", "doc_b", "hamming", "is_exact"]
    expected = _rows(
        queries()["llm_multimodal_image_neardup_pairs"](spark, SF), cols
    )
    imgs = _fixed_ppm_frame(spark, SF)
    state = str(tmp_path / "ah_state")
    out_rows = []
    for bid in range(3):
        batch = imgs.filter(F.expr(f"(doc_id div 3) % 3 = {bid}"))
        out_rows += _rows(
            incremental_ahash_pairs(spark, batch, state, bid), cols
        )
    assert sorted(out_rows) == expected and expected
    # state really is fingerprints only: two columns, one row per image
    st = spark.read.parquet(f"{state}/fps")
    assert set(st.columns) == {"doc_id", "ahash", "batch_id"}
    assert st.count() == imgs.count()


def test_incremental_ahash_replay_is_idempotent(spark, tmp_path):
    """Replaying an aHash micro-batch must rewrite identical fingerprint
    state (overwrite, never append) and re-emit the same pairs."""
    from gmall_flink_realtime4_spark.plans.llm_multimodal import (
        _fixed_ppm_frame,
    )
    from gmall_flink_realtime4_spark.streaming.incremental import (
        incremental_ahash_pairs,
    )

    cols = ["doc_a", "doc_b", "hamming", "is_exact"]
    imgs = _fixed_ppm_frame(spark, SF)
    half = imgs.filter(F.col("doc_id") % 2 == 0)
    state = str(tmp_path / "ah_state")
    first = _rows(incremental_ahash_pairs(spark, half, state, 0), cols)
    replay = _rows(incremental_ahash_pairs(spark, half, state, 0), cols)
    assert replay == first
    assert spark.read.parquet(f"{state}/fps").count() == half.count()


def test_incremental_winnow_pairs_stream_e2e(spark, tmp_path):
    """Streaming x winnowing twin through a REAL readStream ->
    foreachBatch run: documents arriving as parquet micro-batches must
    emit, across all batches, exactly the capless batch pair set (which
    equals the registered capped query on this corpus — max fingerprint
    df 9 << 64), every pair once with identical counts/overlap."""
    from gmall_flink_realtime4_spark.plans.catalog import queries
    from gmall_flink_realtime4_spark.streaming.incremental import (
        incremental_winnow_pairs,
    )

    cols = ["doc_a", "doc_b", "shared_fp", "n_fp_a", "n_fp_b", "overlap_pm"]
    expected = _rows(queries()["llm_winnow_fingerprints"](spark, SF), cols)

    docs = T.load(spark, SF, "documents")
    state = str(tmp_path / "wn_state")
    sink = str(tmp_path / "wn_pairs")
    _, src = stream_from_dataframe(docs, n_files=3, base_dir=str(tmp_path))
    s = stream_parquet_source(spark, src, docs.schema)
    run_foreach_batch(
        s,
        lambda bdf, bid: incremental_winnow_pairs(spark, bdf, state, bid)
        .write.mode("append")
        .parquet(sink),
        output_mode="append",
    )
    got = _rows(spark.read.parquet(sink), cols)
    assert got == expected and expected


def test_incremental_vocab_drift_stream_e2e(spark, tmp_path):
    """Real-stream twin of dq_vocab_drift: documents arrive in
    micro-batches through readStream/foreachBatch, each batch appends its
    (source, term) count partials, and finalizing the accumulated state
    reproduces the one-shot batch report exactly — including the top-V
    vocabulary, which only exists corpus-wide and is therefore rebuilt
    from MERGED counts at finalize time."""
    from gmall_flink_realtime4_spark.plans.catalog import queries
    from gmall_flink_realtime4_spark.plans.dq_queries import (
        vocab_drift_finalize,
        vocab_drift_term_partials,
    )

    docs = T.load(spark, SF, "documents")
    cols = [
        "source", "n_tokens", "tv_ppm", "chi2_ppm",
        "top_shifted_term", "top_shift_ppm",
    ]
    expected = _rows(queries()["dq_vocab_drift"](spark, SF), cols)

    target = str(tmp_path / "vd_partials")
    _, src = stream_from_dataframe(docs, n_files=3, base_dir=str(tmp_path))
    s = stream_parquet_source(spark, src, docs.schema)
    run_foreach_batch(
        s,
        lambda bdf, _bid: vocab_drift_term_partials(bdf)
        .write.mode("append")
        .parquet(target),
        output_mode="append",
    )
    got = _rows(vocab_drift_finalize(spark.read.parquet(target)), cols)
    assert got == expected and got


def test_incremental_reservoir_stream_e2e(spark, tmp_path):
    """Real-stream twin of llm_sample_reservoir: per-micro-batch top-k
    survivor states append, and ranking the bounded union reproduces the
    one-shot sample exactly (the distributed reservoir merge) — the
    determinism that a true random reservoir cannot give a replayed
    stream."""
    from gmall_flink_realtime4_spark.plans.catalog import queries
    from gmall_flink_realtime4_spark.plans.corpus_queries import (
        reservoir_finalize,
        reservoir_partials,
    )

    docs = T.load(spark, SF, "documents")
    cols = ["rnk", "doc_id", "u", "source"]
    expected = _rows(queries()["llm_sample_reservoir"](spark, SF), cols)

    target = str(tmp_path / "res_state")
    _, src = stream_from_dataframe(docs, n_files=3, base_dir=str(tmp_path))
    s = stream_parquet_source(spark, src, docs.schema)
    run_foreach_batch(
        s,
        lambda bdf, _bid: reservoir_partials(bdf)
        .write.mode("append")
        .parquet(target),
        output_mode="append",
    )
    got = _rows(reservoir_finalize(spark.read.parquet(target)), cols)
    assert got == expected and len(got) == 200
