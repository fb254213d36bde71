"""Sink factories (SURVEY.md §2.2): routed Kafka frames and idempotent
parquet upserts.

Exactly-once posture: every streaming sink pairs a checkpointLocation with
an idempotent target (parquet/Delta overwrite-merge, or Kafka with
downstream dedup by key) — the effective equivalent of the reference's
transactional Kafka producer (FlinkSinkUtil.java:25-36; its checkpointing
is commented out, BaseAPP.java:33-50, so this engine is strictly stronger).

Caller-supplied checkpoint paths (Kafka or parquet sinks on HDFS included)
are written by the same Spark-supported checkpoint manager the session
sets (``session.RUNTIME_CONFS``): a temp file, then a ``FileSystem``
rename. Under ``overwriteIfPossible`` a rename onto an existing HDFS file
does not replace it: the old file is kept.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def routed_kafka_frame(df: DataFrame, topic_col: str = "sink_table") -> DataFrame:
    """K2 — dynamic-topic routing: per-row ``topic`` column + JSON value.

    Reference: FlinkSinkUtil.java:38-52 routes each record to
    record["sink_table"], removing that field — here the projection does
    both in one select (the kafka sink honors a ``topic`` column when no
    fixed topic option is set). Returned as a DataFrame so tests can assert
    routing without a broker.
    """
    rest = [c for c in df.columns if c != topic_col]
    return df.select(
        F.col(topic_col).alias("topic"),
        F.to_json(F.struct(*rest)).alias("value"),
    )


def upsert_parquet(
    batch_df: DataFrame,
    path: str,
    key_cols: list[str],
    order_col: str,
    delete_col: str | None = None,
    delete_value: str = "delete",
) -> None:
    """K3/K5 — keyed upsert MERGE into a parquet table (foreachBatch body).

    Reference: upsert-kafka (SQLUtil.java:49-57) and the HBase dim sink's
    put/delete honoring CDC type (DimHBaseSinkFunc.java:36-73). Semantics:
    union existing rows + batch, keep the highest ``order_col`` row per
    key, drop rows whose latest change is a delete. Parquet overwrite is
    the no-Delta MERGE; swap for `DeltaTable.merge` on clusters with Delta
    for true ACID.

    Durability: the first-write case is detected by an explicit FS
    existence check, so a *transient* read failure raises instead of
    silently truncating the table to the current batch. The merged result
    is written to a staging directory and swapped in with a two-rename
    protocol (target -> retired, staging -> target, drop retired): every
    crash window is recoverable at the NEXT call — an orphaned staging
    dir is an incomplete write (discarded and recomputed from the
    replayed batch), and a missing target with a retired dir present
    means the swap died between renames (history restored before
    merging). A plain delete-then-rename would silently truncate the
    table to the current batch if the process died between the two steps.
    """
    spark = batch_df.sparkSession
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    target = jvm.org.apache.hadoop.fs.Path(path)
    fs = target.getFileSystem(hconf)
    staging = path.rstrip("/") + ".__staging__"
    retired = path.rstrip("/") + ".__retired__"
    staging_path = jvm.org.apache.hadoop.fs.Path(staging)
    retired_path = jvm.org.apache.hadoop.fs.Path(retired)
    # crash recovery BEFORE reading (see docstring)
    if fs.exists(staging_path):
        fs.delete(staging_path, True)
    if fs.exists(retired_path):
        if not fs.exists(target):
            if not fs.rename(retired_path, target):
                raise IOError(f"upsert_parquet: recover {retired} -> {path} failed")
        else:
            fs.delete(retired_path, True)  # orphan from a completed swap
    if fs.exists(target):
        existing = spark.read.parquet(path)
        merged = existing.unionByName(batch_df, allowMissingColumns=True)
    else:
        merged = batch_df
    # deterministic keeper: order_col desc, then the full remaining tuple
    # (the CLAUDE.md total-order invariant — at-least-once replay can
    # re-deliver the same (key, order_col) with a revised payload, and
    # the kept row must not depend on partitioning)
    others = [
        c
        for c, t in merged.dtypes
        # 'map<' SUBSTRING: maps nested in arrays/structs are unorderable too
        if c not in key_cols and c != order_col and "map<" not in t
    ]
    w = Window.partitionBy(*key_cols).orderBy(
        F.col(order_col).desc(),
        *[F.col(c).desc_nulls_last() for c in others],
    )
    latest = (
        merged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    if delete_col is not None:
        # NULL op-type must NOT delete: rows written before delete_col
        # existed come back NULL through allowMissingColumns
        latest = latest.filter(
            (F.col(delete_col) != delete_value) | F.col(delete_col).isNull()
        )
    latest.write.mode("overwrite").parquet(staging)
    if fs.exists(target):
        if not fs.rename(target, retired_path):
            raise IOError(f"upsert_parquet: retire {path} failed")
    if not fs.rename(staging_path, target):
        raise IOError(f"upsert_parquet: rename {staging} -> {path} failed")
    if fs.exists(retired_path):
        fs.delete(retired_path, True)


def write_routed_batch(
    batch_df: DataFrame,
    base_path: str,
    topic_col: str = "topic",
    batch_id: int | None = None,
) -> None:
    """K2 broker-less twin (foreachBatch body): land each record under its
    routed topic as a partition directory — `base/topic=<t>/...` — the
    storage analog of the per-row Kafka topic routing.

    Exactly-once: pass the foreachBatch ``batch_id``. The write becomes a
    dynamic partition overwrite of `(topic, batch_id)` partitions, so a
    replayed batch (post-crash re-delivery from the checkpoint) overwrites
    its own previous output instead of appending duplicates — the standard
    idempotent-foreachBatch contract.
    """
    if batch_id is None:
        batch_df.write.mode("append").partitionBy(topic_col).parquet(base_path)
        return
    (
        batch_df.withColumn("__batch_id", F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(topic_col, "__batch_id")
        .parquet(base_path)
    )
