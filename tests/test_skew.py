"""Skew replication used by the SCALE.md evidence
(tools/scale_sanity.replicate_skew)."""

from __future__ import annotations

import os
import sys

import pyspark.sql.functions as F


def test_replicate_skew_plants_documented_hot_keys(spark, tmp_path, monkeypatch):
    """The skew evidence in SCALE.md is only as good as the replication it
    ran on — pin `replicate_skew`'s contract at n=2 over sf0.001: (a) every
    even doc_id lands in ONE hot domain and nobody else does, (b) every
    20th doc gains the fixed UNSALTED sentence so exactly those docs share
    one shingle's posting list (it must grow ~25*n — the planted x100-hot
    pair-join key), (c) one user absorbs every 15th event, (d) dims and
    row counts are untouched replication."""
    sys.path.insert(0, os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"
    ))
    import scale_sanity

    monkeypatch.setattr(scale_sanity, "SRC", "/root/testdata/sf0.001")
    out = str(tmp_path / "x2skew")
    scale_sanity.replicate_skew(spark, 2, out)

    docs = spark.read.parquet(f"{out}/documents.parquet")
    assert docs.count() == 1000  # 500 base docs x 2 replicas
    # (a) hot domain == exactly the even doc_ids (10M replica shift is
    # even, so base parity survives replication)
    hot = docs.filter(F.col("source") == "srchot")
    assert hot.count() == 500
    assert hot.filter(F.col("doc_id") % 2 != 0).count() == 0
    assert docs.filter(
        (F.col("doc_id") % 2 == 0) & (F.col("source") != "srchot")
    ).count() == 0
    # non-hot sources keep the per-replica salt (growth, not duplication)
    assert (
        docs.filter(F.col("source") != "srchot")
        .filter(~F.col("source").rlike("_r[01]$"))
        .count()
        == 0
    )
    # (b) the hot shingle's posting list: exactly the doc_id%20==0 docs
    # carry the unsalted sentence (25 per replica x 2 — and because the
    # sentence is appended AFTER token salting, its interior 3-shingle is
    # IDENTICAL across replicas: one join key with a 50-doc posting list)
    marked = docs.filter(F.col("text").contains("hotkey alpha beta gamma"))
    assert marked.count() == 50
    assert marked.filter(F.col("doc_id") % 20 != 0).count() == 0
    assert docs.filter(
        (F.col("doc_id") % 20 == 0)
        & ~F.col("text").endswith(" hotkey alpha beta gamma hotkey")
    ).count() == 0
    # (c) one hot user holds >= the reassigned 1/15 share of all events
    ev = spark.read.parquet(f"{out}/events.parquet")
    assert ev.count() == 2000
    hot_user_events = (
        ev.groupBy("user_id").count().agg(F.max("count")).collect()[0][0]
    )
    assert hot_user_events >= 2000 // 15
    # (d) dims copied byte-identical
    assert spark.read.parquet(f"{out}/region.parquet").count() == (
        spark.read.parquet("/root/testdata/sf0.001/region.parquet").count()
    )
