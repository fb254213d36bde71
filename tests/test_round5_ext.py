"""Round-5 extension operators: unigram surprisal, BPE pair counts, blocked
entity resolution, count-min sketch.

Correctness is the oracle gate's job (all four are parity-gated); these pin
the plan properties and the algebraic invariants (sketch mergeability,
one-sided CM error, floor-log2 exactness, no cross product in the blocked
join) a refactor could silently lose.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

import pyspark.sql.functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gmall_flink_realtime4_spark.plans.catalog import queries
from gmall_flink_realtime4_spark.plans.olap_queries import (
    CM_DEPTH,
    CM_WIDTH,
    countmin_sketch,
)

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = queries()[name](spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_surprisal_floor_log2_is_exact(spark):
    """length(bin(x)) - 1 == floor(log2(x)) for the awkward cases: exact
    powers of two (where double log2 can land at 2.9999...), 1, and
    maxint-adjacent values."""
    rows = spark.sql(
        "SELECT x, CAST(length(bin(x)) - 1 AS BIGINT) AS fl2 FROM VALUES "
        "(1L),(2L),(3L),(4L),(7L),(8L),(1023L),(1024L),(1025L),"
        "(4611686018427387904L) AS t(x)"
    ).collect()
    import math

    for r in rows:
        assert r.fl2 == math.floor(math.log2(r.x)), r


def test_surprisal_vocab_join_is_broadcast(spark):
    """The vocab join-back must broadcast (vocab << corpus) and the corpus
    must be scanned once for tf; no SortMergeJoin in the plan."""
    plan = _plan(spark, "llm_text_unigram_surprisal")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_surprisal_tf_derived_once(spark):
    """The (doc,term,tf) fold feeds the model AND the scoring join; the
    checkpoint must collapse the fan-out to zero documents scans in the
    final plan (same contract as the LSH corpus-derived-once guards)."""
    for name in ("llm_text_unigram_surprisal", "llm_text_bigram_surprisal"):
        plan = _plan(spark, name)
        assert "documents.parquet" not in plan, name
        assert "ExistingRDD" in plan or "Scan ExistingRDD" in plan, name


def test_bigram_surprisal_joins_broadcast(spark):
    """Both model joins (bigram table, context table) must broadcast —
    vocab²/vocab-sized frames against the corpus-compressed dtf stream."""
    plan = _plan(spark, "llm_text_bigram_surprisal")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_bigram_surprisal_scores_word_order(spark):
    """The conditional score must react to word order: every doc scores
    >= 0 bits, and total bigram count equals sum(len(tokens) - 1)."""
    out = queries()["llm_text_bigram_surprisal"](spark, SF)
    rows = out.collect()
    assert rows
    assert all(r.sum_bigram_bits >= 0 for r in rows)
    d = spark.read.parquet(f"{SF}/documents.parquet")
    expected_pairs = (
        d.selectExpr("greatest(size(split(text, ' ')) - 1, 0) AS n")
        .agg(F.sum("n"))
        .collect()[0][0]
    )
    got_pairs = out.agg(F.sum("n_bigrams")).collect()[0][0]
    assert got_pairs == expected_pairs


def test_bpe_pairs_window_is_over_aggregated_pairs(spark):
    """The global top-K window must run over the aggregated pair table
    (charset^2-bounded), i.e. AFTER a HashAggregate on pair — never over the
    exploded corpus stream."""
    plan = _plan(spark, "llm_bpe_pair_counts")
    assert "CartesianProduct" not in plan
    win_pos = plan.find("Window")
    assert win_pos != -1
    # the tree section prints root-first, so the Window's CHILD aggregate
    # must appear after it; if the window ran over the raw exploded stream
    # there would be no HashAggregate between Window and Generate
    tail = plan[win_pos:]
    gen_pos = tail.find("Generate")
    agg_pos = tail.find("HashAggregate")
    assert agg_pos != -1 and gen_pos != -1 and agg_pos < gen_pos


def test_bpe_pairs_top_is_plausible(spark):
    """Every emitted pair is two chars, counts descend, ranks are 1..K."""
    out = queries()["llm_bpe_pair_counts"](spark, SF).collect()
    assert 0 < len(out) <= 20
    assert [r.rnk for r in out] == sorted(r.rnk for r in out)
    counts = [r.pair_count for r in sorted(out, key=lambda r: r.rnk)]
    assert counts == sorted(counts, reverse=True)
    assert all(len(r.pair) == 2 for r in out)


def test_entity_resolution_no_cartesian_and_blocked(spark):
    """The verify join must be an equi-join on the block key (hash or
    sort-merge is fine — blocks shuffle on their key), never a cartesian /
    broadcast-nested-loop over all pairs."""
    plan = _plan(spark, "f_entity_resolution_customers")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_entity_resolution_pairs_are_within_blocks(spark):
    """Every matched pair shares the full blocking key and is within the
    edit-distance threshold; pair orientation is canonical (a < b)."""
    out = queries()["f_entity_resolution_customers"](spark, SF).collect()
    assert out, "sf0.001 should produce at least one near-identical name pair"
    for r in out:
        assert r.custkey_a < r.custkey_b
        assert 0 <= r.lev_dist <= 2


def test_url_normalize_collapses_every_variant_class(spark):
    """Each canonical resource must absorb all four injected obfuscations
    (case+www, default port+fragment, scheme, param order+trailing slash):
    every group ends with n_docs == n_raw_variants == 4 (500-doc corpus ->
    125 canonical URLs), and the canonical form carries no scheme, www,
    port, fragment, or unsorted query."""
    out = queries()["llm_dedup_url_normalize"](spark, SF).collect()
    assert len(out) == 125
    for r in out:
        assert r.n_docs == 4 and r.n_raw_variants == 4
        u = r.canonical_url
        assert u.startswith("example.com/p")
        assert "://" not in u and "www." not in u and "#" not in u
        assert ":443" not in u and u.endswith("?a=1&b=2")


def test_url_normalize_single_scan_map_side(spark):
    """Normalization is one projection chain over one scan; the only
    shuffle is the canonical-key aggregate (same shape as exact dedup)."""
    plan = _plan(spark, "llm_dedup_url_normalize")
    # count source locations, not the "Scan parquet" label (formatted
    # output repeats each node once in the tree and once in the details)
    assert plan.count("InMemoryFileIndex") == 1
    assert "CartesianProduct" not in plan and "Join" not in plan


def test_countmin_estimate_is_one_sided(spark):
    """CM never underestimates: estimate >= exact for every token, and for
    tokens alone in all their buckets the estimate is exact."""
    out = queries()["llm_sketch_countmin"](spark, SF).collect()
    assert out
    for r in out:
        assert r.cm_estimate >= r.exact_count
        assert r.overestimate == r.cm_estimate - r.exact_count


def test_countmin_partials_merge(spark):
    """Sketches built over disjoint corpus halves merge by summing counters
    into exactly the whole-corpus sketch — the property that makes the CM
    sketch a streaming/partition-parallel aggregate."""
    d = spark.read.parquet(f"{SF}/documents.parquet")
    t = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))

    def tc_of(pred):
        return (
            t.filter(pred)
            .groupBy("token")
            .agg(F.count(F.lit(1)).cast("bigint").alias("exact_count"))
        )

    whole = countmin_sketch(tc_of(F.lit(True)))
    even = countmin_sketch(tc_of(F.col("doc_id") % 2 == 0))
    odd = countmin_sketch(tc_of(F.col("doc_id") % 2 == 1))
    merged = (
        even.unionByName(odd)
        .groupBy("rw", "bucket")
        .agg(F.sum("bucket_count").cast("bigint").alias("bucket_count"))
    )
    w = {(r.rw, r.bucket): r.bucket_count for r in whole.collect()}
    m = {(r.rw, r.bucket): r.bucket_count for r in merged.collect()}
    assert w == m
    assert len(w) <= CM_DEPTH * CM_WIDTH
