"""Round-12 streaming-twin tests (r11 verdict items 4+5): the near-dup
CLUSTERING finalize over accumulated LSH pair state — the one
dedup-family member that had no incremental twin — driven through the
12-batch mid-stream-restart protocol, plus the first THROUGHPUT-scale
soak of a foreachBatch twin (x10 data, rows/s + state growth recorded
in SCALE.md rather than asserted here)."""

from __future__ import annotations

from pyspark.sql import functions as F

from gmall_flink_realtime4_spark import tables as T
from gmall_flink_realtime4_spark.plans.catalog import queries

from tests.test_round11_ext import SF, _rows, _soak_with_restart


def test_incremental_clusters_soak_restart(spark, tmp_path):
    """12-batch soak of the incremental MinHash-LSH index with a
    mid-stream restart, finalized to near-dup CLUSTERS: connected
    components over the union of all emitted pairs must equal the
    one-shot `llm_dedup_clusters` EXACTLY — including components whose
    edges arrived in different micro-batches and components straddling
    the restart seam (doc_id % 2 splits co-paired docs across the two
    stream halves by construction, so cross-seam edges exist). Also
    re-finalizes over the emissions WITH a simulated replay duplicate
    (one batch's rows unioned twice) to pin CC's replay idempotence."""
    from gmall_flink_realtime4_spark.streaming.incremental import (
        clusters_finalize,
        incremental_minhash_pairs,
    )

    expected = _rows(
        queries()["llm_dedup_clusters"](spark, SF), ["doc_id", "cluster_id"]
    )

    docs = T.load(spark, SF, "documents")
    state = str(tmp_path / "mh_state")
    sink = str(tmp_path / "mh_pairs")

    def accumulate(bdf, bid):
        incremental_minhash_pairs(spark, bdf, state, bid).write.mode(
            "overwrite"
        ).parquet(f"{sink}/batch_id={bid}")

    _soak_with_restart(spark, tmp_path, docs, accumulate)

    pairs_all = spark.read.parquet(sink).drop("batch_id")
    got = _rows(clusters_finalize(pairs_all), ["doc_id", "cluster_id"])
    assert got == expected and expected

    # replay tolerance: a crash-replayed batch re-emits its pairs; CC
    # over edges-with-duplicates must be unchanged (set semantics)
    some_batch = spark.read.parquet(sink).select(
        F.min("batch_id").alias("b")
    ).collect()[0]["b"]
    dup = spark.read.parquet(sink).filter(F.col("batch_id") == some_batch)
    replayed = pairs_all.unionByName(dup.drop("batch_id"))
    got_replay = _rows(
        clusters_finalize(replayed), ["doc_id", "cluster_id"]
    )
    assert got_replay == expected


def test_two_phase_topk_property_random_frames(spark):
    """Hypothesis property over the r12 two-phase exact top-k helper
    `ranked_topk_per_query`: on RANDOM scored frames — duplicate scores
    (ties must break on the candidate id), candidates colliding into the
    same phase-1 slice, fewer candidates than k, empty queries — both
    orders it serves (ascending ADC distance per qid, descending cosine
    score per query with rank emitted) must equal the brute-force python
    sort.
    This pins the claim the plan rewrite leans on: phase-1 slicing can
    never evict a global top-k row, for ANY slice assignment."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from gmall_flink_realtime4_spark.plans.retrieval_queries import ADC_TOPK
    from gmall_flink_realtime4_spark.operators.vectors import (
        ranked_topk_per_query,
    )

    row = st.tuples(
        st.integers(min_value=0, max_value=2),      # qid
        st.integers(min_value=0, max_value=99),     # candidate id
        st.integers(min_value=0, max_value=5),      # score (tiny -> ties)
    )

    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(st.lists(row, min_size=0, max_size=60))
    def check(rows):
        # one row per (qid, candidate): the engines' scored frames are
        # post-aggregation, so the pair key is unique by construction
        seen, uniq = set(), []
        for q, v, s in rows:
            if (q, v) not in seen:
                seen.add((q, v))
                uniq.append((q, v, s))
        if not uniq:
            return
        asc = spark.createDataFrame(
            [(q, v, s) for q, v, s in uniq], "qid long, vec_id long, ad2 long"
        )
        got_asc = sorted(
            (r["qid"], r["vec_id"])
            for r in ranked_topk_per_query(
                asc, "qid", "vec_id", F.col("ad2"), ADC_TOPK
            ).collect()
        )
        exp_asc = []
        for q in {q for q, _, _ in uniq}:
            cand = sorted((s, v) for qq, v, s in uniq if qq == q)
            exp_asc += [(q, v) for _, v in cand[:ADC_TOPK]]
        assert got_asc == sorted(exp_asc)

        desc = spark.createDataFrame(
            [(q, v, s) for q, v, s in uniq],
            "query_vec_id long, neighbor_vec_id long, cos_sim_e9 long",
        )
        got_desc = sorted(
            (r["query_vec_id"], r["neighbor_vec_id"], r["rank"])
            for r in ranked_topk_per_query(
                desc,
                "query_vec_id",
                "neighbor_vec_id",
                F.col("cos_sim_e9").desc(),
                5,
            ).collect()
        )
        exp_desc = []
        for q in {q for q, _, _ in uniq}:
            cand = sorted(((-s, v) for qq, v, s in uniq if qq == q))
            exp_desc += [
                (q, v, i + 1) for i, (_, v) in enumerate(cand[:5])
            ]
        assert got_desc == sorted(exp_desc)

    check()
