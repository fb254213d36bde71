"""Cross-operator consistency checks for the LLM dedup/similarity family.

The approximate operators (LSH, IVF) are graded against their exact twins
ON THE SAME DATA — subset relations and score equality that must hold by
construction, plus a recall floor that pins index quality.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gmall_flink_realtime4_spark.plans.catalog import queries

SF = "/root/testdata/sf0.001"


def test_minhash_candidates_subset_of_jaccard_pairs(spark):
    """Every MinHash-LSH candidate pair must appear in the exact inverted-
    index jaccard pairs with the IDENTICAL jaccard_permille — LSH prunes
    the pair space, it must never invent or mis-score a pair."""
    qs = queries()
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard_permille"]
        for r in qs["llm_dedup_ngram_jaccard"](spark, SF).collect()
    }
    cand = qs["llm_dedup_minhash_lsh"](spark, SF).collect()
    assert len(cand) > 0  # sf0.001 contains near-dup docs
    for r in cand:
        key = (r["doc_a"], r["doc_b"])
        assert key in exact, f"LSH invented pair {key}"
        assert r["jaccard_permille"] == exact[key], key


def test_lsh_finds_the_high_jaccard_pairs(spark):
    """Recall sanity: every pair with jaccard >= 0.8 shares a band with
    overwhelming probability (J^3 per band, 4 bands) — at fixture scale
    demand 100% recall at that threshold."""
    qs = queries()
    high = {
        (r["doc_a"], r["doc_b"])
        for r in qs["llm_dedup_ngram_jaccard"](spark, SF).collect()
        if r["jaccard_permille"] >= 800
    }
    cand = {
        (r["doc_a"], r["doc_b"])
        for r in qs["llm_dedup_minhash_lsh"](spark, SF).collect()
    }
    assert high, "fixture should contain at least one >=0.8 jaccard pair"
    missed = high - cand
    assert not missed, f"LSH missed high-similarity pairs: {missed}"


def test_ivf_recall_floor(spark):
    """IVF with nprobe=2 of 16 cells must keep mean recall@5 above a floor
    (brute-force is the judge); protects against quantizer regressions."""
    # llm_ann_ivf_recall was folded out of the registry in round 7 (its
    # metric lives on as llm_ann_ivf_trained_recall's recall_seed_pm); the
    # floor test keeps driving the un-registered function directly.
    from gmall_flink_realtime4_spark.plans.retrieval_queries import (
        llm_ann_ivf_recall,
    )

    rows = llm_ann_ivf_recall(spark, SF).collect()
    assert rows
    mean_recall = sum(r["recall_permille"] for r in rows) / len(rows)
    assert mean_recall >= 300, f"mean recall@5 dropped to {mean_recall}"


def test_simhash_identical_docs_same_fingerprint(spark):
    """Exact duplicates (same token multiset) must collide in SimHash; the
    fingerprint of a doc must also be stable across runs."""
    qs = queries()
    fp1 = {r["doc_id"]: r["simhash64"] for r in qs["llm_dedup_simhash"](spark, SF).collect()}
    fp2 = {r["doc_id"]: r["simhash64"] for r in qs["llm_dedup_simhash"](spark, SF).collect()}
    assert fp1 == fp2
    assert all(len(v) == 16 for v in fp1.values())


def test_hexval_sql_full_hex_range_no_overflow(spark):
    """Regression: hexval_sql coefficients must be BIGINT — bare 16**7
    parses as INT32 and (digit>=8) * 268435456 overflows under ANSI mode.
    Exercise every digit value at every position, and pin the exact value."""
    import pyspark.sql.functions as F

    from gmall_flink_realtime4_spark.operators.hashing import (
        KMV_HEX_DIGITS,
        hexval_sql,
    )

    rows = [(c * KMV_HEX_DIGITS,) for c in "0123456789abcdef"]
    df = spark.createDataFrame(rows, "hx string")
    got = {
        r["hx"][0]: r["u"]
        for r in df.withColumn("u", F.expr(hexval_sql("hx", "instr"))).collect()
    }
    for c in "0123456789abcdef":
        assert got[c] == int(c * KMV_HEX_DIGITS, 16)


def test_stratified_sample_partitioning_invariant(spark):
    """The sampling decision is a pure function of doc_id — identical kept
    counts regardless of physical partitioning (the reproducibility claim
    a training recipe depends on)."""
    sf = "/root/testdata/sf0.001"
    q = queries()["llm_sample_stratified"]
    base = {
        (r["source"], r["lang"]): (r["n_kept"], r["kept_tokens"])
        for r in q(spark, sf).collect()
    }
    again = {
        (r["source"], r["lang"]): (r["n_kept"], r["kept_tokens"])
        for r in q(spark, sf).repartition(7).collect()
    }
    assert base == again and base


def test_kmv_union_equals_single_global_sketch(spark):
    """Mergeability invariant: merging the per-event_type k-min sketches
    must give the IDENTICAL estimate as one sketch built over the global
    key stream — the property that lets 100 TB rollups reuse leaf sketches
    instead of re-scanning raw keys."""
    import pyspark.sql.functions as FF

    from gmall_flink_realtime4_spark import tables as T
    from gmall_flink_realtime4_spark.operators.hashing import (
        KMV_K,
        KMV_M,
        hexval_sql,
        kmv_fold,
    )

    union_row = next(
        r
        for r in queries()["llm_sketch_kmv_distinct"](spark, SF).collect()
        if r.event_type == "(all)"
    )

    e = (
        T.load(spark, SF, "events")
        .filter(FF.col("user_id").isNotNull())
        .withColumn("event_type", FF.lit("_all"))
    )
    hx = FF.md5(FF.col("user_id").cast("string")).alias("hx")
    g = kmv_fold(e.select("event_type", hx), ["event_type"]).select(
        "n",
        FF.expr(
            hexval_sql(
                f"element_at(kmin, cast(least(n, {KMV_K}) as int))", "instr"
            )
        ).alias("v"),
    ).collect()[0]
    direct = g.n if g.n < KMV_K else ((KMV_K - 1) * KMV_M) // g.v
    assert union_row.kmv_estimate == direct


def test_topcells_matches_window_rank_reference(spark):
    """_topcells (map-only in-row top-nprobe assignment) must reproduce the
    crossJoin + row_number reference EXACTLY — including score ties across
    cells, where the oracle order is ce9 DESC, cid ASC. Random vectors with
    few distinct component values force genuine ce9 collisions."""
    import random

    import pyspark.sql.functions as FF
    from pyspark.sql import Window as W

    from gmall_flink_realtime4_spark.operators.vectors import cos_e9, dot_dec
    from gmall_flink_realtime4_spark.plans.retrieval_queries import (
        _probe_cells,
        _topcells,
    )

    rng = random.Random(42)
    dim, n_vec, n_cent, nprobe = 4, 60, 7, 3
    rows = [
        (i, [float(rng.choice((0.0, 0.5, 1.0))) for _ in range(dim)])
        for i in range(n_vec)
    ]
    # zero vectors break cosine (div by zero) on both forms identically,
    # but keep the fixture clean: ensure at least one nonzero component
    rows = [(i, v if any(v) else [1.0] + v[1:]) for i, v in rows]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    embn = emb.select(
        "vec_id", "embedding", dot_dec(FF.col("embedding"), FF.col("embedding")).alias("n2")
    )
    cent = embn.filter(FF.col("vec_id") < n_cent).select(
        FF.col("vec_id").alias("cid"),
        FF.col("embedding").alias("ce"),
        FF.col("n2").alias("cn2"),
    )

    got = {
        r["vec_id"]: r["cells"]
        for r in _topcells(embn, cent, nprobe)
        .select("vec_id", _probe_cells().alias("cells"))
        .collect()
    }

    bscore = embn.crossJoin(FF.broadcast(cent)).select(
        "vec_id",
        "cid",
        cos_e9(dot_dec(FF.col("embedding"), FF.col("ce")), FF.col("n2"), FF.col("cn2")).alias("ce9"),
    )
    w = W.partitionBy("vec_id").orderBy(FF.col("ce9").desc(), FF.col("cid"))
    ref_rows = (
        bscore.withColumn("rn", FF.row_number().over(w))
        .filter(FF.col("rn") <= nprobe)
        .orderBy("vec_id", "rn")
        .collect()
    )
    ref: dict = {}
    for r in ref_rows:
        ref.setdefault(r["vec_id"], []).append(r["cid"])

    assert got == ref


def _dup_heavy_embeddings(tmp_path):
    import random

    import pandas as pd

    rng = random.Random(7)
    dim, n_distinct, copies = 64, 24, 5
    base = [
        [float(rng.choice((0.25, 0.5, 1.0))) for _ in range(dim)]
        for _ in range(n_distinct)
    ]
    rows = []
    # interleave copies so group member ids straddle other groups' ids
    for c in range(copies):
        for g, v in enumerate(base):
            rows.append({"vec_id": c * n_distinct + g, "embedding": v, "label": g})
    pd.DataFrame(rows).to_parquet(tmp_path / "embeddings.parquet", index=False)
    return str(tmp_path)


def test_cells_exact_compression_matches_uncompressed(spark, tmp_path):
    """SemDeDup step-0 (exact-duplicate compression) must be pair-for-pair
    IDENTICAL to the uncompressed cell miner — including scores — on data
    where duplicate groups straddle the rep-id order both ways (the
    directed-emission subtlety: x<y inside a rep pair does not imply
    rep_a<rep_b). 64-dim vectors from a tiny value alphabet force dup
    groups AND cross-cell near-ties."""
    from gmall_flink_realtime4_spark.plans.retrieval_queries import (
        llm_dedup_embedding_cells,
    )

    sf = _dup_heavy_embeddings(tmp_path)

    comp = sorted(
        tuple(r) for r in llm_dedup_embedding_cells(spark, sf).collect()
    )
    ref = sorted(
        tuple(r)
        for r in llm_dedup_embedding_cells(
            spark, sf, compress_exact=False
        ).collect()
    )
    assert len(ref) > 0  # dup copies guarantee within-group pairs
    assert comp == ref


def test_cosine_exact_compression_matches_uncompressed(spark, tmp_path):
    """Same equality pin for the sign-LSH generator: symmetric flip-one-bit
    candidacy means undirected rep pairs expand with least/greatest member
    ordering — the result must still match the uncompressed miner exactly
    on dup-heavy interleaved data."""
    from gmall_flink_realtime4_spark.plans.retrieval_queries import (
        llm_dedup_embedding_cosine,
    )

    sf = _dup_heavy_embeddings(tmp_path)
    comp = sorted(
        tuple(r) for r in llm_dedup_embedding_cosine(spark, sf).collect()
    )
    ref = sorted(
        tuple(r)
        for r in llm_dedup_embedding_cosine(
            spark, sf, compress_exact=False
        ).collect()
    )
    assert len(ref) > 0
    assert comp == ref


def test_topcells_quantize_once_matches_inline_decimal(spark):
    """The default quantize-once one-pass form of _topcells (centroids
    cast to DECIMAL once in the probe struct, scored with dot_q) must
    emit exactly the ranking of the inline-decimal path (dot=dot_dec
    re-casts per score) — the bit-identity guard for the r8 revert of
    the r5 double-prescore machinery."""
    import pyspark.sql.functions as F

    from gmall_flink_realtime4_spark import tables as T
    from gmall_flink_realtime4_spark.operators.vectors import dot_dec
    from gmall_flink_realtime4_spark.plans.retrieval_queries import (
        _probe_cells,
        _topcells,
    )

    sf = "/root/testdata/sf0.001"
    emb = T.load(spark, sf, "embeddings")
    embn = emb.select(
        "vec_id",
        "embedding",
        dot_dec(F.col("embedding"), F.col("embedding")).alias("n2"),
    )
    cent = embn.filter(F.col("vec_id") < 23).select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("ce"),
        F.col("n2").alias("cn2"),
    )
    for nprobe in (1, 2, 4):
        fast = {
            r.vec_id: list(r.cells)
            for r in _topcells(embn, cent, nprobe)
            .select("vec_id", _probe_cells().alias("cells"))
            .collect()
        }
        slow = {
            r.vec_id: list(r.cells)
            for r in _topcells(embn, cent, nprobe, dot=dot_dec)
            .select("vec_id", _probe_cells().alias("cells"))
            .collect()
        }
        assert fast == slow
