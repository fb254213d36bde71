"""Round-7 operator tests: python-model equivalence + structural
properties for the skyline, co-occurrence-lift, readability, reservoir
sampling, and PCA power-step cores (plan guards live in test_plans.py)."""

from __future__ import annotations

import hashlib
import random
from fractions import Fraction

from pyspark.sql import functions as F

from gmall_flink_realtime4_spark.plans.corpus_queries import (
    RES_K,
    reservoir_finalize,
    reservoir_partials,
)
from gmall_flink_realtime4_spark.plans.olap_queries import (
    cooccurrence_lift,
    pareto_frontier_2d,
)
from gmall_flink_realtime4_spark.plans.retrieval_queries import pca_power_step
from gmall_flink_realtime4_spark.plans.text_queries import readability

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# skyline
# ---------------------------------------------------------------------------


def _quadratic_skyline(pts):
    """The NOT EXISTS spec, verbatim."""
    out = []
    for p in pts:
        dominated = any(
            q[1] >= p[1] and q[2] >= p[2] and (q[1] > p[1] or q[2] > p[2])
            for q in pts
        )
        if not dominated:
            out.append(p)
    return sorted(out)


def test_skyline_matches_quadratic(spark):
    """Sort-filter collapse == quadratic NOT EXISTS on random point sets
    (including duplicate coordinates, which exercise both the same-rev
    class rule and the all-ties-survive rule)."""
    rng = random.Random(7)
    for trial in range(5):
        pts = [
            (i, rng.randrange(0, 20), rng.randrange(0, 20))
            for i in range(60)
        ]
        df = spark.createDataFrame(
            [(k, str(r), str(q)) for k, r, q in pts],
            "s_suppkey long, rev_s string, qty_s string",
        ).select(
            "s_suppkey",
            F.col("rev_s").cast("decimal(18,2)").alias("rev"),
            F.col("qty_s").cast("decimal(18,2)").alias("qty"),
        )
        got = sorted(
            (r["s_suppkey"], int(r["rev"]), int(r["qty"]))
            for r in pareto_frontier_2d(df).collect()
        )
        assert got == _quadratic_skyline(pts), f"trial {trial}"


def test_skyline_equal_points_all_survive(spark):
    """Two identical undominated points: neither strictly dominates the
    other, so BOTH are in the skyline."""
    df = spark.createDataFrame(
        [(1, "9", "9"), (2, "9", "9"), (3, "1", "1")],
        "s_suppkey long, rev_s string, qty_s string",
    ).select(
        "s_suppkey",
        F.col("rev_s").cast("decimal(18,2)").alias("rev"),
        F.col("qty_s").cast("decimal(18,2)").alias("qty"),
    )
    got = sorted(r["s_suppkey"] for r in pareto_frontier_2d(df).collect())
    assert got == [1, 2]


# ---------------------------------------------------------------------------
# co-occurrence lift
# ---------------------------------------------------------------------------


def _model_lift(rows):
    baskets = {}
    for u, d, t in rows:
        baskets.setdefault((u, d), set()).add(t)
    n_b = len(baskets)
    marg = {}
    pair = {}
    for types in baskets.values():
        st = sorted(types)
        for t in st:
            marg[t] = marg.get(t, 0) + 1
        for i, a in enumerate(st):
            for b in st[i + 1 :]:
                pair[(a, b)] = pair.get((a, b), 0) + 1
    return {
        (a, b): (
            n_ab,
            marg[a],
            marg[b],
            n_b,
            (1000 * n_ab) // n_b,
            (1000 * n_ab * n_b) // (marg[a] * marg[b]),
        )
        for (a, b), n_ab in pair.items()
    }


def test_cooccurrence_matches_python_model(spark):
    rng = random.Random(11)
    rows = list(
        {
            (
                rng.randrange(0, 12),
                f"2024-01-{rng.randrange(1, 9):02d}",
                rng.choice(["view", "cart", "buy", "search"]),
            )
            for _ in range(300)
        }
    )
    ut = spark.createDataFrame(rows, "user_id long, day string, event_type string")
    got = {
        (r["type_a"], r["type_b"]): (
            r["n_ab"],
            r["n_a"],
            r["n_b"],
            r["n_baskets"],
            r["support_pm"],
            r["lift_pm"],
        )
        for r in cooccurrence_lift(ut).collect()
    }
    assert got == _model_lift(rows)


def test_cooccurrence_pairs_are_combinations(spark):
    """One basket holding T types must yield exactly C(T,2) pairs, each
    with n_ab = 1."""
    rows = [(1, "2024-01-01", t) for t in ["a", "b", "c", "d"]]
    ut = spark.createDataFrame(rows, "user_id long, day string, event_type string")
    out = cooccurrence_lift(ut).collect()
    assert len(out) == 6
    assert all(r["n_ab"] == 1 and r["type_a"] < r["type_b"] for r in out)


# ---------------------------------------------------------------------------
# readability
# ---------------------------------------------------------------------------


def _model_ari(text):
    n_words = max(len(text.split(" ")), 1)
    n_sents = max(sum(text.count(c) for c in ".!?"), 1)
    n_letters = len(text.replace(" ", ""))
    ari = (471 * n_letters) // n_words + (50 * n_words) // n_sents - 2143
    band = 0 if ari < 0 else min(ari // 100, 14)
    return n_words, n_sents, n_letters, ari, band


def test_readability_exact_model(spark):
    texts = [
        (0, "The cat sat on the mat. It was fine!"),
        (1, "word"),
        (2, "no terminal punctuation here at all"),
        (3, "Multi? Marks! Here. Yes?"),
        (4, "a b c d e f g h i j k l m n o p"),
        (5, "Incomprehensibilities notwithstanding, sesquipedalian "
            "obfuscation perseveres unrelentingly."),
    ]
    d = spark.createDataFrame(texts, "doc_id long, text string")
    got = {
        r["doc_id"]: (
            r["n_words"],
            r["n_sents"],
            r["n_letters"],
            r["ari_c100"],
            r["grade_band"],
        )
        for r in readability(d).collect()
    }
    assert got == {i: _model_ari(t) for i, t in texts}
    # the negative-score branch must actually be exercised by a fixture
    assert any(v[3] < 0 for v in got.values())
    # and a high-grade text must clamp into the band range
    assert all(0 <= v[4] <= 14 for v in got.values())


# ---------------------------------------------------------------------------
# reservoir sample
# ---------------------------------------------------------------------------


def _u48(doc_id):
    return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:12], 16)


def test_reservoir_two_phase_equals_global(spark):
    """Two-phase pruning is exact even when every document lands in ONE
    salt bucket (doc_id multiples of the salt count — the adversarial
    skew case) and when k > n."""
    for ids, k, salt in (
        ([i * 8 for i in range(200)], 16, 8),  # all in salt bucket 0
        (list(range(137)), 16, 8),
        (list(range(5)), 16, 8),  # k > n: all rows come back
    ):
        d = spark.createDataFrame(
            [(i, f"s{i % 3}") for i in ids], "doc_id long, source string"
        )
        got = [
            (r["rnk"], r["doc_id"], r["u"])
            for r in reservoir_finalize(
                reservoir_partials(d, k=k, salt=salt), k=k
            ).orderBy("rnk")
            .collect()
        ]
        want = sorted(((_u48(i), i) for i in ids))[:k]
        assert got == [(j + 1, i, u) for j, (u, i) in enumerate(want)]


def test_reservoir_registered_query_is_k_rows(spark):
    out = reservoir_finalize(
        reservoir_partials(spark.read.parquet(f"{SF}/documents.parquet"))
    ).collect()
    assert len(out) == RES_K
    assert len({r["doc_id"] for r in out}) == RES_K


# ---------------------------------------------------------------------------
# PCA power step
# ---------------------------------------------------------------------------


def test_pca_power_step_matches_fraction_model(spark):
    """Exact-rational model: vectors with components k/64 (exactly
    representable in binary AND in decimal(9,7)), so the Fraction model
    reproduces the engine's decimal arithmetic bit-for-bit."""
    rng = random.Random(13)
    vecs = [
        [rng.randrange(-64, 65) / 64 for _ in range(16)] for _ in range(9)
    ]
    emb = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    fr = [[Fraction(x).limit_denominator(64) for x in v] for v in vecs]
    n = Fraction(len(fr))
    rs = [sum(v) for v in fr]
    t = sum(rs)
    got = {r["pos"]: r for r in pca_power_step(emb).collect()}
    assert set(got) == set(range(1, 17))
    for j in range(16):
        s_j = sum(v[j] for v in fr)
        a_j = sum(v[j] * rs[i] for i, v in enumerate(fr))
        v1 = n * a_j - s_j * t
        row = got[j + 1]
        assert row["n"] == len(fr)
        assert row["s_e9"] == (s_j * 10**9).__floor__()
        assert row["a_e9"] == (a_j * 10**9).__floor__()
        assert row["v1_floor"] == v1.__floor__()


def test_pca_power_step_direction_on_planted_component(spark):
    """A corpus with a planted dominant direction: vectors clustered
    along +e1 (plus small orthogonal noise) must produce a v1 whose
    largest |component| is dimension 1 with positive sign."""
    rng = random.Random(17)
    vecs = []
    for _ in range(40):
        v = [rng.randrange(-4, 5) / 64 for _ in range(8)]
        v[0] = rng.randrange(48, 64) / 64
        vecs.append(v)
    emb = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    rows = {r["pos"]: r["v1_floor"] for r in pca_power_step(emb).collect()}
    top = max(rows, key=lambda p: abs(rows[p]))
    assert top == 1 and rows[1] > 0


# ---------------------------------------------------------------------------
# streaming accumulate-then-finalize twins (round-6 partials discipline,
# applied at birth): union-of-batches == one-shot for each round-7 query
# ---------------------------------------------------------------------------


def test_incremental_skyline_partials_merge(spark):
    """Per-supplier (rev, qty) decimal partials from 3 disjoint lineitem
    slices re-sum to the one-shot aggregate, and the re-run frontier
    equals the registered skyline — including frontier rows a later
    batch dominates away (state is the aggregate, never the frontier)."""
    from gmall_flink_realtime4_spark import tables as T
    from gmall_flink_realtime4_spark.plans.catalog import queries
    from gmall_flink_realtime4_spark.plans.olap_queries import (
        skyline_agg_partials,
        skyline_finalize,
    )

    li = T.load(spark, SF, "lineitem")
    sup = T.load(spark, SF, "supplier").select("s_suppkey", "s_name")
    parts = None
    for bid in range(3):
        b = skyline_agg_partials(li.filter(F.col("l_orderkey") % 3 == bid))
        parts = b if parts is None else parts.unionByName(b)
    got = {
        (r["s_suppkey"], r["s_name"], r["revenue"], r["total_qty"])
        for r in skyline_finalize(parts, sup).collect()
    }
    ref = {
        (r["s_suppkey"], r["s_name"], r["revenue"], r["total_qty"])
        for r in queries()["f_skyline_pareto_suppliers"](spark, SF).collect()
    }
    assert got == ref and len(ref) >= 1


def test_incremental_cooccurrence_membership_merge(spark):
    """Basket-membership rows from 3 disjoint event slices (split by
    event_id, so one (user, day) basket straddles batches by
    construction) union + re-distinct to the complete baskets, and the
    finalize equals the registered report — cross-batch co-occurrence
    pairs emerge from the merged membership state."""
    from gmall_flink_realtime4_spark import tables as T
    from gmall_flink_realtime4_spark.plans.catalog import queries
    from gmall_flink_realtime4_spark.plans.olap_queries import (
        cooccurrence_finalize,
        cooccurrence_ut_partials,
    )

    e = T.load(spark, SF, "events")
    parts = None
    for bid in range(3):
        b = cooccurrence_ut_partials(e.filter(F.col("event_id") % 3 == bid))
        parts = b if parts is None else parts.unionByName(b)
    cols = ["n_ab", "n_a", "n_b", "n_baskets", "support_pm", "lift_pm"]
    got = {
        (r["type_a"], r["type_b"]): tuple(r[c] for c in cols)
        for r in cooccurrence_finalize(parts).collect()
    }
    ref = {
        (r["type_a"], r["type_b"]): tuple(r[c] for c in cols)
        for r in queries()["dws_event_cooccurrence_lift"](spark, SF).collect()
    }
    assert got == ref and len(ref) > 1


def test_readability_is_batch_distributive(spark):
    """Readability is per-doc stateless, so the streaming form IS the map
    itself: the union of per-batch outputs must equal the one-shot output
    row-for-row (the property that makes it safe inside any foreachBatch
    with no state at all)."""
    from gmall_flink_realtime4_spark import tables as T

    d = T.load(spark, SF, "documents")
    parts = None
    for bid in range(3):
        b = readability(d.filter(F.col("doc_id") % 3 == bid))
        parts = b if parts is None else parts.unionByName(b)
    got = {tuple(r) for r in parts.collect()}
    ref = {tuple(r) for r in readability(d).collect()}
    assert got == ref and len(ref) > 100


def test_incremental_reservoir_survivor_merge(spark):
    """Per-batch top-k survivor state from 3 disjoint document slices
    union + re-rank to exactly the one-shot sample — the distributed
    reservoir merge property (a global top-k row is necessarily in its
    own batch's top-k)."""
    from gmall_flink_realtime4_spark import tables as T
    from gmall_flink_realtime4_spark.plans.catalog import queries
    from gmall_flink_realtime4_spark.plans.corpus_queries import (
        reservoir_finalize,
        reservoir_partials,
    )

    d = T.load(spark, SF, "documents")
    parts = None
    for bid in range(3):
        b = reservoir_partials(d.filter(F.col("doc_id") % 3 == bid))
        parts = b if parts is None else parts.unionByName(b)
    got = [tuple(r) for r in reservoir_finalize(parts).orderBy("rnk").collect()]
    ref = [
        tuple(r)
        for r in queries()["llm_sample_reservoir"](spark, SF)
        .orderBy("rnk")
        .collect()
    ]
    assert got == ref and len(ref) == RES_K


def test_incremental_pca_partials_merge(spark):
    """Per-dimension (n_rows, a, s) decimal partials from 3 disjoint
    embedding slices re-sum losslessly (every term is row-local) and the
    finalize equals the registered power step bit-for-bit."""
    from gmall_flink_realtime4_spark import tables as T
    from gmall_flink_realtime4_spark.plans.catalog import queries
    from gmall_flink_realtime4_spark.plans.retrieval_queries import (
        pca_dim_frame,
        pca_finalize,
    )

    emb = T.load(spark, SF, "embeddings")
    parts = None
    for bid in range(3):
        b = pca_dim_frame(emb.filter(F.col("vec_id") % 3 == bid))
        parts = b if parts is None else parts.unionByName(b)
    cols = ["n", "s_e9", "a_e9", "v1_floor"]
    got = {
        r["pos"]: tuple(r[c] for c in cols)
        for r in pca_finalize(parts).collect()
    }
    ref = {
        r["pos"]: tuple(r[c] for c in cols)
        for r in queries()["llm_embedding_pca_power_step"](spark, SF).collect()
    }
    assert got == ref and len(ref) == 64
