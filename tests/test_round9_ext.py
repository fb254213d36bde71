"""Round-9 operator tests: python-model equivalence and the
accumulate-then-finalize streaming twin for the quality-filter training
step (plan guard in test_plans.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from gmall_flink_realtime4_spark.plans.text_queries import (
    QUALITY_MODEL,
    TRAIN_FEATS,
    TRAIN_PAIRS,
    quality_features,
    quality_train_design,
    quality_train_finalize,
    quality_train_gram,
    quality_train_partials,
)
from tests.test_round8_ext import EDGE_TEXTS, _py_features

SF = "/root/testdata/sf0.001"


def _py_design(f: dict, lang: str) -> dict:
    """Exact python twin of quality_train_design over a feature dict."""
    return {
        "bias": 1,
        "stop": f["stopword_permille"],
        "dist": f["distinct_token_permille"],
        "mtl": f["mean_token_len_permille"],
        "ari": f["ari_c100"],
        "tok": min(f["n_tokens"], QUALITY_MODEL["tok_cap"]),
        "y": 1 if lang == "en" else 0,
    }


def _py_gram(rows: list[dict]) -> dict:
    """Integer-exact X'X upper triangle + X'y + n over design rows."""
    out = {}
    for a, b in TRAIN_PAIRS:
        out[(a, b)] = sum(r[a] * r[b] for r in rows)
    for a in TRAIN_FEATS:
        out[(a, "y")] = sum(r[a] * r["y"] for r in rows)
    out["n"] = len(rows)
    return out


def _spark_gram(spark, rows: list[tuple[int, str, str]]) -> dict:
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    feats = quality_features(df, carry=("lang",)).drop("doc_id")
    got = quality_train_gram(quality_train_design(feats)).collect()
    assert len(got) == len(TRAIN_PAIRS) + len(TRAIN_FEATS) == 27
    cells = {(r.row_feat, r.col_feat): r.sum_prod for r in got}
    cells["n"] = got[0].n_rows
    assert all(r.n_rows == got[0].n_rows for r in got)
    return cells


def test_quality_train_gram_matches_python_model_edge_texts(spark):
    """Spark sufficient statistics == exact integer python model on the
    r8 edge texts (empty, all-stopword, giant-token, double-space,
    punctuated, past-the-cap), with both label classes present.
    sum_prod is a DOUBLE but every value here is far below 2^53, so the
    boundary cast is exact and the compare is integer-strict."""
    rows = [
        (i, t, "en" if i % 2 == 0 else "de")
        for i, t in enumerate(EDGE_TEXTS)
    ]
    expected = _py_gram(
        [_py_design(_py_features(i, t), lg) for i, t, lg in rows]
    )
    got = _spark_gram(spark, rows)
    assert got["n"] == expected["n"]
    for key, want in expected.items():
        if key == "n":
            continue
        assert int(got[key]) == want and got[key] == float(want), key


def test_quality_train_gram_matches_python_model_real_corpus(spark):
    """Same integer-strict equivalence over the full real sf0.001 corpus
    (both labels occur: the synthetic documents carry en/de/fr/es)."""
    from gmall_flink_realtime4_spark import tables as T
    from gmall_flink_realtime4_spark.plans.catalog import queries

    docs = T.load(spark, SF, "documents").select("doc_id", "text", "lang")
    rows = [(r.doc_id, r.text, r.lang) for r in docs.collect()]
    labels = {lg for _, _, lg in rows}
    assert "en" in labels and len(labels) > 1  # regression is non-degenerate
    expected = _py_gram(
        [_py_design(_py_features(i, t), lg) for i, t, lg in rows]
    )
    out = queries()["llm_quality_train_step"](spark, SF).collect()
    got = {(r.row_feat, r.col_feat): r.sum_prod for r in out}
    assert all(r.n_rows == len(rows) for r in out)
    for key, want in expected.items():
        if key == "n":
            continue
        assert int(got[key]) == want, key


def test_quality_train_partials_merge_equals_one_shot(spark):
    """Sufficient statistics are distributive: union of per-batch
    partials (doc_id % 3 slices), merged at finalize, equals the
    registered one-shot query cell-for-cell — including n_rows — with
    NO rounding drift (partials stay DECIMAL; the double boundary cast
    happens only at finalize, mirroring the one-shot plan)."""
    from gmall_flink_realtime4_spark import tables as T
    from gmall_flink_realtime4_spark.plans.catalog import queries

    d = T.load(spark, SF, "documents")
    parts = None
    for bid in range(3):
        b = quality_train_partials(d.filter(F.col("doc_id") % 3 == bid))
        parts = b if parts is None else parts.unionByName(b)
    got = {
        (r.row_feat, r.col_feat): (r.sum_prod, r.n_rows)
        for r in quality_train_finalize(parts).collect()
    }
    ref = {
        (r.row_feat, r.col_feat): (r.sum_prod, r.n_rows)
        for r in queries()["llm_quality_train_step"](spark, SF).collect()
    }
    assert got == ref and len(ref) == 27


def test_quality_train_gram_property_random_texts(spark):
    """Hypothesis property: the sufficient statistics equal the exact
    integer python model on RANDOM texts over the classifier property's
    adversarial alphabet (stopwords, punctuation-only tokens, empty
    tokens from doubled spaces, long garbage tokens) with RANDOM labels
    — agreement isn't an artifact of the synthetic corpus's shape, and
    negative ari products are exercised by construction."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    token = st.sampled_from(
        ["the", "a", "of", "to", "and", "x", "zz", "q3!", ".", "!?",
         "", "longgarbagetoken" * 3, "mid.dle"]
    )
    docs = st.lists(
        st.tuples(
            st.lists(token, min_size=0, max_size=40).map(" ".join),
            st.sampled_from(["en", "de", "fr"]),
        ),
        min_size=1,
        max_size=8,
    )

    @given(docs=docs)
    @settings(max_examples=8, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    def run(docs):
        rows = [(i, t, lg) for i, (t, lg) in enumerate(docs)]
        expected = _py_gram(
            [_py_design(_py_features(i, t), lg) for i, t, lg in rows]
        )
        got = _spark_gram(spark, rows)
        assert got["n"] == expected["n"]
        for key, want in expected.items():
            if key != "n":
                assert int(got[key]) == want, (key, docs)

    run()


def test_quality_train_solves_to_usable_model(spark):
    """End-to-end training sanity: the sufficient statistics actually
    SOLVE — Gaussian elimination over exact Fractions on the 6x6 normal
    equations (with a tiny ridge to guarantee invertibility) yields
    weights whose linear scores separate the label better than the
    constant predictor on the training corpus (sum of squared errors
    strictly below the label-variance baseline). This pins that the 27
    cells really are X'X/X'y in the documented order, not just 27
    internally-consistent numbers."""
    from fractions import Fraction

    from gmall_flink_realtime4_spark.plans.catalog import queries

    out = queries()["llm_quality_train_step"](spark, SF).collect()
    cells = {(r.row_feat, r.col_feat): int(r.sum_prod) for r in out}
    n = out[0].n_rows
    D = len(TRAIN_FEATS)
    ridge = Fraction(1, 1000)
    A = [[Fraction(0)] * D for _ in range(D)]
    bvec = [Fraction(0)] * D
    for i, a in enumerate(TRAIN_FEATS):
        for j, b in enumerate(TRAIN_FEATS):
            key = (a, b) if (a, b) in cells else (b, a)
            A[i][j] = Fraction(cells[key]) + (ridge if i == j else 0)
        bvec[i] = Fraction(cells[(a, "y")])
    # exact Gaussian elimination with partial pivoting
    for col in range(D):
        piv = max(range(col, D), key=lambda r: abs(A[r][col]))
        assert A[piv][col] != 0
        A[col], A[piv] = A[piv], A[col]
        bvec[col], bvec[piv] = bvec[piv], bvec[col]
        for r in range(D):
            if r != col and A[r][col] != 0:
                f = A[r][col] / A[col][col]
                A[r] = [x - f * y for x, y in zip(A[r], A[col])]
                bvec[r] = bvec[r] - f * bvec[col]
    w = [bvec[i] / A[i][i] for i in range(D)]

    # SSE of the fitted linear scores vs the constant-mean baseline,
    # both computable from the sufficient statistics alone:
    #   SSE = y'y - 2 w'X'y + w'X'Xw ;  baseline = y'y - (sum y)^2 / n
    # y is 0/1 so y'y == sum(y) == the bias X'y cell
    yty = Fraction(cells[("bias", "y")])
    xty = [Fraction(cells[(a, "y")]) for a in TRAIN_FEATS]
    xtx = [
        [
            Fraction(
                cells[(a, b)] if (a, b) in cells else cells[(b, a)]
            )
            for b in TRAIN_FEATS
        ]
        for a in TRAIN_FEATS
    ]
    wXty = sum(wi * v for wi, v in zip(w, xty))
    wXtXw = sum(
        w[i] * xtx[i][j] * w[j] for i in range(D) for j in range(D)
    )
    sse = yty - 2 * wXty + wXtXw
    baseline = yty - Fraction(cells[("bias", "y")]) ** 2 / n
    assert sse < baseline  # the features carry real signal about y
