"""Exact vector arithmetic shared by the retrieval queries and ``pq``.

Embedding components are quantized once to DECIMAL(9,7) (``qdec``), dot
products fold JVM-side in exact DECIMAL(38,14) (``dot_dec``, ``dot_q``)
and cosine is scaled to a BIGINT e9 integer (``cos_e9``), so both engines
rank identically. ``dot_dbl`` is the cheap double pre-score of prefilter
passes; ``ranked_topk_per_query`` is the one two-phase exact top-k.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window


# embedding components are < 1 in magnitude (normalized-ish vectors). Cast
# float -> DOUBLE first (Spark's float->decimal goes through the FLOAT's
# shortest decimal repr; DuckDB uses the exact binary value — double-first
# makes both engines see the same value), then DECIMAL(9,7): products stay
# within (19,14), 64-element sums within (38,14) and the scaled integer sum
# stays under 2^53 so decimal->double is one exactly-rounded step. Exact,
# order-independent arithmetic on both engines.
VEC_DEC = "decimal(9,7)"
VEC_ACC = "decimal(38,14)"


def dot_dec(a, b):
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: x.cast("double").cast(VEC_DEC)
            * y.cast("double").cast(VEC_DEC),
        ),
        F.lit(0).cast(VEC_ACC),
        lambda acc, x: (acc + x).cast(VEC_ACC),
    )


def _dec7(x):
    """The shared element quantization ladder: double -> DECIMAL(9,7)."""
    return x.cast("double").cast(VEC_DEC)


def qdec(arr):
    """Quantize a float array ONCE into the shared decimal ladder —
    pair-scoring sites attach this per SIDE-ROW so the expensive
    double->BigDecimal casts run once per vector, not once per pair.
    The ONE copy of the quantization (retrieval queries and ``pq`` import it):
    a second copy could silently diverge from VEC_DEC and break the
    bit-identical-to-oracle guarantee."""
    return F.transform(arr, _dec7)


def dot_q(a, b):
    """``dot_dec`` over two ALREADY-``qdec``-quantized arrays: one multiply
    + one accumulate per element (the inline form re-casts both operands
    double->BigDecimal per element, per pair). Identical decimal values —
    only the redundant re-quantization is hoisted to once per side-row."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast(VEC_ACC),
        lambda acc, x: (acc + x).cast(VEC_ACC),
    )


def dot_dbl(a, b):
    """Plain-double twin of the exact-decimal ``dot_dec`` — the cheap
    PRE-SCORE for prerank/prefilter passes: no BigDecimal allocation per
    element, so it is ~10-30x faster through the interpreted higher-order
    fold. Never emitted: every surviving row is re-scored with ``dot_dec``
    before any output or ranking decision (see ``PRESCORE_MARGIN_E9``)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


# |cos_e9(decimal) - cos_e9(double)| bound: DECIMAL(9,7) quantization
# perturbs each element by <= 5e-8, so a D-dim dot moves by
# <= D * (2*max|x|*5e-8) ~ 6.4e-6 for D=64, |x| <= 1 — i.e. <= ~6.4e3
# e9-units for unit-norm vectors (double fold rounding is 1e-7 e9-units,
# negligible). When the pre-score also uses DOUBLE norms (all-double
# stage 1), the norm quantization adds another <= ~1.3e-5 relative —
# total <= ~2e4 e9-units. 1e7 (0.01 cosine) is still a ~500x safety
# factor; candidates inside the margin are decimal-rescored, so the
# margin only affects COST (a slightly larger rescore set), never
# correctness.
PRESCORE_MARGIN_E9 = 10_000_000


def cos_e9(dot, n2a, n2b):
    """e9-scaled cosine from a dot product and the two squared norms.

    nullif-guards the norm product: a zero-norm vector would otherwise
    raise DIVIDE_BY_ZERO under Spark 4's default ANSI mode, while the
    DuckDB oracle yields NULL and drops the row at the threshold filter —
    NULL here reproduces the oracle's behavior on both engines. The ONE
    copy of this expression (the retrieval queries import it): a divergence
    between two copies would surface as a data-dependent engine-vs-oracle
    mismatch."""
    return (
        F.floor(
            F.lit(1000000000.0)
            * dot.cast("double")
            / F.nullif(
                F.sqrt(n2a.cast("double") * n2b.cast("double")), F.lit(0.0)
            )
        ).cast("bigint")
    )


# Phase-1 slices per group (two-phase exact top-k). r13 retune (r12
# verdict item 2): 8 bounds the small-scale overhead of the second window
# phase — min-of-6 interleaved A/B at sf0.1 read SALT=8 flat-to-better on
# all five consumers (cosine −7.4%, ivf −3.7%, tuning −4.3%) — while still
# removing the NQ(=8)-way ranking ceiling (8 -> 64-way). The output is
# bit-identical for ANY salt (both phases share one total order; property
# test pins it).
TOPK_SALT = 8


def ranked_topk_per_query(
    scored: DataFrame, group: str, item: str, score: Column, k: int
) -> DataFrame:
    """Two-phase EXACT ranked top-k items per group, ordered by
    (``score``, ``item``) — r12, shared by the cosine baseline, both IVF
    rerank stages (descending cos_sim_e9 per query_vec_id) and the PQ
    ADC searches (ascending distance per qid). Adds a bigint ``rank``.

    A single Window.partitionBy(group) caps the ranking stage at
    N_QUERIES(=8)-way parallelism regardless of cluster size — one task
    sorts the whole candidate set of a query (the full corpus for the
    brute-force baseline). Phase 1 ranks within
    (group, item % TOPK_SALT) slices — 8 x TOPK_SALT-way parallel; every
    global top-k row is in its slice's top-k by the same total order —
    phase 2 assigns the FINAL rank over the <= TOPK_SALT*k survivors.
    Identical (rank, score) output to the single window (ties broken by
    item id in both phases), so the oracles are unchanged."""
    order = [score, F.col(item)]
    w1 = Window.partitionBy(group, F.expr(f"{item} % {TOPK_SALT}")).orderBy(
        *order
    )
    w2 = Window.partitionBy(group).orderBy(*order)
    return (
        scored.withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= k)
        .drop("_r1")
        .withColumn("rank", F.row_number().over(w2).cast("bigint"))
        .filter(F.col("rank") <= k)
    )
