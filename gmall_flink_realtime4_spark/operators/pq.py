"""Shared product-quantization int-space core (Jegou et al., IVF-ADC).

The ONE copy of the PQ exact-integer kernel — subspace constants, the
offset-int quantize pass, subspace split, exact squared-L2, the
broadcast-codebook min-struct argmin, and the floored-integer-mean Lloyd
trainer (Lloyd sums + centroid assembly) — imported by BOTH the batch
plans (``plans.retrieval_queries``: llm_ann_pq_encode /
ivf_trained_recall / pq_adc_recall) and the streaming twin
(``streaming.incremental.pq_train_partials`` / ``pq_train_finalize``). Promoted out of the plans
module (r12, ADVICE) so the streaming layer no longer reaches into plan
internals: a rename/refactor here breaks both importers loudly at import
time instead of silently at twin call time. Same pattern as
``hexval_sql``'s single home in ``operators.hashing``.

Determinism contract (CLAUDE.md sign rule): every division runs on
offset-POSITIVE integers so Spark's truncating ``div`` and DuckDB's
flooring ``//`` agree, and every distance is an exact decimal integer —
no libm anywhere, so oracle hash-parity is bit-stable.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

# Quantize ladder shared with every embedding query (the ONE copy —
# operators.vectors documents why a second copy is forbidden).
from .vectors import qdec

PQ_M = 8  # subspaces (64-dim vectors -> 8 x 8-dim subvectors)
PQ_D = 8  # dims per subspace
PQ_K = 16  # codewords per subspace (codebook = vec_id < PQ_K, seed scheme
#            shared with llm_ann_ivf's coarse quantizer)

# Offset-scaled integer view of quantized components: xi = x*1e7 + 1e9.
# |x| < 100 by VEC_DEC, so xi > 0 everywhere — Spark's truncating `div`
# and DuckDB's flooring `//` then agree (CLAUDE.md sign rule), which is
# what lets the trained centroid be an exact integer-floored MEAN without
# decimal-division rounding divergence (L2 is not scale-invariant, so the
# IVF trick of keeping sums unscaled does not apply to PQ).
PQ_OFF_INT = 1_000_000_000


def sv_int(svq):
    """array<decimal(9,7)> -> array<bigint> at the offset 1e-7 scale."""
    return F.transform(
        svq, lambda x: (x * 10000000).cast("bigint") + F.lit(PQ_OFF_INT)
    )


def sqdist_int(a, b):
    """Exact squared L2 over two offset-int arrays (offsets cancel in the
    difference). Per-term (2e9)^2 needs 19 digits -> square in decimal,
    accumulate decimal(38,0); values are exact integers on both engines."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x - y),
        F.lit(0).cast("decimal(38,0)"),
        lambda acc, d: (
            acc + (d.cast("decimal(10,0)") * d.cast("decimal(10,0)"))
        ).cast("decimal(38,0)"),
    )


def pq_fullint(emb: DataFrame) -> DataFrame:
    """(vec_id, full): the ONE quantize pass — offset-int whole vectors."""
    return emb.select(
        "vec_id", sv_int(qdec(F.col("embedding"))).alias("full")
    )


def pq_subint(fullint: DataFrame) -> DataFrame:
    """(vec_id, m, xint): subspace long form, derived (cheap column ops,
    no shuffle) from the checkpointed fullint per consumer."""
    ms = F.array([F.lit(m) for m in range(PQ_M)])
    return fullint.select("vec_id", F.explode(ms).alias("m"), "full").select(
        "vec_id",
        "m",
        F.expr(f"slice(full, m * {PQ_D} + 1, {PQ_D})").alias("xint"),
    )


def argmin_codes(
    frame: DataFrame, cb: DataFrame, keep: tuple[str, ...] = ()
) -> DataFrame:
    """Nearest codeword per (vec_id, m) against a BROADCAST codebook
    (m, cid, qarr) over an offset-int frame (vec_id, m, xint, *keep) ->
    (vec_id, m, cid, xint, *keep).

    min-struct argmin instead of the r10 row_number window: the agg is
    partial-aggregable, so map-side combine shrinks the K-wide candidate
    stream to one row per (vec_id, m) BEFORE the shuffle (the window
    shuffled all K candidates). (d2, cid) is already a total order (cid
    unique per group), so the payload fields never decide the min."""
    cand = frame.join(F.broadcast(cb), "m").withColumn(
        "d2", sqdist_int(F.col("xint"), F.col("qarr"))
    )
    fields = ["d2", "cid", "xint", *keep]
    return (
        cand.groupBy("vec_id", "m")
        .agg(F.min(F.struct(*fields)).alias("b"))
        .select(
            "vec_id",
            "m",
            *[F.col(f"b.{f}").alias(f) for f in fields[1:]],
        )
    )


def pq_trained_codebook_int(assign: DataFrame) -> DataFrame:
    """One Lloyd step per subspace over an OFFSET-INT assignment frame
    (vec_id, m, cid, xint): (m, cid, qarr) trained codewords — the two
    halves below, which the streaming twin runs per batch and at finalize.

    Seed-assigned cells are never empty (every seed cid assigns d2=0 to
    itself, modulo exact-duplicate subvectors — the lower cid absorbs
    both and the empty cell drops on BOTH engines); a LATER Lloyd step
    can starve a cell (standard cell death), identically on both engines
    since the assignment is deterministic."""
    return pq_lloyd_centroids(pq_lloyd_sums(assign))


def pq_lloyd_sums(assign: DataFrame) -> DataFrame:
    """Lloyd-step sufficient statistics of an assignment frame
    (vec_id, m, cid, xint): (m, cid, pos, s, n) component SUMS and member
    COUNTS from ONE map-combined hash agg over (m, cid, pos) —
    PQ_M*PQ_K*PQ_D groups total, no corpus joins (n is the member count
    replicated per pos, so no separate count frame). Both are
    sum-algebras, so partials over disjoint slices merge by addition.
    s as decimal(28,0): at 1e12 members a cell sum reaches ~4e21, past
    BIGINT but comfortably inside 28 digits."""
    return (
        assign.select(
            "m", "cid", F.posexplode(F.col("xint")).alias("pos", "xi")
        )
        .groupBy("m", "cid", "pos")
        .agg(
            F.sum(F.col("xi").cast("decimal(28,0)")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def pq_lloyd_centroids(sums: DataFrame) -> DataFrame:
    """(m, cid, pos, s, n) Lloyd sums -> (m, cid, qarr) codewords.

    Centroid component = integer-floored mean of the assigned members at
    the offset scale: q = s div n — xi > 0 by construction (both
    PQ_OFF_INT and PQ_RES_OFF offsets), so Spark's truncating `div` and
    DuckDB's flooring `//` agree. The array is assembled in pos order."""
    return (
        sums.select("m", "cid", "pos", F.expr("s div n").alias("q"))
        .groupBy("m", "cid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "q"))),
                lambda sq: sq.q,
            ).alias("qarr")
        )
    )
