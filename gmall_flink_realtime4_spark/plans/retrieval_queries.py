"""Vector search and embedding queries over ``embeddings`` (and BM25 text).

- brute-force cosine top-k — the exact baseline every approximate
  variant is judged against;
- embedding near-dup: hyperplane-sign bucket prefilter and IVF-cell
  candidate generation, exact cosine inside, plus their recall audit;
- IVF ANN: coarse quantization to centroid cells, queries probe nprobe
  cells, exact rerank inside probed cells only; the k-means step and the
  trained-centroid recall curve;
- product quantization: PQ encoding and IVF-PQ asymmetric-distance
  search with its recall audit;
- int8 embedding quantization, covariance sufficient statistics and one
  PCA power-iteration step (``llm_embedding_pca_power_step``: v1 = S·v0
  against the scatter matrix S = N·X'X − s·s' without materializing any
  DxD matrix);
- BM25 top-k over a fixed query set.

Scores use the shared decimal ladder of ``operators.vectors``: elements
quantized once to DECIMAL(9,7), dot products exact in DECIMAL(38,14),
cosine scaled to a BIGINT e9 integer; ranking is the two-phase exact
top-k there. The PQ int-space core lives in ``operators.pq``. All
hot-path expressions are JVM-side (whole-stage codegen), no Python UDFs.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window

from .. import tables as T
from ..operators.vectors import (
    PRESCORE_MARGIN_E9,
    VEC_ACC,
    VEC_DEC,
    cos_e9,
    dot_dbl,
    dot_dec,
    dot_q,
    qdec,
    ranked_topk_per_query,
)
from .catalog import REGISTRY, query


# ---------------------------------------------------------------------------
# Brute-force cosine top-k ANN — the exact baseline the IVF/LSH variants are
# judged against. Decimal-exact dot products; score scaled to BIGINT.
# ---------------------------------------------------------------------------
@query(
    "llm_ann_cosine_topk",
    oracle="""
WITH ix AS (
    SELECT unnest(range(1, 65)) AS i
), norms AS (
    SELECT vec_id,
           SUM(CAST(CAST(embedding[ix.i] AS DOUBLE) AS DECIMAL(9,7))
               * CAST(CAST(embedding[ix.i] AS DOUBLE) AS DECIMAL(9,7))) AS n2
    FROM embeddings, ix
    GROUP BY 1
), pairs AS (
    SELECT q.vec_id AS query_vec_id, b.vec_id AS neighbor_vec_id,
           SUM(CAST(CAST(q.embedding[ix.i] AS DOUBLE) AS DECIMAL(9,7))
               * CAST(CAST(b.embedding[ix.i] AS DOUBLE) AS DECIMAL(9,7))) AS dot
    FROM embeddings q, embeddings b, ix
    WHERE q.vec_id < 8 AND b.vec_id <> q.vec_id
    GROUP BY 1, 2
), scored AS (
    SELECT p.query_vec_id, p.neighbor_vec_id,
           CAST(floor(1000000000.0 * CAST(p.dot AS DOUBLE)
                / sqrt(CAST(nq.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)))
                AS BIGINT) AS cos_sim_e9
    FROM pairs p
    JOIN norms nq ON p.query_vec_id = nq.vec_id
    JOIN norms nb ON p.neighbor_vec_id = nb.vec_id
)
SELECT query_vec_id, neighbor_vec_id, rank, cos_sim_e9
FROM (
    SELECT *, CAST(row_number() OVER (
        PARTITION BY query_vec_id
        ORDER BY cos_sim_e9 DESC, neighbor_vec_id) AS BIGINT) AS rank
    FROM scored
)
WHERE rank <= 5
""",
    tags=("llm-similarity",),
)
def llm_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k over the embedding column.

    Query set = vec_id < 8; base = all vectors. Dot products fold the
    ``array<float>`` JVM-side (zip_with + aggregate, no Python) in exact
    decimal; cosine is scaled to an integer (1e9) so ranking and hashing are
    deterministic. Scale path: broadcast the query set (small side),
    brute-force scan the base — the LSH-bucketed variant reuses this scorer
    within buckets.

    ONE decimal pass, quantize-once per side: the base row quantizes and
    self-norms ONCE below the broadcast join (so the per-pair work is one
    multiply+accumulate fold), the Q-row query side rides in the
    broadcast. Round 8 reverted the r5 two-stage double-prescore here —
    isolated warm A/B measured the one-pass form >2x faster at BOTH
    sf0.1 (0.59 vs 1.30 s) and x10 (0.84 vs 1.25 s), bit-identical
    output: the prescore's extra Window pass + rescore join-backs cost
    more than the decimal arithmetic it gated (decimal:double fold ratio
    measured ~1.5x, not the 10-30x the margin design assumed). The
    prescore pattern remains where it pays — per-PAIR gating in
    llm_neardup_recall / embedding_cells (below).
    """
    emb = T.load(spark, sf_dir, "embeddings")
    # query slice: 8 rows straight into the BroadcastExchange — the spread
    # Exchange between the pushed vec_id filter and the broadcast build is
    # pure overhead (guide §2.4); the corpus side keeps the spread for the
    # parallel quantize+norm map pass.
    q = T.load(spark, sf_dir, "embeddings", spread=False).filter(
        F.col("vec_id") < 8
    ).select(
        F.col("vec_id").alias("query_vec_id"),
        qdec(F.col("embedding")).alias("qeq"),
        dot_dec(F.col("embedding"), F.col("embedding")).alias("qn2"),
    )
    base = emb.select(
        F.col("vec_id").alias("neighbor_vec_id"),
        qdec(F.col("embedding")).alias("neq"),
        dot_dec(F.col("embedding"), F.col("embedding")).alias("nn2"),
    )
    scored = (
        F.broadcast(q)
        .join(base, F.col("neighbor_vec_id") != F.col("query_vec_id"))
        .select(
            "query_vec_id",
            "neighbor_vec_id",
            cos_e9(
                dot_q(F.col("qeq"), F.col("neq")),
                F.col("qn2"),
                F.col("nn2"),
            ).alias("cos_sim_e9"),
        )
    )
    return ranked_topk_per_query(
        scored, "query_vec_id", "neighbor_vec_id", F.col("cos_sim_e9").desc(), 5
    ).select("query_vec_id", "neighbor_vec_id", "rank", "cos_sim_e9")


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup — sign-LSH bucket prefilter + exact cosine.
# ---------------------------------------------------------------------------
# Parameterized sign-LSH: n_planes sign bits form the bucket key; each
# vector additionally probes every bucket at hamming distance 1 from its
# own (flip-one-bit multi-probe). More planes => exponentially smaller
# buckets (within-bucket pair work ~ N^2 / 2^n_planes); the multi-probe
# recovers the recall the extra planes would otherwise cost, because a
# near-dup pair that disagrees on one plane's sign still meets in the
# flipped probe. Candidate volume ~ (n_planes + 1) * N^2 / 2^n_planes —
# strictly sub-quadratic and tunable, vs the fixed N^2/256 of the old
# 8-plane single-probe.
NEARDUP_SIGN_DIMS = 12
NEARDUP_THRESHOLD_E9 = 300_000_000  # cosine >= 0.30

_NORMS_SQL = """
ix AS (
    SELECT unnest(range(1, 65)) AS i
), norms AS (
    SELECT vec_id,
           SUM(CAST(CAST(embedding[ix.i] AS DOUBLE) AS DECIMAL(9,7))
               * CAST(CAST(embedding[ix.i] AS DOUBLE) AS DECIMAL(9,7))) AS n2
    FROM embeddings, ix
    GROUP BY 1
)"""


def _sign_bucket_sql(alias: str = "embedding") -> str:
    return " || ".join(
        f"(CASE WHEN {alias}[{i}] >= 0 THEN '1' ELSE '0' END)"
        for i in range(1, NEARDUP_SIGN_DIMS + 1)
    )


def _sign_bucket_col() -> Column:
    return F.concat(
        *[
            F.when(F.element_at("embedding", i) >= 0, "1").otherwise("0")
            for i in range(1, NEARDUP_SIGN_DIMS + 1)
        ]
    )


def _flip_bit_sql(i: int, n: int, col: str = "bucket") -> str:
    """SQL for ``col`` with 1-indexed bit ``i`` of an n-char 0/1 string flipped
    (identical text works in both Spark SQL and DuckDB)."""
    return (
        f"substr({col}, 1, {i - 1}) || "
        f"(CASE WHEN substr({col}, {i}, 1) = '1' THEN '0' ELSE '1' END) || "
        f"substr({col}, {i + 1}, {n})"
    )


def _probe_union_sql() -> str:
    n = NEARDUP_SIGN_DIMS
    parts = ["    SELECT vec_id, bucket AS pb FROM bk"]
    parts += [
        f"    SELECT vec_id, {_flip_bit_sql(i, n)} AS pb FROM bk"
        for i in range(1, n + 1)
    ]
    return "\n    UNION ALL\n".join(parts)


@query(
    "llm_dedup_embedding_cosine",
    oracle=f"""
WITH {_NORMS_SQL},
bk AS (
    SELECT vec_id, {_sign_bucket_sql()} AS bucket FROM embeddings
), probes AS (
{_probe_union_sql()}
), cand AS (
    SELECT p.vec_id AS vec_a, h.vec_id AS vec_b
    FROM probes p JOIN bk h ON p.pb = h.bucket AND p.vec_id < h.vec_id
), p AS (
    SELECT c.vec_a, c.vec_b,
           SUM(CAST(CAST(a.embedding[ix.i] AS DOUBLE) AS DECIMAL(9,7))
               * CAST(CAST(b.embedding[ix.i] AS DOUBLE) AS DECIMAL(9,7))) AS dot
    FROM cand c
    JOIN embeddings a ON c.vec_a = a.vec_id
    JOIN embeddings b ON c.vec_b = b.vec_id, ix
    GROUP BY 1, 2
)
SELECT vec_a, vec_b,
       CAST(floor(1000000000.0 * CAST(p.dot AS DOUBLE)
            / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)))
            AS BIGINT) AS cos_sim_e9
FROM p
JOIN norms na ON p.vec_a = na.vec_id
JOIN norms nb ON p.vec_b = nb.vec_id
WHERE CAST(floor(1000000000.0 * CAST(p.dot AS DOUBLE)
            / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)))
            AS BIGINT) >= {NEARDUP_THRESHOLD_E9}
""",
    tags=("llm-dedup", "llm-similarity"),
)
def llm_dedup_embedding_cosine(
    spark: SparkSession, sf_dir: str, *, compress_exact: bool = True
) -> DataFrame:
    """Embedding near-dup pairs: multi-probe sign-LSH, exact cosine inside.

    Bucket = sign bits of the first NEARDUP_SIGN_DIMS dimensions
    (hyperplane LSH with axis-aligned planes — deterministic, no random
    state). Each vector probes its own bucket plus every flip-one-bit
    neighbor, so a near-dup pair disagreeing on one plane still meets —
    recall held while 2^n_planes cells shrink the within-bucket pair work
    (see the constant's note for the candidate-volume math).

    Scale shape: candidate generation ships only (vec_id, probe_key) —
    the 64-float embedding is NOT replicated across the n_planes + 1
    probe rows; full vectors re-enter via two vec_id equi-joins on the
    (small) candidate set, where the fused n2 rides along. Bucket is the
    shuffle key; exact cosine (decimal dot, scaled BIGINT) is computed
    only on candidates.

    ``compress_exact`` (default) is SemDeDup step 0, as in
    llm_dedup_embedding_cells — but SIMPLER here because flip-one-bit
    candidacy is symmetric (hamming(sig_x, sig_y) <= 1 reads the same
    from both sides), so undirected rep pairs suffice and each is scored
    once; expansion emits least/greatest member pairs. Output is
    pair-for-pair identical (same equality test as cells).
    """
    emb = T.load(spark, sf_dir, "embeddings")
    embn = emb.select(
        "vec_id",
        "embedding",
        dot_dec(F.col("embedding"), F.col("embedding")).alias("n2"),
    )
    if compress_exact:
        grouped = _group_identical(embn)
        embn = grouped.select("vec_id", "embedding", "n2")
        bk = embn.select("vec_id", _sign_bucket_col().alias("bucket"))
    else:
        bk = emb.select("vec_id", _sign_bucket_col().alias("bucket"))
    n = NEARDUP_SIGN_DIMS
    probe_keys = F.array(
        F.col("bucket"),
        *[F.expr(_flip_bit_sql(i, n)) for i in range(1, n + 1)],
    )
    probes = bk.select("vec_id", F.explode(probe_keys).alias("pb"))
    home = bk.select(F.col("vec_id").alias("vec_b"), F.col("bucket").alias("pb"))
    # each qualifying pair meets on exactly one probe key (its bucket
    # hamming distance is 0 or 1, and the probe set hits each at-distance-1
    # bucket once), so no distinct pass is needed
    cand = probes.join(home, "pb").filter(F.col("vec_id") < F.col("vec_b")).select(
        F.col("vec_id").alias("vec_a"), "vec_b"
    )
    ea = embn.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"),
        F.col("n2").alias("na2"),
    )
    eb = embn.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
        F.col("n2").alias("nb2"),
    )
    scored = (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            F.floor(
                F.lit(1000000000.0)
                * dot_dec(F.col("ea"), F.col("eb")).cast("double")
                / F.nullif(
                    F.sqrt(
                        F.col("na2").cast("double") * F.col("nb2").cast("double")
                    ),
                    F.lit(0.0),
                )
            )
            .cast("bigint")
            .alias("cos_sim_e9"),
        )
    )
    pairs = scored.filter(F.col("cos_sim_e9") >= NEARDUP_THRESHOLD_E9)
    if not compress_exact:
        return pairs
    # symmetric candidacy → undirected rep pairs expand to ALL member
    # pairs (least/greatest ordering)
    ga = grouped.select(F.col("vec_id").alias("vec_a"), F.col("members").alias("ma"))
    gb = grouped.select(F.col("vec_id").alias("vec_b"), F.col("members").alias("mb"))
    cross = (
        pairs.join(ga, "vec_a")
        .join(gb, "vec_b")
        .select("cos_sim_e9", F.explode("ma").alias("u"), "mb")
        .select("cos_sim_e9", "u", F.explode("mb").alias("v"))
        .select(
            F.least("u", "v").alias("vec_a"),
            F.greatest("u", "v").alias("vec_b"),
            "cos_sim_e9",
        )
    )
    return cross.unionByName(_within_group_pairs(grouped))


# ---------------------------------------------------------------------------
# IVF ANN — coarse quantization + nprobe cell search + exact rerank.
# ---------------------------------------------------------------------------
IVF_N_CENTROIDS = 16
IVF_NPROBE = 2
IVF_TOPK = 5
ANN_N_QUERIES = 8

_PAIR_DOT = (
    "SUM(CAST(CAST({l}.embedding[ix.i] AS DOUBLE) AS DECIMAL(9,7))"
    " * CAST(CAST({r}.embedding[ix.i] AS DOUBLE) AS DECIMAL(9,7)))"
)


def _ivf_oracle() -> str:
    return f"""
WITH {_NORMS_SQL},
bc AS (
    SELECT b.vec_id, c.vec_id AS cid, {_PAIR_DOT.format(l="b", r="c")} AS dot
    FROM embeddings b, embeddings c, ix
    WHERE c.vec_id < {IVF_N_CENTROIDS}
    GROUP BY 1, 2
), bscore AS (
    SELECT bc.vec_id, bc.cid,
           CAST(floor(1000000000.0 * CAST(bc.dot AS DOUBLE)
                / sqrt(CAST(nb.n2 AS DOUBLE) * CAST(nc.n2 AS DOUBLE)))
                AS BIGINT) AS ce9
    FROM bc
    JOIN norms nb ON bc.vec_id = nb.vec_id
    JOIN norms nc ON bc.cid = nc.vec_id
), assign AS (
    SELECT vec_id, cid AS cell FROM (
        SELECT *, row_number() OVER (
            PARTITION BY vec_id ORDER BY ce9 DESC, cid) AS rn
        FROM bscore
    ) WHERE rn = 1
), probes AS (
    SELECT vec_id AS query_vec_id, cid AS cell FROM (
        SELECT *, row_number() OVER (
            PARTITION BY vec_id ORDER BY ce9 DESC, cid) AS rn
        FROM bscore WHERE vec_id < {ANN_N_QUERIES}
    ) WHERE rn <= {IVF_NPROBE}
), cand AS (
    SELECT p.query_vec_id, a.vec_id AS neighbor_vec_id
    FROM probes p JOIN assign a ON p.cell = a.cell
    WHERE a.vec_id <> p.query_vec_id
), qd AS (
    SELECT c.query_vec_id, c.neighbor_vec_id,
           {_PAIR_DOT.format(l="q", r="n")} AS dot
    FROM cand c
    JOIN embeddings q ON q.vec_id = c.query_vec_id
    JOIN embeddings n ON n.vec_id = c.neighbor_vec_id, ix
    GROUP BY 1, 2
), scored AS (
    SELECT qd.query_vec_id, qd.neighbor_vec_id,
           CAST(floor(1000000000.0 * CAST(qd.dot AS DOUBLE)
                / sqrt(CAST(nq.n2 AS DOUBLE) * CAST(nn.n2 AS DOUBLE)))
                AS BIGINT) AS cos_sim_e9
    FROM qd
    JOIN norms nq ON qd.query_vec_id = nq.vec_id
    JOIN norms nn ON qd.neighbor_vec_id = nn.vec_id
)
SELECT query_vec_id, neighbor_vec_id, rank, cos_sim_e9 FROM (
    SELECT *, CAST(row_number() OVER (
        PARTITION BY query_vec_id
        ORDER BY cos_sim_e9 DESC, neighbor_vec_id) AS BIGINT) AS rank
    FROM scored
) WHERE rank <= {IVF_TOPK}
"""


def _group_identical(embn: DataFrame) -> DataFrame:
    """SemDeDup step 0, shared by both near-dup generators: collapse
    byte-identical vectors into one row per distinct value — rep id = min
    member, members sorted for deterministic expansion. Checkpointed
    because it feeds both the rep mining and the membership expansion
    (Spark normalizes -0.0 in grouping keys; both engines' dots agree for
    either zero)."""
    spread = embn.sparkSession.sparkContext.defaultParallelism
    return (
        embn.groupBy("embedding", "n2")
        .agg(
            F.min("vec_id").alias("vec_id"),
            F.sort_array(F.collect_list("vec_id")).alias("members"),
        )
        # AQE coalesces the tiny-BYTES agg output to one partition, but
        # every downstream consumer is compute-bound (K decimal dots per
        # row) — spread the reps across cores before checkpointing so the
        # assignment pass parallelizes (explicit repartition: AQE leaves
        # user-specified partitioning alone)
        .repartition(spread)
        .localCheckpoint(eager=True)
    )


def _within_group_pairs(grouped: DataFrame) -> DataFrame:
    """All (x < y) member pairs inside each identical-vector group.
    Identical vectors always share their home bucket/cell, so every member
    pair is a candidate in both generators; the score is the SAME
    expression the pair join computes (dot(e, e) == n2 by construction),
    so floor/NULL behavior matches the uncompressed twin bit-for-bit
    (zero-norm vectors drop identically on both paths)."""
    return (
        grouped.filter(F.size("members") >= 2)
        .select(
            cos_e9(F.col("n2"), F.col("n2"), F.col("n2")).alias("cos_sim_e9"),
            F.explode("members").alias("vec_a"),
            F.col("members").alias("mb"),
        )
        .select("cos_sim_e9", "vec_a", F.explode("mb").alias("vec_b"))
        .filter(F.col("vec_a") < F.col("vec_b"))
        .filter(F.col("cos_sim_e9") >= NEARDUP_THRESHOLD_E9)
        .select("vec_a", "vec_b", "cos_sim_e9")
    )


def _topcells(embn: DataFrame, cent: DataFrame, nprobe: int, dot=None) -> DataFrame:
    """Map-only top-``nprobe`` coarse-quantizer assignment.

    The crossJoin + row_number form materializes N x K scored rows and
    shuffle-sorts them through a ``Window.partitionBy(vec_id)``; under the
    sqrt(N)-centroid scale rule that is an N^1.5-row SHUFFLE (465 M rows at
    sf0.1 x10 — the bulk of embedding_cells' 254 s measurement, and pure
    overhead: the scores are already grouped by vector when produced). Here
    the K centroids collapse into ONE broadcast array row; each vector
    computes its K scores and ranks them IN-ROW —
    ``reverse(array_sort(struct(ce9, -cid)))`` reproduces the oracle's
    ``ce9 DESC, cid ASC`` order exactly — keeping the top ``nprobe``. No
    scored-row materialization, no Window, no Exchange: assignment is pure
    map-side compute at any corpus size, the plan shape a 1000-executor
    cluster wants.

    ``cent`` must expose (cid, ce, cn2); ``dot(embedding, ce)`` defaults to
    the exact-decimal ``dot_dec``. Returns ``embn``'s rows plus ``_top``:
    array<struct<ce9, negcid>> of length <= nprobe (cell id = -negcid).

    Cost shape (default dot only): one in-row decimal pass over the K
    cells, both sides quantized ONCE (``qdec`` per row / per broadcast
    build) so the fold is one multiply + accumulate per element. The r5
    double-prerank wrapper was reverted in round 8 — measured slower at
    every tested scale because its per-row sort carried each cell's full
    quantized array (see the inline comment). Bit-identity of the
    quantize-once fold vs the inline per-pair recast form is guarded by
    ``test_topcells_quantize_once_matches_inline_decimal``.
    """
    custom_dot = dot is not None
    if custom_dot:
        # caller-supplied dot: no double twin to prerank with — one pass
        cent_arr = cent.agg(
            F.collect_list(F.struct("cid", "ce", "cn2")).alias("_cents")
        )
        return (
            embn.crossJoin(F.broadcast(cent_arr))
            .withColumn(
                "_top",
                F.slice(
                    F.reverse(
                        F.array_sort(
                            F.transform(
                                "_cents",
                                lambda c: F.struct(
                                    cos_e9(
                                        dot(F.col("embedding"), c["ce"]),
                                        F.col("n2"),
                                        c["cn2"],
                                    ).alias("ce9"),
                                    (-c["cid"]).alias("negcid"),
                                ),
                            )
                        )
                    ),
                    1,
                    nprobe,
                ),
            )
            .drop("_cents")
        )
    # default exact-decimal dot: ONE in-row decimal pass, quantizing each
    # side ONCE (the vector per row, the centroids per broadcast build) so
    # the fold is one multiply + accumulate per element — no per-(row,
    # cell) casts. Round 8 reverted the r5 double-prerank + margin-rescore
    # wrapper here: isolated warm A/B at sf0.1×10 (K=16) measured the
    # one-pass form FASTER (1.29 vs 1.41 s assignment-only) because the
    # prerank's array_sort carried each cell's full 64-element decimal
    # array (cq) through the per-row sort — more data movement than the
    # decimal arithmetic it saved (the decimal:double fold cost ratio
    # measured ~1.5x, not the 10-30x the margin design assumed). The
    # prerank survives where it genuinely pays: the brute-force pair
    # scorers gate BigDecimal work per PAIR (llm_neardup_recall,
    # embedding_cells' pair scoring), not per cell-assignment.
    cent_arr = cent.withColumn("cq", qdec(F.col("ce"))).agg(
        F.collect_list(F.struct("cid", "cn2", "cq")).alias("_cents")
    )
    return (
        embn.crossJoin(F.broadcast(cent_arr))
        .withColumn("_qe", qdec(F.col("embedding")))
        .withColumn(
            "_top",
            F.slice(
                F.reverse(
                    F.array_sort(
                        F.transform(
                            "_cents",
                            lambda c: F.struct(
                                cos_e9(
                                    dot_q(F.col("_qe"), c["cq"]),
                                    F.col("n2"),
                                    c["cn2"],
                                ).alias("ce9"),
                                (-c["cid"]).alias("negcid"),
                            ),
                        )
                    )
                ),
                1,
                nprobe,
            ),
        )
        .drop("_cents", "_qe")
    )


def _top_cell(col: str = "_top") -> Column:
    """The argmax cell id from a ``_topcells`` result (rank-1 assignment)."""
    return -F.element_at(col, 1)["negcid"]


def _probe_cells(col: str = "_top") -> Column:
    """All probed cell ids from a ``_topcells`` result, rank order."""
    return F.transform(col, lambda s: -s["negcid"])


@query("llm_ann_ivf", oracle=_ivf_oracle(), tags=("llm-similarity",))
def llm_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) approximate nearest neighbor.

    Train-free coarse quantizer: the first 16 vectors are the centroids
    (deterministic); every base vector is assigned to its nearest centroid
    cell (argmax cosine, id tie-break); each query probes its nprobe=2
    nearest cells and reranks exactly inside them. Compare with
    llm_ann_cosine_topk (the brute-force twin) for recall.

    Scale path: centroids broadcast to assignment (N x K dots, map-only);
    the cell id becomes the co-partition key so probe->candidate matching
    is one shuffle on a low-cardinality key; exact rerank touches only
    nprobe/K of the base — the IVF contract. Norms are FUSED into the
    base scan (n2 computed in the same projection as the assignment
    dots), so the whole assignment stage is one pass over the
    embeddings with zero extra joins.
    """
    emb = T.load(spark, sf_dir, "embeddings")
    embn = emb.select(
        "vec_id",
        "embedding",
        dot_dec(F.col("embedding"), F.col("embedding")).alias("n2"),
    )
    cent = embn.filter(F.col("vec_id") < IVF_N_CENTROIDS).select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("ce"),
        F.col("n2").alias("cn2"),
    )
    # the SKINNY (vec_id, _top) assignment is checkpointed: it has two
    # consumers (cell membership + query probes) and is much smaller than
    # what derives it (the K decimal dots per row over the full embedding
    # array — the catalog checkpoint rule). Without this, Catalyst
    # re-derives the whole assignment pass once per consumer (measured:
    # the bulk of ivf's r5->r7 slowdown at x10; trained_recall has
    # checkpointed its assignment since r4).
    top = (
        _topcells(embn, cent, IVF_NPROBE)
        .select("vec_id", "_top")
        .localCheckpoint(eager=True)
    )
    assign = top.select("vec_id", _top_cell().alias("cell"))
    probes = top.filter(F.col("vec_id") < ANN_N_QUERIES).select(
        F.col("vec_id").alias("query_vec_id"),
        F.explode(_probe_cells()).alias("cell"),
    )
    cand = probes.join(assign, "cell").filter(
        F.col("vec_id") != F.col("query_vec_id")
    ).select("query_vec_id", F.col("vec_id").alias("neighbor_vec_id"))
    # rerank sides carry the ONCE-quantized arrays (qdec): candidates are
    # a constant fraction of the base (nprobe/K), so per-row quantization
    # below the join beats per-pair re-casting inside the dot by ~6x
    qe = embn.filter(F.col("vec_id") < ANN_N_QUERIES).select(
        F.col("vec_id").alias("query_vec_id"),
        qdec(F.col("embedding")).alias("qeq"),
        F.col("n2").alias("qn2"),
    )
    ne = embn.select(
        F.col("vec_id").alias("neighbor_vec_id"),
        qdec(F.col("embedding")).alias("neq"),
        F.col("n2").alias("nn2"),
    )
    scored = (
        cand.join(F.broadcast(qe), "query_vec_id")
        .join(ne, "neighbor_vec_id")
        .select(
            "query_vec_id",
            "neighbor_vec_id",
            cos_e9(
                dot_q(F.col("qeq"), F.col("neq")), F.col("qn2"), F.col("nn2")
            ).alias("cos_sim_e9"),
        )
    )
    # two-phase exact ranked top-k (r12): the IVF candidate set is
    # ~nprobe/k_cells of the corpus per query — a single qid window
    # would rank it 8-way-parallel at any cluster size
    return ranked_topk_per_query(
        scored,
        "query_vec_id",
        "neighbor_vec_id",
        F.col("cos_sim_e9").desc(),
        IVF_TOPK,
    ).select("query_vec_id", "neighbor_vec_id", "rank", "cos_sim_e9")


def llm_ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the IVF index against the brute-force exact top-k.

    The self-evaluation every ANN deployment needs: per query, how many of
    the true top-5 neighbors the nprobe=2 cell search recovered (exact
    integer per-mille). At scale this runs on a sampled query set; both
    sides are existing registered plans, so the metric is one left join.

    FOLDED round 7 (registry-size discipline, r6 verdict item 3): this was
    a pure honesty twin — ``llm_ann_ivf_trained_recall`` already reports
    the identical seed-index metric as its ``recall_seed_pm`` /
    ``hits_seed`` columns (driver-gated green r04 there and here). The
    function stays as the un-registered engine behind
    ``test_ivf_recall_floor``; the driver-facing surface is the trained
    query's seed columns.
    """
    brute = llm_ann_cosine_topk(spark, sf_dir).select(
        "query_vec_id", "neighbor_vec_id"
    )
    ivf = llm_ann_ivf(spark, sf_dir).select(
        "query_vec_id", F.col("neighbor_vec_id").alias("ivf_neighbor")
    )
    joined = brute.join(
        ivf,
        (brute.query_vec_id == ivf.query_vec_id)
        & (brute.neighbor_vec_id == ivf.ivf_neighbor),
        "left",
    ).select(brute.query_vec_id.alias("qid"), "ivf_neighbor")
    return joined.groupBy(F.col("qid").alias("query_vec_id")).agg(
        F.count(F.lit(1)).alias("k"),
        F.count("ivf_neighbor").alias("hits"),
        F.expr("(1000 * count(ivf_neighbor)) div count(1)").alias(
            "recall_permille"
        ),
    )


NEARDUP_RECALL_ANCHORS = 64
CELLS_NPROBE = 2


def _cells_pair_sql() -> str:
    """Centroid-cell candidate pairs (SemDeDup-style cluster-then-dedup):
    assignment CTEs shared with the IVF oracle shape. The centroid count
    GROWS with the corpus — greatest(16, floor(sqrt(N))) — so cell
    population stays ~sqrt(N) and within-cell pair work stays ~N^1.5
    (fixed k degenerates to O(N²/k): the r4 full-registry scale run
    measured 2,116 s at ×10 with k=16). floor(sqrt(N)) is engine-portable
    because IEEE-754 sqrt is correctly rounded in both engines (exact on
    representable squares)."""
    return f"""
kc AS (
    SELECT GREATEST({IVF_N_CENTROIDS},
                    CAST(floor(sqrt(COUNT(*))) AS BIGINT)) AS k
    FROM embeddings
),
cbc AS (
    SELECT b.vec_id, c.vec_id AS cid, {_PAIR_DOT.format(l="b", r="c")} AS dot
    FROM embeddings b, embeddings c, ix
    WHERE c.vec_id < (SELECT k FROM kc)
    GROUP BY 1, 2
), cbs AS (
    SELECT cbc.vec_id, cbc.cid,
           CAST(floor(1000000000.0 * CAST(cbc.dot AS DOUBLE)
                / sqrt(CAST(nb.n2 AS DOUBLE) * CAST(nc.n2 AS DOUBLE)))
                AS BIGINT) AS ce9
    FROM cbc
    JOIN norms nb ON cbc.vec_id = nb.vec_id
    JOIN norms nc ON cbc.cid = nc.vec_id
), cranked AS (
    SELECT vec_id, cid, row_number() OVER (
        PARTITION BY vec_id ORDER BY ce9 DESC, cid) AS rn
    FROM cbs
), cassign AS (
    SELECT vec_id, cid AS cell FROM cranked WHERE rn = 1
), cprobes AS (
    SELECT vec_id, cid AS cell FROM cranked WHERE rn <= {CELLS_NPROBE}
), ccand AS (
    SELECT p.vec_id AS vec_a, h.vec_id AS vec_b
    FROM cprobes p JOIN cassign h ON p.cell = h.cell AND p.vec_id < h.vec_id
)"""


_CELLS_SCORED_SQL = f"""
cpair AS (
    SELECT c.vec_a, c.vec_b,
           SUM(CAST(CAST(a.embedding[ix.i] AS DOUBLE) AS DECIMAL(9,7))
               * CAST(CAST(b.embedding[ix.i] AS DOUBLE) AS DECIMAL(9,7))) AS dot
    FROM ccand c
    JOIN embeddings a ON c.vec_a = a.vec_id
    JOIN embeddings b ON c.vec_b = b.vec_id, ix
    GROUP BY 1, 2
), cscored AS (
    SELECT p.vec_a, p.vec_b,
           CAST(floor(1000000000.0 * CAST(p.dot AS DOUBLE)
                / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)))
                AS BIGINT) AS cos_sim_e9
    FROM cpair p
    JOIN norms na ON p.vec_a = na.vec_id
    JOIN norms nb ON p.vec_b = nb.vec_id
)"""


@query(
    "llm_dedup_embedding_cells",
    oracle=f"""
WITH {_NORMS_SQL},
{_cells_pair_sql().lstrip()},
{_CELLS_SCORED_SQL.lstrip()}
SELECT vec_a, vec_b, cos_sim_e9 FROM cscored
WHERE cos_sim_e9 >= {NEARDUP_THRESHOLD_E9}
""",
    tags=("llm-dedup", "llm-similarity"),
)
def llm_dedup_embedding_cells(
    spark: SparkSession, sf_dir: str, *, compress_exact: bool = True
) -> DataFrame:
    """Embedding similar-pair mining via centroid cells — the SemDeDup
    cluster-then-dedup pattern (Abbas et al. 2023): quantize every vector
    to its nearest centroid (the IVF coarse quantizer, broadcast + fused
    norms), probe nprobe=2 cells, exact cosine only on same-cell pairs.

    This is the LOOSE-threshold complement to the sign-LSH path: at
    similarity thresholds well below 1 (here 0.30), hyperplane-sign
    collisions are rare (P(agree) = (1 - theta/pi)^n_planes), while
    centroid locality still captures a measured ~1/3 of true pairs
    (llm_neardup_recall) at a bounded cost of ~nprobe * N^2 / k
    comparisons. Scale rule — IMPLEMENTED since r4, not just stated:
    k = greatest(16, floor(sqrt(N))) centroids, so cells hold ~sqrt(N)
    vectors and total within-cell work is ~N^1.5 (with k fixed at 16 the
    ×10 scale run measured 2,116 s — O(N²/k) in action). The corpus count
    is read once driver-side (one count scan; table stats at production);
    floor(sqrt(N)) matches the oracle's because IEEE sqrt is correctly
    rounded in both engines. SemDeDup itself accepts exactly this
    partial-recall contract for corpus dedup; see
    llm_embedding_kmeans_step for training the centroids rather than
    seeding them.

    ``compress_exact`` (default, the production form) runs SemDeDup's
    step 0 first: byte-identical vectors share their assignment and every
    pairwise score, so mining runs on one REPRESENTATIVE per distinct
    vector and the result expands back through group membership — cost
    drops by the duplicate-factor SQUARED wherever exact dups exist (a
    crawl corpus always has them; the x10 scale replicas model exactly
    this). Semantics are pair-for-pair identical: candidacy is a function
    of probe/home cells (identical per group), scores are the same
    expression on the same values, and the a<b emission rule — pair
    (x, y), x<y is emitted iff home(y) is probed by x — is preserved by
    tracking BOTH directed rep-level candidacies (x<y inside a rep pair
    does not imply rep_a<rep_b). Equality with the uncompressed twin is
    pinned by test_cells_exact_compression_matches_uncompressed on
    dup-heavy synthetic data; the uncompressed path remains for corpora
    known dup-free (it scores each undirected candidate once, vs up to
    twice for the directed rep form).
    """
    import math

    emb = T.load(spark, sf_dir, "embeddings")
    embn = emb.select(
        "vec_id",
        "embedding",
        dot_dec(F.col("embedding"), F.col("embedding")).alias("n2"),
    )
    k_cells = max(IVF_N_CENTROIDS, math.floor(math.sqrt(emb.count())))
    cent = embn.filter(F.col("vec_id") < k_cells).select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("ce"),
        F.col("n2").alias("cn2"),
    )
    if not compress_exact:
        # Map-only top-nprobe assignment (no N x K row shuffle —
        # _topcells), checkpointed WITH the vector payload so (a) the
        # sqrt(N) x D dots run once, not once per join side, and (b) the
        # cell join carries the embeddings along: each pair is scored IN
        # the join projection and immediately threshold-filtered, so the
        # ~N^1.5 within-cell pair space exists only transiently inside
        # the join operator — never shuffled, never joined back against
        # the corpus. The only exchange is the embeddings, once, keyed by
        # cell — balanced by construction (cells hold ~sqrt(N) vectors).
        top = (
            _topcells(embn, cent, CELLS_NPROBE)
            .select("vec_id", "embedding", "n2", _probe_cells().alias("cells"))
            .localCheckpoint(eager=True)
        )
        pa = top.select(
            F.col("vec_id").alias("vec_a"),
            F.col("embedding").alias("ea"),
            F.col("n2").alias("na2"),
            F.explode("cells").alias("cell"),
        )
        ab = top.select(
            F.col("vec_id").alias("vec_b"),
            F.col("embedding").alias("eb"),
            F.col("n2").alias("nb2"),
            F.element_at("cells", 1).alias("cell"),
        )
        return (
            pa.join(ab, "cell")
            .filter(F.col("vec_a") < F.col("vec_b"))
            .select(
                "vec_a",
                "vec_b",
                # double pre-score gates the exact-decimal rescore per row
                # (F.when short-circuits, so BigDecimal work runs only on
                # the ~margin-wide survivor set — the candidate space is
                # scored in cheap doubles, emitted values stay decimal-
                # exact; see PRESCORE_MARGIN_E9 for the proof sketch)
                F.when(
                    cos_e9(
                        dot_dbl(F.col("ea"), F.col("eb")),
                        F.col("na2"),
                        F.col("nb2"),
                    )
                    >= NEARDUP_THRESHOLD_E9 - PRESCORE_MARGIN_E9,
                    cos_e9(
                        dot_dec(F.col("ea"), F.col("eb")),
                        F.col("na2"),
                        F.col("nb2"),
                    ),
                ).alias("cos_sim_e9"),
            )
            .filter(F.col("cos_sim_e9") >= NEARDUP_THRESHOLD_E9)
        )
    # --- SemDeDup step 0: collapse byte-identical vectors --------------
    grouped = _group_identical(embn)
    top = (
        _topcells(grouped.select("vec_id", "embedding", "n2"), cent, CELLS_NPROBE)
        .select("vec_id", "embedding", "n2", _probe_cells().alias("cells"))
        .localCheckpoint(eager=True)
    )
    # DIRECTED rep-level candidates: (rep_a -> rep_b) exists iff rep_b's
    # home cell is probed by rep_a — the emission rule needs both
    # directions because member order within a rep pair can go either
    # way. Scored in the join projection, thresholded BEFORE expansion.
    pa = top.select(
        F.col("vec_id").alias("rep_a"),
        F.col("embedding").alias("ea"),
        F.col("n2").alias("na2"),
        F.explode("cells").alias("cell"),
    )
    ab = top.select(
        F.col("vec_id").alias("rep_b"),
        F.col("embedding").alias("eb"),
        F.col("n2").alias("nb2"),
        F.element_at("cells", 1).alias("cell"),
    )
    cand = (
        pa.join(ab, "cell")
        .filter(F.col("rep_a") != F.col("rep_b"))
        .select(
            "rep_a",
            "rep_b",
            # double pre-score gating the exact-decimal rescore — see the
            # uncompressed branch / PRESCORE_MARGIN_E9 for the bound
            F.when(
                cos_e9(
                    dot_dbl(F.col("ea"), F.col("eb")),
                    F.col("na2"),
                    F.col("nb2"),
                )
                >= NEARDUP_THRESHOLD_E9 - PRESCORE_MARGIN_E9,
                cos_e9(
                    dot_dec(F.col("ea"), F.col("eb")), F.col("na2"), F.col("nb2")
                ),
            ).alias("cos_sim_e9"),
        )
        .filter(F.col("cos_sim_e9") >= NEARDUP_THRESHOLD_E9)
    )
    # Cross-group expansion: directed (rep_a -> rep_b) emits every
    # (x in A, y in B) with x < y — the two directions partition the
    # member-pair space, so no dedup is needed.
    ga = grouped.select(F.col("vec_id").alias("rep_a"), F.col("members").alias("ma"))
    gb = grouped.select(F.col("vec_id").alias("rep_b"), F.col("members").alias("mb"))
    cross = (
        cand.join(ga, "rep_a")
        .join(gb, "rep_b")
        .select("cos_sim_e9", F.explode("ma").alias("vec_a"), "mb")
        .select("cos_sim_e9", "vec_a", F.explode("mb").alias("vec_b"))
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", "cos_sim_e9")
    )
    return cross.unionByName(_within_group_pairs(grouped))


def _neardup_recall_oracle() -> str:
    lsh = REGISTRY["llm_dedup_embedding_cosine"].oracle
    cells = REGISTRY["llm_dedup_embedding_cells"].oracle
    return f"""
WITH {_NORMS_SQL},
tp AS (
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           SUM(CAST(CAST(a.embedding[ix.i] AS DOUBLE) AS DECIMAL(9,7))
               * CAST(CAST(b.embedding[ix.i] AS DOUBLE) AS DECIMAL(9,7))) AS dot
    FROM embeddings a JOIN embeddings b ON b.vec_id > a.vec_id, ix
    WHERE a.vec_id < {NEARDUP_RECALL_ANCHORS}
    GROUP BY 1, 2
), true_pairs AS (
    SELECT tp.vec_a, tp.vec_b FROM tp
    JOIN norms na ON tp.vec_a = na.vec_id
    JOIN norms nb ON tp.vec_b = nb.vec_id
    WHERE CAST(floor(1000000000.0 * CAST(tp.dot AS DOUBLE)
               / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)))
               AS BIGINT) >= {NEARDUP_THRESHOLD_E9}
), lsh_found AS (
    SELECT vec_a, vec_b FROM ({lsh})
    WHERE vec_a < {NEARDUP_RECALL_ANCHORS}
), cells_found AS (
    SELECT vec_a, vec_b FROM ({cells})
    WHERE vec_a < {NEARDUP_RECALL_ANCHORS}
)
SELECT 'sign_lsh' AS method,
       CAST(COUNT(*) AS BIGINT)       AS n_true,
       CAST(COUNT(f.vec_a) AS BIGINT) AS n_found,
       (1000 * COUNT(f.vec_a)) // COUNT(*) AS recall_permille
FROM true_pairs t
LEFT JOIN lsh_found f ON t.vec_a = f.vec_a AND t.vec_b = f.vec_b
UNION ALL
SELECT 'centroid_cells' AS method,
       CAST(COUNT(*) AS BIGINT)       AS n_true,
       CAST(COUNT(f.vec_a) AS BIGINT) AS n_found,
       (1000 * COUNT(f.vec_a)) // COUNT(*) AS recall_permille
FROM true_pairs t
LEFT JOIN cells_found f ON t.vec_a = f.vec_a AND t.vec_b = f.vec_b
"""


@query(
    "llm_neardup_recall",
    oracle=_neardup_recall_oracle(),
    tags=("llm-dedup", "llm-similarity"),
)
def llm_neardup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall self-measurement for BOTH sub-quadratic near-dup candidate
    generators, against the exact brute-force pair set over an anchor
    sample (vec_id < 64; anchors x base stays broadcastable — never
    base x base).

    The ivf_recall pattern applied to dedup: a production dedup pipeline
    must publish its measured recall. On this data (loose 0.30 threshold,
    no true near-identical pairs) sign-LSH recalls ~1% — hyperplane
    collisions need near-identical vectors — while centroid cells recall
    ~33%; the docstrings of both generators state which regime each
    serves. One row per method: n_true, n_found, recall per-mille.
    """
    emb = T.load(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") < NEARDUP_RECALL_ANCHORS).select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"),
        # 64 broadcast rows: both norm flavors computed once per anchor
        dot_dec(F.col("embedding"), F.col("embedding")).alias("na2"),
        dot_dbl(F.col("embedding"), F.col("embedding")).alias("na2d"),
    )
    true_pairs = (
        F.broadcast(anchors)
        .join(emb, F.col("vec_id") > F.col("vec_a"))
        .select(
            "vec_a",
            F.col("vec_id").alias("vec_b"),
            # ALL-double pre-score (dot and base norm) gating the
            # exact-decimal rescore: the anchors x base pass is the
            # dominant arithmetic here, and no decimal fold touches the
            # full base — base-side decimal norms run only inside the
            # when-branch, i.e. for margin survivors (see
            # PRESCORE_MARGIN_E9 for the double-norm bound)
            F.when(
                cos_e9(
                    dot_dbl(F.col("ea"), F.col("embedding")),
                    F.col("na2d"),
                    dot_dbl(F.col("embedding"), F.col("embedding")),
                )
                >= NEARDUP_THRESHOLD_E9 - PRESCORE_MARGIN_E9,
                cos_e9(
                    dot_dec(F.col("ea"), F.col("embedding")),
                    F.col("na2"),
                    dot_dec(F.col("embedding"), F.col("embedding")),
                ),
            ).alias("cos_sim_e9"),
        )
        .filter(F.col("cos_sim_e9") >= NEARDUP_THRESHOLD_E9)
        .select("vec_a", "vec_b")
        # consumed once per measured method — localCheckpoint so the
        # broadcast anchors x base scoring pass runs once, not twice
        .localCheckpoint(eager=True)
    )

    def measure(found: DataFrame, method: str) -> DataFrame:
        f = found.filter(F.col("vec_a") < NEARDUP_RECALL_ANCHORS).select(
            F.col("vec_a").alias("fa"), F.col("vec_b").alias("fb")
        )
        joined = true_pairs.join(
            f,
            (true_pairs.vec_a == f.fa) & (true_pairs.vec_b == f.fb),
            "left",
        )
        return joined.agg(
            F.lit(method).alias("method"),
            F.count(F.lit(1)).alias("n_true"),
            F.count("fb").alias("n_found"),
            F.expr("(1000 * count(fb)) div count(1)").alias("recall_permille"),
        )

    return measure(
        llm_dedup_embedding_cosine(spark, sf_dir), "sign_lsh"
    ).unionByName(measure(llm_dedup_embedding_cells(spark, sf_dir), "centroid_cells"))



def _kmeans_step_oracle() -> str:
    return f"""
WITH {_NORMS_SQL},
bc AS (
    SELECT b.vec_id, c.vec_id AS cid, {_PAIR_DOT.format(l="b", r="c")} AS dot
    FROM embeddings b, embeddings c, ix
    WHERE c.vec_id < {IVF_N_CENTROIDS}
    GROUP BY 1, 2
), bscore AS (
    SELECT bc.vec_id, bc.cid,
           CAST(floor(1000000000.0 * CAST(bc.dot AS DOUBLE)
                / sqrt(CAST(nb.n2 AS DOUBLE) * CAST(nc.n2 AS DOUBLE)))
                AS BIGINT) AS ce9
    FROM bc
    JOIN norms nb ON bc.vec_id = nb.vec_id
    JOIN norms nc ON bc.cid = nc.vec_id
), assign AS (
    SELECT vec_id, cid AS cell FROM (
        SELECT *, row_number() OVER (
            PARTITION BY vec_id ORDER BY ce9 DESC, cid) AS rn
        FROM bscore
    ) WHERE rn = 1
), mem AS (
    SELECT a.cell, e.embedding FROM assign a
    JOIN embeddings e ON a.vec_id = e.vec_id
)
SELECT cell, ix.i AS dim_idx,
       COUNT(*) AS n_members,
       CAST(SUM(CAST(CAST(embedding[ix.i] AS DOUBLE) AS DECIMAL(9,7)))
            AS DOUBLE) AS dim_sum
FROM mem, ix
GROUP BY 1, 2
"""


@query("llm_embedding_kmeans_step", oracle=_kmeans_step_oracle(), tags=("llm-similarity",))
def llm_embedding_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One k-means (Lloyd) iteration in sufficient-statistics form: assign
    every vector to its nearest centroid (IVF's quantizer) and emit per
    (cell, dimension) the member count + exact component sum.

    Sum+count, not mean: the mergeable map-side-combinable statistic every
    distributed k-means shuffles (means divide at the driver). The driver
    loop re-broadcasts updated centroids per iteration — the SURVEY's
    'iterative algorithm' pattern with one scan + one low-cardinality
    shuffle per step. Exact decimal sums -> one rounded double, so the
    step is engine-reproducible.
    """
    emb = T.load(spark, sf_dir, "embeddings")
    embn = emb.select(
        "vec_id",
        "embedding",
        dot_dec(F.col("embedding"), F.col("embedding")).alias("n2"),
    )
    cent = embn.filter(F.col("vec_id") < IVF_N_CENTROIDS).select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("ce"),
        F.col("n2").alias("cn2"),
    )
    # norms fused into the assignment scan; map-only argmax (_topcells) —
    # the assignment never leaves the projection, so the Lloyd step is
    # exactly one scan + the (cell, dim) aggregation shuffle
    mem = _topcells(embn, cent, 1).select(
        _top_cell().alias("cell"), "embedding"
    )
    comp = mem.select(
        "cell", F.posexplode("embedding").alias("pos", "val")
    )
    return comp.groupBy("cell", (F.col("pos") + 1).alias("dim_idx")).agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum(F.col("val").cast("double").cast(VEC_DEC)).cast("double").alias("dim_sum"),
    )


# ---------------------------------------------------------------------------
# Trained-centroid IVF — one Lloyd refinement of the seed quantizer, then
# the same nprobe search, with recall measured side-by-side against the
# train-free index. Centroids are per-cell component SUMS, not means:
# cosine is scale-invariant, so skipping the division keeps the entire
# training + assignment chain in exact decimals (order-independent sums
# on both engines — no float accumulation, no rounding-mode divergence).
# ---------------------------------------------------------------------------
CENT_DEC = "decimal(19,7)"  # per-cell component sums (wider than VEC_DEC)


def _trained_ivf_topk_sql() -> str:
    """CTEs seed-assign -> sum-centroids -> re-assign -> nprobe rerank."""
    return f"""
sbc AS (
    SELECT b.vec_id, c.vec_id AS cid, {_PAIR_DOT.format(l="b", r="c")} AS dot
    FROM embeddings b, embeddings c, ix
    WHERE c.vec_id < {IVF_N_CENTROIDS}
    GROUP BY 1, 2
), sbs AS (
    SELECT sbc.vec_id, sbc.cid,
           CAST(floor(1000000000.0 * CAST(sbc.dot AS DOUBLE)
                / sqrt(CAST(nb.n2 AS DOUBLE) * CAST(nc.n2 AS DOUBLE)))
                AS BIGINT) AS ce9
    FROM sbc
    JOIN norms nb ON sbc.vec_id = nb.vec_id
    JOIN norms nc ON sbc.cid = nc.vec_id
), sranked AS (
    SELECT vec_id, cid, row_number() OVER (
        PARTITION BY vec_id ORDER BY ce9 DESC, cid) AS rn
    FROM sbs
), sassign AS (
    SELECT vec_id, cid AS cell FROM sranked WHERE rn = 1
), cent1 AS (
    SELECT a.cell, ix.i,
           CAST(SUM(CAST(CAST(e.embedding[ix.i] AS DOUBLE) AS DECIMAL(9,7)))
                AS DECIMAL(19,7)) AS m
    FROM sassign a JOIN embeddings e ON a.vec_id = e.vec_id, ix
    GROUP BY 1, 2
), cn2 AS (
    SELECT cell, SUM(m * m) AS n2 FROM cent1 GROUP BY 1
), tdot AS (
    SELECT e.vec_id, c.cell,
           SUM(CAST(CAST(e.embedding[c.i] AS DOUBLE) AS DECIMAL(9,7)) * c.m)
               AS dot
    FROM embeddings e, cent1 c
    GROUP BY 1, 2
), tscore AS (
    SELECT t.vec_id, t.cell,
           CAST(floor(1000000000.0 * CAST(t.dot AS DOUBLE)
                / sqrt(CAST(nb.n2 AS DOUBLE) * CAST(c2.n2 AS DOUBLE)))
                AS BIGINT) AS ce9
    FROM tdot t
    JOIN norms nb ON t.vec_id = nb.vec_id
    JOIN cn2 c2 ON t.cell = c2.cell
), tranked AS (
    SELECT vec_id, cell, row_number() OVER (
        PARTITION BY vec_id ORDER BY ce9 DESC, cell) AS rn
    FROM tscore
), tassign AS (
    SELECT vec_id, cell FROM tranked WHERE rn = 1
), tprobes AS (
    SELECT vec_id AS query_vec_id, cell FROM tranked
    WHERE vec_id < {ANN_N_QUERIES} AND rn <= {IVF_NPROBE}
), tcand AS (
    SELECT p.query_vec_id, a.vec_id AS neighbor_vec_id
    FROM tprobes p JOIN tassign a ON p.cell = a.cell
    WHERE a.vec_id <> p.query_vec_id
), tpair AS (
    SELECT c.query_vec_id, c.neighbor_vec_id,
           {_PAIR_DOT.format(l="q", r="b")} AS dot
    FROM tcand c
    JOIN embeddings q ON c.query_vec_id = q.vec_id
    JOIN embeddings b ON c.neighbor_vec_id = b.vec_id, ix
    GROUP BY 1, 2
), tscored AS (
    SELECT p.query_vec_id, p.neighbor_vec_id,
           CAST(floor(1000000000.0 * CAST(p.dot AS DOUBLE)
                / sqrt(CAST(nq.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)))
                AS BIGINT) AS cos_sim_e9
    FROM tpair p
    JOIN norms nq ON p.query_vec_id = nq.vec_id
    JOIN norms nb ON p.neighbor_vec_id = nb.vec_id
), ttopk AS (
    SELECT query_vec_id, neighbor_vec_id FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_vec_id
            ORDER BY cos_sim_e9 DESC, neighbor_vec_id) AS rank
        FROM tscored
    ) WHERE rank <= {IVF_TOPK}
)"""


def _trained_recall_oracle() -> str:
    brute = REGISTRY["llm_ann_cosine_topk"].oracle
    seed = _ivf_oracle()
    return f"""
WITH {_NORMS_SQL},
{_trained_ivf_topk_sql().lstrip()},
brute AS ({brute}),
seed AS ({seed})
SELECT b.query_vec_id,
       COUNT(*)                        AS k,
       COUNT(s.neighbor_vec_id)        AS hits_seed,
       COUNT(t.neighbor_vec_id)        AS hits_trained,
       (1000 * COUNT(s.neighbor_vec_id)) // COUNT(*) AS recall_seed_pm,
       (1000 * COUNT(t.neighbor_vec_id)) // COUNT(*) AS recall_trained_pm
FROM brute b
LEFT JOIN seed s ON b.query_vec_id = s.query_vec_id
                AND b.neighbor_vec_id = s.neighbor_vec_id
LEFT JOIN ttopk t ON b.query_vec_id = t.query_vec_id
                 AND b.neighbor_vec_id = t.neighbor_vec_id
GROUP BY 1
"""


@query(
    "llm_ann_ivf_trained_recall",
    oracle=_trained_recall_oracle(),
    tags=("llm-similarity", "iterative"),
)
def llm_ann_ivf_trained_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with a TRAINED quantizer: one Lloyd refinement of the 16 seed
    centroids (assign -> per-cell component sums -> re-assign), then the
    same nprobe=2 cell search — recall@5 measured side-by-side with the
    train-free index against the exact brute-force top-k.

    The SURVEY §7 'iterative algorithm' pattern made end-to-end: training
    is one extra scan + one (cell, dim) shuffle per Lloyd step; further
    steps are the same plan re-applied (the kmeans_step query is exactly
    one such step in sufficient-statistics form). Centroids stay exact
    decimals (sums, not means — cosine is scale-invariant) so the trained
    index is engine-reproducible, which float accumulation would break.

    Measured on this testdata: seed 925 permille vs trained 850 permille
    mean recall@5 — the synthetic embeddings are isotropic (no cluster
    structure to learn), so one Lloyd step merely reshapes cells while
    the nprobe budget stays fixed. That is the honest reading: train the
    quantizer when the corpus HAS cluster structure (real embedding
    corpora do), and always measure — which is what this query is for.
    """
    emb = T.load(spark, sf_dir, "embeddings")
    embn = emb.select(
        "vec_id",
        "embedding",
        dot_dec(F.col("embedding"), F.col("embedding")).alias("n2"),
    )
    cent0 = embn.filter(F.col("vec_id") < IVF_N_CENTROIDS).select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("ce"),
        F.col("n2").alias("cn2"),
    )
    # one Lloyd step: map-only argmax assignment (_topcells — embedding
    # rides along, so no join-back), then per-cell exact component sums
    # (scale-free centroid)
    comp = (
        _topcells(embn, cent0, 1)
        .select(
            _top_cell().alias("cell"),
            F.posexplode("embedding").alias("pos", "val"),
        )
        .groupBy("cell", "pos")
        .agg(
            F.sum(F.col("val").cast("double").cast(VEC_DEC))
            .cast(CENT_DEC)
            .alias("m")
        )
    )
    cent1 = comp.groupBy("cell").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))),
            lambda s: s.m,
        ).alias("carr"),
        # decimal(19,7)^2 would exceed Spark's 38-precision cap and round
        # (DuckDB keeps DECIMAL(38,14) exact); |m| < 1e6 here (sums of
        # |component| <= 100 over N rows), so (18,7)x(18,7) -> (37,14) is
        # exact on BOTH engines
        F.sum(
            F.col("m").cast("decimal(18,7)") * F.col("m").cast("decimal(18,7)")
        ).alias("cn2"),
    )
    def _tdot(e: Column, ce: Column) -> Column:
        # trained centroids are exact decimals (CENT_DEC), so the trained
        # dot skips the VEC_DEC re-cast on the centroid side
        return F.aggregate(
            F.zip_with(e, ce, lambda x, y: x.cast("double").cast(VEC_DEC) * y),
            F.lit(0).cast(VEC_ACC),
            lambda acc, x: (acc + x).cast(VEC_ACC),
        )

    cent1r = cent1.select(
        F.col("cell").alias("cid"), F.col("carr").alias("ce"), "cn2"
    )
    # map-only trained scoring (_topcells, custom decimal dot); ttop feeds
    # BOTH the full assignment and the probe list; without persistence the
    # whole Lloyd step + trained-scoring scan re-derives per consumer.
    # Skinny frame (vec_id, cells — no vectors), so localCheckpoint is
    # cheaper than one repeated corpus scan.
    ttop = (
        _topcells(embn, cent1r, IVF_NPROBE, dot=_tdot)
        .select("vec_id", _probe_cells().alias("cells"))
        .localCheckpoint(eager=True)
    )
    tassign = ttop.select(
        F.col("vec_id").alias("neighbor_vec_id"),
        F.element_at("cells", 1).alias("cell"),
    )
    tprobes = ttop.filter(F.col("vec_id") < ANN_N_QUERIES).select(
        F.col("vec_id").alias("query_vec_id"),
        F.explode("cells").alias("cell"),
    )
    tcand = tprobes.join(tassign, "cell").filter(
        F.col("neighbor_vec_id") != F.col("query_vec_id")
    ).select("query_vec_id", "neighbor_vec_id")
    # rerank with side-quantized arrays (same as llm_ann_ivf's rerank —
    # the per-pair re-casting dot_dec is the ~6x overhead dot_q removes)
    qe = embn.filter(F.col("vec_id") < ANN_N_QUERIES).select(
        F.col("vec_id").alias("query_vec_id"),
        qdec(F.col("embedding")).alias("qeq"),
        F.col("n2").alias("qn2"),
    )
    ne = embn.select(
        F.col("vec_id").alias("neighbor_vec_id"),
        qdec(F.col("embedding")).alias("neq"),
        F.col("n2").alias("nn2"),
    )
    tscored = (
        tcand.join(F.broadcast(qe), "query_vec_id")
        .join(ne, "neighbor_vec_id")
        .select(
            "query_vec_id",
            "neighbor_vec_id",
            cos_e9(
                dot_q(F.col("qeq"), F.col("neq")), F.col("qn2"), F.col("nn2")
            ).alias("cos_sim_e9"),
        )
    )
    # two-phase exact ranked top-k (r12) — see ranked_topk_per_query
    ttopk = ranked_topk_per_query(
        tscored,
        "query_vec_id",
        "neighbor_vec_id",
        F.col("cos_sim_e9").desc(),
        IVF_TOPK,
    ).select("query_vec_id", F.col("neighbor_vec_id").alias("tn"))
    brute = llm_ann_cosine_topk(spark, sf_dir).select(
        "query_vec_id", "neighbor_vec_id"
    )
    seed = llm_ann_ivf(spark, sf_dir).select(
        "query_vec_id", F.col("neighbor_vec_id").alias("sn")
    )
    joined = (
        brute.join(
            seed,
            (brute.query_vec_id == seed.query_vec_id)
            & (brute.neighbor_vec_id == seed.sn),
            "left",
        )
        .select(
            brute.query_vec_id.alias("qid"), brute.neighbor_vec_id, "sn"
        )
        .join(
            ttopk,
            (F.col("qid") == ttopk.query_vec_id)
            & (F.col("neighbor_vec_id") == ttopk.tn),
            "left",
        )
        .select("qid", "sn", "tn")
    )
    return joined.groupBy(F.col("qid").alias("query_vec_id")).agg(
        F.count(F.lit(1)).alias("k"),
        F.count("sn").alias("hits_seed"),
        F.count("tn").alias("hits_trained"),
        F.expr("(1000 * count(sn)) div count(1)").alias("recall_seed_pm"),
        F.expr("(1000 * count(tn)) div count(1)").alias("recall_trained_pm"),
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) encoding — the compression half of IVF-PQ.
# ---------------------------------------------------------------------------
# The PQ int-space core (constants, offset-int quantize, subspace split,
# argmin, Lloyd trainer) lives in operators.pq — the ONE copy shared with
# streaming.incremental's PQ-trainer twin (r12 promotion, ADVICE). The
# names are imported here for the PQ queries and oracle-SQL builders below.
from ..operators.pq import (  # noqa: E402
    PQ_D,
    PQ_K,
    PQ_M,
    PQ_OFF_INT,
    argmin_codes as _argmin_codes,
    pq_fullint as _pq_fullint,
    pq_subint as _pq_subint,
    pq_trained_codebook_int as _pq_trained_codebook_int,
    sqdist_int as _sqdist_int,
    sv_int as _sv_int,
)

_PQ_DIFF = (
    "(CAST(CAST(b.embedding[b.m * {d} + jx.j] AS DOUBLE) AS DECIMAL(9,7))"
    " - CAST(CAST(cb.cemb[b.m * {d} + jx.j] AS DOUBLE) AS DECIMAL(9,7)))"
).format(d=PQ_D)


def _sqdist_q(a, b):
    """Exact-decimal squared L2 over two ALREADY-``qdec``-quantized
    arrays: one subtract + one multiply per element. An inline-quantizing
    form would evaluate four double->BigDecimal casts and two subtracts
    per element PER PAIR — quantize once per side-row instead (the
    decimal expression values are identical either way)."""

    return F.aggregate(
        F.transform(F.zip_with(a, b, lambda x, y: x - y), lambda d: d * d),
        F.lit(0).cast(VEC_ACC),
        lambda acc, x: (acc + x).cast(VEC_ACC),
    )


def _pq_subvectors(emb: DataFrame) -> DataFrame:
    """(vec_id, m, sv): each vector exploded into its PQ_M subvectors."""
    ms = F.array([F.lit(m) for m in range(PQ_M)])
    return emb.select(
        "vec_id", F.explode(ms).alias("m"), "embedding"
    ).withColumn("sv", F.expr(f"slice(embedding, m * {PQ_D} + 1, {PQ_D})"))


def _pq_assign(emb: DataFrame) -> DataFrame:
    """Per-(vector, subspace) nearest codeword: (vec_id, m, cid, d2, svq).

    Codebook = subvectors of vec_id < PQ_K, BROADCAST; argmin tie-broken
    on cid via one row_number window. ``svq`` (the quantized subvector)
    rides along for the training consumer; encode-only paths drop it and
    column pruning removes it below the window."""
    sub = _pq_subvectors(emb).withColumn("svq", qdec(F.col("sv")))
    cb = sub.filter(F.col("vec_id") < PQ_K).select(
        F.col("vec_id").alias("cid"), "m", F.col("svq").alias("cvq")
    )
    cand = (
        sub.join(F.broadcast(cb), "m")
        .withColumn("d2", _sqdist_q(F.col("svq"), F.col("cvq")))
        .select("vec_id", "m", "cid", "d2", "svq")
    )
    w = Window.partitionBy("vec_id", "m").orderBy("d2", "cid")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


# (offset-int view, sv_int/sqdist_int and the Lloyd trainer moved to
# operators.pq — imported above)


@query(
    "llm_ann_pq_encode",
    oracle=f"""
WITH ms AS (
    SELECT unnest(range(0, {PQ_M})) AS m
), jx AS (
    SELECT unnest(range(1, {PQ_D + 1})) AS j
), b AS (
    SELECT vec_id, m, embedding FROM embeddings, ms
), cb AS (
    SELECT vec_id AS cid, m, embedding AS cemb FROM embeddings, ms
    WHERE vec_id < {PQ_K}
), d AS (
    SELECT b.vec_id, b.m, cb.cid,
           SUM({_PQ_DIFF} * {_PQ_DIFF}) AS d2
    FROM b JOIN cb ON b.m = cb.m, jx
    GROUP BY 1, 2, 3
), r AS (
    SELECT vec_id, m, cid, d2,
           ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, cid) AS rn
    FROM d
)
SELECT vec_id,
       string_agg(CAST(cid AS VARCHAR), '-' ORDER BY m) AS pq_code,
       CAST(floor(1000000000.0 * CAST(SUM(d2) AS DOUBLE)) AS BIGINT)
           AS qerr_e9
FROM r WHERE rn = 1
GROUP BY 1
""",
    tags=("llm-ann", "compression"),
)
def llm_ann_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding: each vector -> {PQ_M} codeword ids
    (one per {PQ_D}-dim subspace, codebook = the seed scheme shared with
    llm_ann_ivf), plus the total squared reconstruction error.

    The compression layer of IVF-PQ (Jegou et al. 2011): at 100 TB the
    vector corpus is stored as M bytes/vector instead of 256, and ANN
    rerank reads codes + a distance-table lookup. Scale shape: the
    codebook ({PQ_M}x{PQ_K} subvectors) is BROADCAST; assignment is
    map-only per (vector, subspace) with the {PQ_D}-dim L2 computed by
    decimal array-fold (exact, order-independent — the DuckDB twin
    computes the identical integer). One window for the per-subspace
    argmin (tie-broken on cid), one (vec_id) agg for code assembly.
    """
    emb = T.load(spark, sf_dir, "embeddings")
    best = _pq_assign(emb)
    return best.groupBy("vec_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("m", "cid"))),
                lambda s: s.cid.cast("string"),
            ),
            "-",
        ).alias("pq_code"),
        F.expr(
            "cast(floor(1000000000.0 * cast(sum(d2) as double)) as bigint)"
        ).alias("qerr_e9"),
    )


# ---------------------------------------------------------------------------
# ADC search over PQ codes — asymmetric distance computation + recall@k,
# as a Lloyd-training recall CURVE (seed, 1 step, 2 steps) plus the
# composed IVF-PQ index (coarse cells -> residual PQ -> cell-probed ADC).
# ---------------------------------------------------------------------------
ADC_NQ = 8  # query set (same convention as ANN_N_QUERIES)
ADC_TOPK = 5
IVFPQ_C = 16  # coarse IVF cells (seed scheme: vec_id < C, as llm_ann_ivf)
IVFPQ_NPROBE = 2  # the production operating point (hits_ivfpq column)
# r12 (verdict item 3): the nprobe OPERATING CURVE measured, not just
# described — recall@k at every probe width side-by-side, so the
# nprobe/C coverage ceiling is a column, not prose. One distance table
# is built at the widest setting; narrower settings filter it by the
# probe rank (cells are rank-ordered, so np=1/2 tables are prefixes).
IVFPQ_NPROBES = (1, 2, 4)
IVFPQ_NPROBE_MAX = max(IVFPQ_NPROBES)
# residual re-offset: xi, ci in (0, 2e9) => xi - ci + 2e9 in (0, 4e9) > 0,
# keeping the trained-mean division (s div n vs s // n) and every other
# integer op on residuals sign-safe on both engines (CLAUDE.md div rule)
PQ_RES_OFF = 2_000_000_000

_PQ_XDIFF = (
    "(CAST(CAST(b.embedding[ix.i] AS DOUBLE) AS DECIMAL(9,7))"
    " - CAST(CAST(q.embedding[ix.i] AS DOUBLE) AS DECIMAL(9,7)))"
)
# offset-scaled integer component (mirrors _sv_int): xi = x*1e7 + 1e9
_PQ_XI = (
    "CAST(CAST(CAST(CAST(b.embedding[b.m * {d} + jx.j] AS DOUBLE)"
    " AS DECIMAL(9,7)) * 10000000 AS BIGINT) + {off} AS BIGINT)"
).format(d=PQ_D, off=PQ_OFF_INT)


def _sql_pq_assign(name: str, src: str, cb: str, huge: bool = False) -> str:
    """CTE pair: per-(vec_id, m) squared-L2 to every codeword of ``cb``
    over the long-form int frame ``src`` (vec_id, m, j, xi), then the
    (d2, cid)-argmin. ``huge=True`` lifts the per-term square to HUGEINT
    for the residual space, where diffs reach 4e9 and the BIGINT square
    would overflow (flat space stays < 2e9 -> square < 4e18, in range)."""
    sq = (
        "CAST(sv.xi - c.q AS HUGEINT) * (sv.xi - c.q)"
        if huge
        else "(sv.xi - c.q) * (sv.xi - c.q)"
    )
    return f"""{name}_d AS (
    SELECT sv.vec_id, sv.m, c.cid, SUM({sq}) AS d2
    FROM {src} sv JOIN {cb} c ON sv.m = c.m AND sv.j = c.j
    GROUP BY 1, 2, 3
), {name} AS (
    SELECT vec_id, m, cid FROM (
        SELECT vec_id, m, cid, ROW_NUMBER() OVER (
            PARTITION BY vec_id, m ORDER BY d2, cid) AS rn
        FROM {name}_d
    ) WHERE rn = 1
)"""


def _sql_pq_train(name: str, assign: str, src: str) -> str:
    """One Lloyd step as a CTE: codeword component = floored integer mean
    of the members' offset-int components (all positive, so // == div)."""
    return f"""{name} AS (
    SELECT sv.m, a.cid, sv.j, SUM(sv.xi) // COUNT(*) AS q
    FROM {assign} a JOIN {src} sv
        ON a.vec_id = sv.vec_id AND a.m = sv.m
    GROUP BY 1, 2, 3
)"""


def _sql_pq_adc(name: str, codes: str, cb: str, src: str) -> str:
    """ADC top-k as CTEs: query distance table (qid, m, cid) against
    ``cb``, summed over stored ``codes``, ranked (ad2, vec_id). The
    trained codebooks hold HUGEINT q (// of a HUGEINT sum), so the diff
    promotes past BIGINT automatically — no overflow either space."""
    return f"""{name}_dt AS (
    SELECT sv.vec_id AS qid, sv.m, c.cid,
           SUM(CAST(sv.xi - c.q AS HUGEINT) * (sv.xi - c.q)) AS qd2
    FROM {src} sv JOIN {cb} c ON sv.m = c.m AND sv.j = c.j
    WHERE sv.vec_id < {ADC_NQ}
    GROUP BY 1, 2, 3
), {name}_s AS (
    SELECT dt.qid, a.vec_id, SUM(dt.qd2) AS ad2
    FROM {codes} a JOIN {name}_dt dt ON a.m = dt.m AND a.cid = dt.cid
    WHERE a.vec_id <> dt.qid
    GROUP BY 1, 2
), {name} AS (
    SELECT qid, vec_id FROM (
        SELECT qid, vec_id, ROW_NUMBER() OVER (
            PARTITION BY qid ORDER BY ad2, vec_id) AS rk
        FROM {name}_s
    ) WHERE rk <= {ADC_TOPK}
)"""


def _adc_recall_oracle() -> str:
    """The full seed / 1-Lloyd / 2-Lloyd / IVF-PQ recall oracle, assembled
    from the generator CTEs so every Lloyd iteration is the same SQL."""
    parts = [
        f"ms AS (SELECT unnest(range(0, {PQ_M})) AS m)",
        f"jx AS (SELECT unnest(range(1, {PQ_D + 1})) AS j)",
        f"ix AS (SELECT unnest(range(1, {PQ_M * PQ_D + 1})) AS i)",
        "b AS (SELECT vec_id, m, embedding FROM embeddings, ms)",
        f"svint AS (SELECT b.vec_id, b.m, jx.j, {_PQ_XI} AS xi FROM b, jx)",
        # -- flat PQ: seed codebook, then the 2-step Lloyd recall curve
        "cb0 AS (SELECT m, vec_id AS cid, j, xi AS q FROM svint"
        f" WHERE vec_id < {PQ_K})",
        _sql_pq_assign("pa0", "svint", "cb0"),
        _sql_pq_train("cb1", "pa0", "svint"),
        _sql_pq_assign("pa1", "svint", "cb1"),
        _sql_pq_train("cb2", "pa1", "svint"),
        _sql_pq_assign("pa2", "svint", "cb2"),
        _sql_pq_adc("top0", "pa0", "cb0", "svint"),
        _sql_pq_adc("top1", "pa1", "cb1", "svint"),
        _sql_pq_adc("top2", "pa2", "cb2", "svint"),
        # -- IVF-PQ: coarse cells -> residuals -> residual PQ -> probed ADC
        "ccb AS (SELECT vec_id AS cell, m, j, xi AS ci FROM svint"
        f" WHERE vec_id < {IVFPQ_C})",
        """cd AS (
    SELECT sv.vec_id, c.cell, SUM((sv.xi - c.ci) * (sv.xi - c.ci)) AS cd2
    FROM svint sv JOIN ccb c ON sv.m = c.m AND sv.j = c.j
    GROUP BY 1, 2
)""",
        """crank AS (
    SELECT vec_id, cell, ROW_NUMBER() OVER (
        PARTITION BY vec_id ORDER BY cd2, cell) AS rn
    FROM cd
)""",
        "cassign AS (SELECT vec_id, cell FROM crank WHERE rn = 1)",
        f"cprobes AS (SELECT vec_id AS qid, cell, rn FROM crank"
        f" WHERE vec_id < {ADC_NQ} AND rn <= {IVFPQ_NPROBE_MAX})",
        f"""resint AS (
    SELECT sv.vec_id, sv.m, sv.j, sv.xi - c.ci + {PQ_RES_OFF} AS xi
    FROM svint sv
    JOIN cassign a ON sv.vec_id = a.vec_id
    JOIN ccb c ON a.cell = c.cell AND sv.m = c.m AND sv.j = c.j
)""",
        f"rcb0 AS (SELECT m, vec_id - {IVFPQ_C} AS cid, j, xi AS q"
        f" FROM resint WHERE vec_id >= {IVFPQ_C}"
        f" AND vec_id < {IVFPQ_C + PQ_K})",
        _sql_pq_assign("ra0", "resint", "rcb0", huge=True),
        _sql_pq_train("rcb1", "ra0", "resint"),
        _sql_pq_assign("ra1", "resint", "rcb1", huge=True),
        _sql_pq_train("rcb2", "ra1", "resint"),
        _sql_pq_assign("ra2", "resint", "rcb2", huge=True),
        f"""qres AS (
    SELECT p.qid, p.cell, p.rn, sv.m, sv.j, sv.xi - c.ci + {PQ_RES_OFF} AS xi
    FROM cprobes p
    JOIN svint sv ON p.qid = sv.vec_id
    JOIN ccb c ON p.cell = c.cell AND sv.m = c.m AND sv.j = c.j
)""",
        """idt AS (
    SELECT q.qid, q.cell, q.rn, q.m, c.cid,
           SUM(CAST(q.xi - c.q AS HUGEINT) * (q.xi - c.q)) AS qd2
    FROM qres q JOIN rcb2 c ON q.m = c.m AND q.j = c.j
    GROUP BY 1, 2, 3, 4, 5
)""",
        # one top-k per nprobe operating point: the rank-prefixed slices
        # of the SAME distance table (cells are rank-ordered by distance)
        *[
            f"""iadc{np} AS (
    SELECT dt.qid, r.vec_id, SUM(dt.qd2) AS ad2
    FROM ra2 r
    JOIN cassign a ON r.vec_id = a.vec_id
    JOIN idt dt ON a.cell = dt.cell AND r.m = dt.m AND r.cid = dt.cid
    WHERE r.vec_id <> dt.qid AND dt.rn <= {np}
    GROUP BY 1, 2
), itop{np} AS (
    SELECT qid, vec_id FROM (
        SELECT qid, vec_id, ROW_NUMBER() OVER (
            PARTITION BY qid ORDER BY ad2, vec_id) AS rk
        FROM iadc{np}
    ) WHERE rk <= {ADC_TOPK}
)"""
            for np in IVFPQ_NPROBES
        ],
        # -- exact ground truth (full-vector decimal L2, unchanged)
        f"""ex AS (
    SELECT q.vec_id AS qid, b.vec_id, SUM({_PQ_XDIFF} * {_PQ_XDIFF}) AS xd2
    FROM embeddings b, embeddings q, ix
    WHERE q.vec_id < {ADC_NQ} AND b.vec_id <> q.vec_id
    GROUP BY 1, 2
)""",
        f"""ex5 AS (
    SELECT qid, vec_id FROM (
        SELECT qid, vec_id, ROW_NUMBER() OVER (
            PARTITION BY qid ORDER BY xd2, vec_id) AS rk
        FROM ex
    ) WHERE rk <= {ADC_TOPK}
)""",
    ]
    ctes = ",\n".join(parts)
    np_prod = IVFPQ_NPROBE
    return f"""
WITH {ctes}
SELECT e.qid,
       CAST(COUNT(*) AS BIGINT) AS k,
       CAST(COUNT(s0.vec_id) AS BIGINT) AS hits_seed,
       CAST(COUNT(s1.vec_id) AS BIGINT) AS hits_t1,
       CAST(COUNT(s2.vec_id) AS BIGINT) AS hits_t2,
       CAST(COUNT(i1.vec_id) AS BIGINT) AS hits_ivfpq_np1,
       CAST(COUNT(si.vec_id) AS BIGINT) AS hits_ivfpq,
       CAST(COUNT(i4.vec_id) AS BIGINT) AS hits_ivfpq_np4,
       CAST((1000 * COUNT(s0.vec_id)) // COUNT(*) AS BIGINT)
           AS recall_seed_pm,
       CAST((1000 * COUNT(s1.vec_id)) // COUNT(*) AS BIGINT) AS recall_t1_pm,
       CAST((1000 * COUNT(s2.vec_id)) // COUNT(*) AS BIGINT) AS recall_t2_pm,
       CAST((1000 * COUNT(i1.vec_id)) // COUNT(*) AS BIGINT)
           AS recall_ivfpq_np1_pm,
       CAST((1000 * COUNT(si.vec_id)) // COUNT(*) AS BIGINT)
           AS recall_ivfpq_pm,
       CAST((1000 * COUNT(i4.vec_id)) // COUNT(*) AS BIGINT)
           AS recall_ivfpq_np4_pm
FROM ex5 e
LEFT JOIN top0 s0 ON e.qid = s0.qid AND e.vec_id = s0.vec_id
LEFT JOIN top1 s1 ON e.qid = s1.qid AND e.vec_id = s1.vec_id
LEFT JOIN top2 s2 ON e.qid = s2.qid AND e.vec_id = s2.vec_id
LEFT JOIN itop1 i1 ON e.qid = i1.qid AND e.vec_id = i1.vec_id
LEFT JOIN itop{np_prod} si ON e.qid = si.qid AND e.vec_id = si.vec_id
LEFT JOIN itop4 i4 ON e.qid = i4.qid AND e.vec_id = i4.vec_id
GROUP BY 1
"""


def _ivfpq_ctop(fullint: DataFrame) -> DataFrame:
    """(vec_id, cells): the IVFPQ_NPROBE_MAX nearest coarse cells per
    vector in rank order, MAP-ONLY — the 16 cell centroids fold in as a
    broadcast struct array (llm_ann_ivf's _topcells shape, for L2).
    Data vectors use only cells[0] (their assignment); queries slice the
    rank-ordered prefix per nprobe setting."""
    cells_arr = fullint.filter(F.col("vec_id") < IVFPQ_C).agg(
        F.collect_list(
            F.struct(F.col("vec_id").alias("cell"), F.col("full").alias("carr"))
        ).alias("_cells")
    )
    return (
        fullint.crossJoin(F.broadcast(cells_arr))
        .select(
            "vec_id",
            F.slice(
                F.array_sort(
                    F.transform(
                        "_cells",
                        lambda c: F.struct(
                            _sqdist_int(F.col("full"), c["carr"]).alias("d2"),
                            c["cell"].alias("cell"),
                        ),
                    )
                ),
                1,
                IVFPQ_NPROBE_MAX,
            ).alias("top"),
        )
        .select(
            "vec_id", F.transform("top", lambda s: s["cell"]).alias("cells")
        )
    )


def _ivfpq_ccb(subint: DataFrame) -> DataFrame:
    """(cell, m, cint): the coarse centroids in subspace form (16 x M
    rows — broadcast wherever joined)."""
    return subint.filter(F.col("vec_id") < IVFPQ_C).select(
        F.col("vec_id").alias("cell"), "m", F.col("xint").alias("cint")
    )


def _ivfpq_residuals(
    subint: DataFrame, cassign: DataFrame, ccb: DataFrame
) -> DataFrame:
    """(vec_id, cell, m, xint): re-offset per-cell residuals. The ONE
    corpus shuffle of the IVF-PQ build: the assignment join-back is
    fact-fact on vec_id and shuffle_hash-pinned — AQE would
    broadcast-promote the corpus-sized skinny side at small SF (the r10
    runtime-census hazard; runtime guard
    test_ivfpq_residual_join_back_runtime_honest, which sees this frame
    BEFORE the query's checkpoint launders it to ExistingRDD)."""
    return (
        subint.join(cassign.hint("shuffle_hash"), "vec_id")
        .join(F.broadcast(ccb), ["cell", "m"])
        .select(
            "vec_id",
            "cell",
            "m",
            F.zip_with(
                "xint", "cint", lambda x, c: x - c + F.lit(PQ_RES_OFF)
            ).alias("xint"),
        )
    )


def ivfpq_residual_frame(emb: DataFrame) -> DataFrame:
    """The UN-checkpointed residual frame with the query's exact lineage
    — the runtime guard's entry point (inside llm_ann_pq_adc_recall the
    frame is eagerly checkpointed, so its shuffle_hash join is invisible
    in the query's own final plan)."""
    fullint = _pq_fullint(emb).localCheckpoint(eager=True)
    subint = _pq_subint(fullint)
    ctop = _ivfpq_ctop(fullint).localCheckpoint(eager=True)
    cassign = ctop.select("vec_id", F.element_at("cells", 1).alias("cell"))
    return _ivfpq_residuals(subint, cassign, _ivfpq_ccb(subint))


def _adc_topk(
    codes: DataFrame, dtab: DataFrame, keys: tuple[str, ...] = ("m", "cid")
) -> DataFrame:
    """ADC top-k: stored codes x BROADCAST query distance table (map-side
    join), one (qid, vec_id) partial agg, two-phase rank (ad2, vec_id).
    Base vectors are never touched — the PQ search contract."""
    adc = (
        codes.join(F.broadcast(dtab), list(keys))
        .filter(F.col("vec_id") != F.col("qid"))
        .groupBy("qid", "vec_id")
        .agg(F.sum("qd2").alias("ad2"))
    )
    return ranked_topk_per_query(
        adc, "qid", "vec_id", F.col("ad2"), ADC_TOPK
    ).select("qid", "vec_id")


@query(
    "llm_ann_pq_adc_recall",
    oracle=_adc_recall_oracle(),
    tags=("llm-ann", "compression", "iterative"),
)
def llm_ann_pq_adc_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC (asymmetric distance) top-k search over PQ codes — the Lloyd
    training recall CURVE (seed, 1 step, 2 steps) side-by-side with the
    composed IVF-PQ index, recall@{k} measured against the exact L2
    top-k. r11 evolution of the r10 seed-vs-trained query (verdict items
    2+3): multi-step training via the checkpointed-broadcast iteration
    pattern (llm_bpe_train_merges), and the production IVFADC layout
    (Jegou et al. 2011): coarse quantizer -> per-cell RESIDUALS encoded
    with PQ -> search probes nprobe cells and scores codes only.

    Arithmetic contract: everything runs in the offset-int space
    (xi = x*1e7 + 1e9 > 0); residuals re-offset by +2e9 so they stay
    positive and the trained-mean division (Spark `div` vs DuckDB `//`)
    and every square stay sign-safe and exact (squares lift to
    decimal/HUGEINT where 4e9-wide diffs would overflow BIGINT).
    Codebook training is one map-combined (m, cid, pos) hash agg per
    Lloyd step; each trained codebook (M x K rows) is checkpointed and
    broadcast — iteration state never touches the driver (no collect).

    Scale shape: ONE quantize pass over the corpus (fullint, checkpointed);
    coarse assignment is map-only (16 centroids folded in via a broadcast
    struct array, the llm_ann_ivf _topcells pattern); the residual build
    is the only corpus shuffle (assignment join-back, shuffle_hash-pinned
    per the r7 fact-fact rule); assignments are partial-agg argmins (the
    r10 row_number windows shuffled K candidates per vector — min-struct
    combines map-side). All distance tables (NQ x M x K) and codebooks
    broadcast; ADC scoring reads codes + tables only — base vectors are
    never read at query time (the point of PQ at 100 TB: M bytes/vector;
    guard: test_adc_search_never_scans_base_vectors_at_query_time).
    Exact rerank confined to the NQ ground-truth queries.

    Measured (sf0.01, mean recall@5): seed 150 pm, 1 Lloyd step 325 pm
    (the r10 reading, reproduced exactly), 2 steps 300 pm — the second
    step DIPS on this isotropic testdata (no cluster structure to learn;
    Lloyd reshapes cells without reducing distortion), which is exactly
    what the per-iteration curve exists to expose. IVF-PQ reads 300 pm
    while probing only 2/16 cells: it trades a nprobe/C coverage ceiling
    (a true neighbor outside the probed cells is unreachable) for much
    smaller within-cell quantization error (residual distortion <<
    whole-vector distortion) — the honest operating point the
    side-by-side columns show.

    r12: the coverage ceiling is now a MEASURED column, not prose — the
    nprobe operating curve (recall at nprobe=1/2/4 from ONE rank-tagged
    distance table; narrower settings are rank-prefixes of the widest).
    On isotropic sf0.01 the curve is flat (300/300/300 pm: the nearest
    cell already covers what PQ distortion allows); on the clustered
    corpus (test_pq_training_lifts_recall_on_clustered_corpus) it shows
    the ceiling sharply: np1 350 pm — true neighbors sit in unprobed
    cells — np2 600, np4 600 (saturation once probes cover the cluster),
    and recall is asserted monotone in nprobe there."""
    emb = T.load(spark, sf_dir, "embeddings")
    # ONE quantize pass over the corpus; every downstream frame (subspace
    # long form, coarse cells, residuals, query slices) derives from this
    # checkpoint — no repeated parquet scans, no repeated decimal casts
    fullint = _pq_fullint(emb).localCheckpoint(eager=True)
    subint = _pq_subint(fullint)
    # -- flat PQ: seed codebook + 2 Lloyd steps (recall curve) ----------
    cb0 = subint.filter(F.col("vec_id") < PQ_K).select(
        "m", F.col("vec_id").alias("cid"), F.col("xint").alias("qarr")
    )
    assign0 = _argmin_codes(subint, cb0)
    cb1 = _pq_trained_codebook_int(assign0).localCheckpoint(eager=True)
    assign1 = _argmin_codes(subint, cb1)
    cb2 = _pq_trained_codebook_int(assign1).localCheckpoint(eager=True)
    assign2 = _argmin_codes(subint, cb2)
    qsub = subint.filter(F.col("vec_id") < ADC_NQ).select(
        F.col("vec_id").alias("qid"), "m", "xint"
    )

    def _dtab(cb: DataFrame) -> DataFrame:
        return qsub.join(F.broadcast(cb), "m").select(
            "qid",
            "m",
            "cid",
            _sqdist_int(F.col("xint"), F.col("qarr")).alias("qd2"),
        )

    top0 = _adc_topk(assign0.select("vec_id", "m", "cid"), _dtab(cb0))
    top1 = _adc_topk(assign1.select("vec_id", "m", "cid"), _dtab(cb1))
    top2 = _adc_topk(assign2.select("vec_id", "m", "cid"), _dtab(cb2))
    # -- IVF-PQ: coarse cells -> residual PQ -> cell-probed ADC ---------
    ctop = _ivfpq_ctop(fullint).localCheckpoint(eager=True)
    cassign = ctop.select("vec_id", F.element_at("cells", 1).alias("cell"))
    # probe list at the WIDEST setting, rank riding along: the nprobe=n
    # probe set is exactly rnk <= n (cells are rank-ordered by distance)
    probes = ctop.filter(F.col("vec_id") < ADC_NQ).select(
        F.col("vec_id").alias("qid"),
        F.posexplode("cells").alias("pos", "cell"),
    ).select("qid", "cell", (F.col("pos") + 1).alias("rnk"))
    ccb = _ivfpq_ccb(subint)
    resid = _ivfpq_residuals(subint, cassign, ccb).localCheckpoint(
        eager=True
    )
    # residual codebook seeded from vec ids [C, C+K): ids < C are the
    # coarse centroids themselves, whose residuals are all-zero (every
    # seed codeword identical — Lloyd could never split the single cell)
    rcb0 = resid.filter(
        (F.col("vec_id") >= IVFPQ_C) & (F.col("vec_id") < IVFPQ_C + PQ_K)
    ).select(
        "m", (F.col("vec_id") - IVFPQ_C).alias("cid"), F.col("xint").alias("qarr")
    )
    rassign0 = _argmin_codes(resid, rcb0, keep=("cell",))
    rcb1 = _pq_trained_codebook_int(rassign0).localCheckpoint(eager=True)
    rassign1 = _argmin_codes(resid, rcb1, keep=("cell",))
    rcb2 = _pq_trained_codebook_int(rassign1).localCheckpoint(eager=True)
    rcodes = _argmin_codes(resid, rcb2, keep=("cell",)).select(
        "vec_id", "cell", "m", "cid"
    )
    # query residual vs EACH probed cell, then the (qid, cell, m, cid)
    # distance table — NQ x nprobe x M x K rows, broadcast
    qres = (
        subint.filter(F.col("vec_id") < ADC_NQ)
        .select(F.col("vec_id").alias("qid"), "m", "xint")
        .join(F.broadcast(probes), "qid")
        .join(F.broadcast(ccb), ["cell", "m"])
        .select(
            "qid",
            "cell",
            "rnk",
            "m",
            F.zip_with(
                "xint", "cint", lambda x, c: x - c + F.lit(PQ_RES_OFF)
            ).alias("xint"),
        )
    )
    # ONE distance table at the widest nprobe (NQ x max_np x M x K rows,
    # broadcast into the single scoring join below)
    idtab = qres.join(F.broadcast(rcb2), "m").select(
        "qid",
        "cell",
        "rnk",
        "m",
        "cid",
        _sqdist_int(F.col("xint"), F.col("qarr")).alias("qd2"),
    )
    # joining on cell confines candidates to the probed cells — the IVF
    # contract; codes in unprobed cells never leave the map side. A
    # candidate's ADC score is IDENTICAL at every nprobe (its cell — and
    # so its distance-table rows and probe rank — is fixed per qid; only
    # ELIGIBILITY changes), so score ONCE at the widest setting with the
    # rank riding along, then each operating point is a rank filter +
    # top-k over the checkpointed scored frame. One codes-scan scoring
    # join instead of one per point (x100 isolated 29.0 s vs 30.1; the
    # remaining +37% over the r11 single-point plan is the DOUBLED probe
    # width itself — np=4 doubles the eligible candidate volume — the
    # honest price of measuring the curve; production search pays only
    # its chosen operating point).
    scored = (
        rcodes.join(F.broadcast(idtab), ["cell", "m", "cid"])
        .filter(F.col("vec_id") != F.col("qid"))
        .groupBy("qid", "vec_id")
        .agg(F.sum("qd2").alias("ad2"), F.min("rnk").alias("rnk"))
        .localCheckpoint(eager=True)
    )
    itops = {
        np: ranked_topk_per_query(
            scored.filter(F.col("rnk") <= np),
            "qid",
            "vec_id",
            F.col("ad2"),
            ADC_TOPK,
        ).select("qid", "vec_id")
        for np in IVFPQ_NPROBES
    }
    # -- exact ground truth + assembly ----------------------------------
    q = emb.filter(F.col("vec_id") < ADC_NQ).select(
        F.col("vec_id").alias("qid"), qdec(F.col("embedding")).alias("qeq")
    )
    # base side quantized once per ROW (not once per of the NQ pairs)
    ex = (
        emb.select("vec_id", qdec(F.col("embedding")).alias("eq"))
        .crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            _sqdist_q(F.col("eq"), F.col("qeq")).alias("xd2"),
        )
    )
    ex5 = ranked_topk_per_query(
        ex, "qid", "vec_id", F.col("xd2"), ADC_TOPK
    ).select("qid", "vec_id")
    # all top-k frames are NQ x TOPK rows; windows hide that from the
    # size estimator, so hint the broadcasts explicitly. ex5 keeps every
    # qid (exactly TOPK rows each), so grouping it preserves the full
    # query set without a keeper join.
    out = ex5
    for flag, t in (
        ("h0", top0),
        ("h1", top1),
        ("h2", top2),
        ("hi1", itops[1]),
        ("hi", itops[IVFPQ_NPROBE]),
        ("hi4", itops[4]),
    ):
        out = out.join(
            F.broadcast(t.withColumn(flag, F.lit(1))), ["qid", "vec_id"], "left"
        )
    return (
        out.groupBy("qid")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.count("h0").alias("hits_seed"),
            F.count("h1").alias("hits_t1"),
            F.count("h2").alias("hits_t2"),
            F.count("hi1").alias("hits_ivfpq_np1"),
            F.count("hi").alias("hits_ivfpq"),
            F.count("hi4").alias("hits_ivfpq_np4"),
        )
        .select(
            "qid",
            "k",
            "hits_seed",
            "hits_t1",
            "hits_t2",
            "hits_ivfpq_np1",
            "hits_ivfpq",
            "hits_ivfpq_np4",
            F.expr("(1000 * hits_seed) div k").alias("recall_seed_pm"),
            F.expr("(1000 * hits_t1) div k").alias("recall_t1_pm"),
            F.expr("(1000 * hits_t2) div k").alias("recall_t2_pm"),
            F.expr("(1000 * hits_ivfpq_np1) div k").alias(
                "recall_ivfpq_np1_pm"
            ),
            F.expr("(1000 * hits_ivfpq) div k").alias("recall_ivfpq_pm"),
            F.expr("(1000 * hits_ivfpq_np4) div k").alias(
                "recall_ivfpq_np4_pm"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Embedding covariance sufficient statistics — the PCA/whitening prep step:
# the upper-triangle Gram matrix + per-dim sums as ONE mergeable aggregate.
# ---------------------------------------------------------------------------
_COV_E9 = "CAST(floor(1000000000.0 * CAST({} AS DOUBLE)) AS BIGINT)"


@query(
    "llm_embedding_covariance",
    oracle=f"""
WITH ix AS (
    SELECT unnest(range(1, 65)) AS i
), jx AS (
    SELECT unnest(range(1, 65)) AS j
), terms AS (
    SELECT ix.i, jx.j,
           CAST(CAST(e.embedding[ix.i] AS DOUBLE) AS {VEC_DEC})
             * CAST(CAST(e.embedding[jx.j] AS DOUBLE) AS {VEC_DEC}) AS pxy,
           CAST(CAST(e.embedding[ix.i] AS DOUBLE) AS {VEC_DEC}) AS px,
           CAST(CAST(e.embedding[jx.j] AS DOUBLE) AS {VEC_DEC}) AS py
    FROM embeddings e, ix, jx
    WHERE jx.j >= ix.i
)
SELECT i, j,
       CAST(COUNT(*) AS BIGINT) AS n,
       {_COV_E9.format("SUM(pxy)")} AS sxy_e9,
       {_COV_E9.format("SUM(px)")}  AS sx_e9,
       {_COV_E9.format("SUM(py)")}  AS sy_e9
FROM terms GROUP BY 1, 2
""",
    tags=("llm-similarity", "linear-algebra"),
)
def llm_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle covariance sufficient statistics over the embedding
    column: per (i, j<=i..D) the exact-decimal Σx_i·x_j, Σx_i, Σx_j and
    count — everything PCA / whitening / Mahalanobis needs, computed as
    one distributive aggregate (partial sums merge associatively, so
    map-side combine reduces every partition to D(D+1)/2 rows before the
    single 2,080-group shuffle).

    The declarative pair explode amplifies rows D(D+1)/2 x — that IS the
    cost of second-moment statistics; at 100 TB the same sufficient
    statistics would fold per-partition via an Arrow mapInPandas numpy
    X^T X (one BLAS call per batch) and merge the partials — the shuffle
    topology (2,080 groups) is identical, so this oracle-matched form is
    the semantics contract for that kernel. Sums are exact DECIMAL, scaled
    to integer e9 at the boundary.
    """
    emb = T.load(spark, sf_dir, "embeddings")
    # quantize ONCE per row into a decimal array (64 double->BigDecimal
    # casts), then build the D(D+1)/2 pair terms from the quantized
    # values — the naive per-pair form re-cast each element ~65 times
    # (4,160 BigDecimal constructions per row), which dominated the whole
    # query (2.7x measured at x10). Same decimal values, so the sums and
    # the oracle hash are bit-identical.

    qd = emb.select(qdec(F.col("embedding")).alias("q"))
    qcol = F.col("q")
    pair_terms = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.lit(64)),
            lambda i: F.transform(
                F.sequence(i, F.lit(64)),
                lambda j: F.struct(
                    i.cast("bigint").alias("i"),
                    j.cast("bigint").alias("j"),
                    (F.element_at(qcol, i) * F.element_at(qcol, j)).alias(
                        "pxy"
                    ),
                    F.element_at(qcol, i).alias("px"),
                    F.element_at(qcol, j).alias("py"),
                ),
            ),
        )
    )
    t = qd.select(F.explode(pair_terms).alias("t")).select("t.*")
    return t.groupBy("i", "j").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(_COV_E9.format("SUM(pxy)")).alias("sxy_e9"),
        F.expr(_COV_E9.format("SUM(px)")).alias("sx_e9"),
        F.expr(_COV_E9.format("SUM(py)")).alias("sy_e9"),
    )


# ---------------------------------------------------------------------------
# llm_embedding_quantize_int8 — per-dimension scalar quantization audit.
#
# The vector-compression recipe every large ANN deployment runs before
# IVF/PQ: per-dim [min, max] over the corpus, 8-bit codes
# code = (v - min) * 255 div (max - min), reconstruction
# v' = min + code * (max - min) div 255. Everything runs on the shared
# DECIMAL(9,7) e7-integer ladder (operators.vectors.qdec), so codes and error
# statistics are exact integers on both engines.
#
# Scale: classic two-pass — pass 1 folds the corpus to 64 (dim, min, max)
# rows with map-side combine (the shuffle moves 64 rows per map task, not
# N*64); pass 2 re-scans with the broadcast stats row set and folds the
# error stats the same way. Re-scanning beats materializing an N*64-row
# exploded frame at 100 TB; both aggs are mergeable partials (the
# streaming form appends pass-1 partials per micro-batch).
# ---------------------------------------------------------------------------
_E7 = 10**7
_V7 = (
    "cast(cast(cast(v as double) as decimal(9,7)) * {e7} as bigint)".format(
        e7=_E7
    )
)


@query(
    "llm_embedding_quantize_int8",
    oracle=f"""
WITH ix AS (
    SELECT unnest(range(1, 65)) AS i
), v AS (
    SELECT ix.i - 1 AS dim,
           CAST(CAST(CAST(e.embedding[ix.i] AS DOUBLE) AS DECIMAL(9,7))
                * {_E7} AS BIGINT) AS v7
    FROM embeddings e, ix
), s AS (
    SELECT dim, MIN(v7) AS mn, MAX(v7) AS mx, CAST(COUNT(*) AS BIGINT) AS n
    FROM v GROUP BY 1
), q AS (
    SELECT v.dim, s.n, s.mn, s.mx,
           abs(v7 - (s.mn + (CASE WHEN s.mx > s.mn
                                  THEN ((v7 - s.mn) * 255) // (s.mx - s.mn)
                                  ELSE 0 END * (s.mx - s.mn)) // 255))
               AS err
    FROM v JOIN s USING (dim)
)
SELECT CAST(dim AS BIGINT) AS dim, n, mn AS min_e7, mx AS max_e7,
       CAST(MAX(err) AS BIGINT) AS max_abs_err_e7,
       CAST(SUM(err) // n AS BIGINT) AS mean_abs_err_e7
FROM q GROUP BY 1, 2, 3, 4
""",
    tags=("llm-embedding", "compression"),
)
def llm_embedding_quantize_int8(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Scalar 8-bit quantization audit over the embedding corpus: per-dim
    corpus [min, max] (pass 1), then exact reconstruction-error statistics
    of the 255-level code (pass 2 with the 64-row stats frame broadcast).
    Integer-exact end-to-end on the shared e7 decimal ladder; the
    mean/max error columns are the honesty metric that decides whether
    int8 is safe for a given corpus before rolling it into IVF/PQ."""

    def exploded() -> DataFrame:
        e = T.load(spark, sf_dir, "embeddings")
        return e.select(
            F.posexplode("embedding").alias("dim", "v")
        ).select(F.col("dim").cast("bigint").alias("dim"), F.expr(_V7).alias("v7"))

    stats = exploded().groupBy("dim").agg(
        F.min("v7").alias("mn"),
        F.max("v7").alias("mx"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    code = F.expr(
        "case when mx > mn then ((v7 - mn) * 255) div (mx - mn)"
        " else 0 end"
    )
    err = F.abs(
        F.col("v7")
        - (F.col("mn") + F.expr("code * (mx - mn) div 255"))
    )
    q = (
        exploded()
        .join(F.broadcast(stats), "dim")
        .withColumn("code", code)
        .withColumn("err", err)
    )
    return (
        q.groupBy("dim", "n", "mn", "mx")
        .agg(
            F.max("err").cast("bigint").alias("max_abs_err_e7"),
            F.expr("cast(sum(err) div any_value(n) as bigint)").alias(
                "mean_abs_err_e7"
            ),
        )
        .select(
            "dim",
            "n",
            F.col("mn").alias("min_e7"),
            F.col("mx").alias("max_e7"),
            "max_abs_err_e7",
            "mean_abs_err_e7",
        )
    )


# ---------------------------------------------------------------------------
# llm_bm25_topk — BM25 retrieval over the corpus for a fixed query set:
# the ranking function behind RAG retrieval, eval-set decontamination by
# retrieval, and quality-by-query corpus probes. Okapi BM25 with k1 = 6/5
# and b = 3/4 kept as EXACT rationals: with avgdl floored to an integer
# (documented, identical on both engines), the per-term saturation factor
#   tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
# multiplies out to the all-BIGINT form
#   22*tf*avgdl / (20*tf*avgdl + 6*avgdl + 18*dl)
# and the ln-free idf surrogate (1000*(N - df + 1)) // (df + 1) replaces
# the transcendental Robertson idf (ln is not bit-stable across engines;
# the surrogate is monotone in df, which is all ranking needs).
# Overflow audit (BIGINT): idf_pm <= 1000*N; frac_ppb <= 2.2e9;
# idf_pm * frac_ppb <= 9e18 only past N ~ 4e6 docs — production at 100 TB
# would flip the final multiply to DOUBLE and keep the rank (documented).
# ---------------------------------------------------------------------------
BM25_TOP_K = 5
# audited BIGINT-overflow bound for the exact-integer score algebra (see
# block comment): past this corpus size idf_pm * frac_ppb can exceed
# 2^63-1, so the plan FAILS LOUDLY (raise_error) instead of silently
# wrapping — enforced in bm25_score_topk (r6 ADVICE item 3)
BM25_MAX_DOCS = 4_000_000
BM25_QUERIES: dict[str, tuple[str, ...]] = {
    "q_join_order": ("hash", "join", "order"),
    "q_scan_window": ("window", "scan"),
    "q_stream": ("stream", "batch", "merge", "sort"),
}


def _bm25_oracle() -> str:
    vals = ", ".join(
        f"('{q}', '{t}')" for q, ts in BM25_QUERIES.items() for t in ts
    )
    return f"""
WITH q(query_id, term) AS (VALUES {vals}),
tok AS (
    SELECT doc_id, len(string_split(text, ' ')) AS dl,
           unnest(string_split(text, ' ')) AS term
    FROM documents
), g AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS a
    FROM documents
), tf AS (
    SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
    FROM tok WHERE term IN (SELECT term FROM q)
    GROUP BY 1, 2, 3
), df AS (
    SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1
), sc AS (
    SELECT q.query_id, tf.doc_id,
           CAST(SUM(
               ((1000 * (g.n - df.df + 1)) // (df.df + 1))
             * ((22 * tf.tf * (g.a // g.n) * 1000000000)
                // (20 * tf.tf * (g.a // g.n) + 6 * (g.a // g.n)
                    + 18 * tf.dl))
             // 1000
           ) AS BIGINT) AS score_ppb,
           CAST(COUNT(*) AS BIGINT) AS n_terms_hit
    FROM tf JOIN q USING (term) JOIN df USING (term), g
    GROUP BY 1, 2
), r AS (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY score_ppb DESC, doc_id) AS rnk
    FROM sc
)
SELECT query_id, CAST(rnk AS BIGINT) AS rnk, doc_id, score_ppb, n_terms_hit
FROM r WHERE rnk <= {BM25_TOP_K}
"""


@query("llm_bm25_topk", oracle=_bm25_oracle(), tags=("llm-text", "retrieval"))
def llm_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 documents per query by exact-integer Okapi BM25 (k1=6/5,
    b=3/4 as rationals, floored integer avgdl, ln-free monotone idf
    surrogate — see the block comment for the algebra and the overflow
    audit).

    Scale shape: the token stream is cut to the query vocabulary by a
    literal In-filter BEFORE any shuffle (map-side; the exploded stream
    never leaves the stage), so the only corpus-wide exchange carries
    (doc, query-term) rows — a few rows per matching doc. df is a
    query-vocabulary-sized agg; N and avgdl are one global agg broadcast
    back; the final per-query top-K window partitions on query_id after a
    (query, doc)-keyed sum, never on an unkeyed global sort. One pruned
    scan of documents survives to the final plan (corpus constants); the
    token scan runs once inside the checkpointed tf job."""
    d = T.load(spark, sf_dir, "documents")
    tf, stats = bm25_index_partials(d)
    return bm25_score_topk(tf.localCheckpoint(), stats, bm25_query_frame(spark))


def bm25_index_partials(docs_batch: DataFrame) -> tuple[DataFrame, DataFrame]:
    """One micro-batch's BM25 index contribution: the (doc_id, dl, term,
    tf) inverted-index rows for the query vocabulary (append-only — docs
    are immutable, so a doc's rows are final in its arrival batch) and
    the mergeable 1-row (n, a) corpus-stats partial. ``llm_bm25_topk``
    scores the whole corpus's partials."""

    tf = bm25_tf_rows(docs_batch)
    stats = docs_batch.select(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("a"),
    )
    return tf, stats


def bm25_finalize(
    spark: SparkSession, tf_all: DataFrame, stats_all: DataFrame
) -> DataFrame:
    """Merge accumulated index partials into the one-shot BM25 top-K:
    union'ed tf rows pass through unchanged (df is DERIVED from them, so
    no df state exists to go stale), stats partials fold by SUM. Equal to
    the batch query over the concatenated corpus
    (tests/test_round6_ext.py::test_incremental_bm25_index_matches_batch).
    tf feeds TWO consumers (the df agg + the score join) and is tiny next
    to the corpus (query-vocabulary terms only), so both this merge and
    the batch query checkpoint it: the token scan runs once, not twice.
    The batch query skips only the stats re-sum (one partial row).
    """

    g = stats_all.agg(
        F.sum("n").cast("bigint").alias("n"),
        F.sum("a").cast("bigint").alias("a"),
    )
    return bm25_score_topk(
        tf_all.localCheckpoint(), g, bm25_query_frame(spark)
    )


def bm25_tf_rows(d: DataFrame) -> DataFrame:
    """(doc_id, dl, term, tf) for query-vocabulary terms only — the
    BM25 inverted-index rows. The literal In-filter cuts the exploded
    token stream map-side, before the tf shuffle. Append-only under
    corpus growth (docs are immutable), so per-batch slices of this
    frame ARE the streaming index partials."""
    all_terms = sorted({t for ts in BM25_QUERIES.values() for t in ts})
    tok = d.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("dl"),
        F.explode(F.split("text", " ")).alias("term"),
    ).filter(F.col("term").isin(*all_terms))
    return tok.groupBy("doc_id", "dl", "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )


def bm25_score_topk(tf: DataFrame, g: DataFrame, q: DataFrame) -> DataFrame:
    """Score + top-K from the index rows and the 1-row (n, a) corpus
    stats — shared by the batch query and the streaming-index twin (df
    is derived from tf here, so merged partials need no separate df
    state)."""
    dfreq = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    # overflow-bound enforcement: the exact-BIGINT algebra is audited only
    # to BM25_MAX_DOCS documents — refuse (raise_error in the 1-row stats
    # frame, so the check is free) rather than silently wrap past it; a
    # 100 TB deployment flips the final multiply to DOUBLE and keeps the
    # rank order (idf and saturation are each individually safe)
    g = g.select(
        F.expr(
            f"CASE WHEN n <= {BM25_MAX_DOCS} THEN n ELSE raise_error("
            "concat('llm_bm25_topk: corpus of ', CAST(n AS STRING), "
            f"' docs exceeds the {BM25_MAX_DOCS}-doc audited bound of the "
            "exact-BIGINT score algebra (idf_pm * frac_ppb would overflow "
            "BIGINT); switch the final multiply to DOUBLE for larger "
            "corpora')) END"
        ).alias("n"),
        "a",
    )
    sc = (
        tf.join(F.broadcast(q), "term")
        .join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(g))
        .groupBy("query_id", "doc_id")
        .agg(
            F.expr(
                "CAST(SUM("
                " ((1000 * (n - df + 1)) div (df + 1))"
                " * ((22 * tf * (a div n) * 1000000000)"
                "    div (20 * tf * (a div n) + 6 * (a div n) + 18 * dl))"
                " div 1000"
                ") AS BIGINT)"
            ).alias("score_ppb"),
            F.count(F.lit(1)).cast("bigint").alias("n_terms_hit"),
        )
    )
    rnk = F.row_number().over(
        Window.partitionBy("query_id").orderBy(
            F.col("score_ppb").desc(), "doc_id"
        )
    )
    return (
        sc.withColumn("rnk", rnk.cast("bigint"))
        .filter(F.col("rnk") <= BM25_TOP_K)
        .select("query_id", "rnk", "doc_id", "score_ppb", "n_terms_hit")
    )


def bm25_query_frame(spark: SparkSession) -> DataFrame:
    """The literal (query_id, term) query set as a broadcastable frame."""
    return spark.createDataFrame(
        [(qid, t) for qid, ts in BM25_QUERIES.items() for t in ts],
        "query_id string, term string",
    )


# ---------------------------------------------------------------------------
# llm_embedding_pca_power_step — one scatter-matrix power-iteration step.
#
# S = N·P − s·s'  (P = X'X Gram, s = column sums) is the unnormalized
# scatter matrix: S = N²·Cov, so its dominant eigenvector equals the
# covariance principal direction (positive scale preserved). With
# v0 = ones, (S·v0)_j collapses algebraically:
#   (S·1)_j = N·Σ_i P_ji − s_j·Σ_i s_i = N·Σ_n x_nj·r_n − s_j·T
# where r_n = Σ_i x_ni (row sum) and T = Σ_i s_i — so the matvec needs NO
# D×D materialization: one map-side row-sum pass, one D-group aggregate
# of (x_nj, x_nj·r_n), and a broadcast 1-row (N, T).
#
# Decimal audit (both engines exact): x is decimal(9,7); r_n <= 64 fits
# (12,7) (per-step-cast fold); x·r -> (22,14); the A_j sum is cast to
# (24,14) — exact to A ~ 1e10, i.e. N ~ 1.5e8 rows; s_j -> (16,7) (N to
# 1e9), T -> (21,7) (N to 1.5e12). N(12,0)·A(24,14) -> (37,14) and
# s(16,7)·T(21,7) -> (38,14): both under Spark's 38-precision cap, so no
# engine-divergent rounding anywhere. The boundary is floor() of the
# exact value via one decimal->double conversion (round-to-nearest in
# both engines; floor AFTER the cast per the catalog cast rule).
# ---------------------------------------------------------------------------
_PCA_DIMS = 64


def _pca_oracle() -> str:
    x = f"CAST(CAST(e.embedding[ix.i] AS DOUBLE) AS {VEC_DEC})"
    return f"""
WITH ix AS (
    SELECT unnest(range(1, {_PCA_DIMS + 1})) AS i
), rowsum AS (
    SELECT e.vec_id, CAST(SUM({x}) AS DECIMAL(12,7)) AS r
    FROM embeddings e, ix GROUP BY 1
), g AS (
    SELECT CAST(COUNT(*) AS DECIMAL(12,0)) AS n,
           CAST(SUM(r) AS DECIMAL(21,7)) AS t,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM rowsum
), dim AS (
    SELECT ix.i AS pos,
           CAST(SUM({x} * rs.r) AS DECIMAL(24,14)) AS a,
           CAST(SUM({x}) AS DECIMAL(16,7)) AS s
    FROM embeddings e JOIN rowsum rs ON e.vec_id = rs.vec_id, ix
    GROUP BY 1
)
SELECT CAST(dim.pos AS BIGINT) AS pos,
       g.n_rows AS n,
       CAST(floor(1000000000.0 * CAST(dim.s AS DOUBLE)) AS BIGINT) AS s_e9,
       CAST(floor(1000000000.0 * CAST(dim.a AS DOUBLE)) AS BIGINT) AS a_e9,
       CAST(floor(CAST(g.n * dim.a - dim.s * g.t AS DOUBLE)) AS BIGINT)
           AS v1_floor
FROM dim, g
"""


@query(
    "llm_embedding_pca_power_step",
    oracle=_pca_oracle(),
    tags=("llm-similarity", "linear-algebra", "iterative"),
)
def llm_embedding_pca_power_step(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """One power-iteration step toward the principal component of the
    embedding corpus: v1 = S·v0 with v0 = ones against the exact-decimal
    scatter matrix S = N·X'X − s·s' (= N²·Cov — same eigenvectors).
    Output per dimension: the row count, the e9-scaled column sum, the
    e9-scaled Σx·rowsum moment, and the exact v1 component (floored).

    Scale shape: the algebraic collapse (block comment) removes the D×D
    matrix entirely — r_n is computed map-side in the same projection as
    the quantization (no join-back), the only shuffle is the D-group
    (pos) aggregate of two decimal partials (map-combined: D rows per
    partition cross the wire), and (N, T) broadcast back onto the D-row
    result. Further iterations are the same plan with v0 = the previous
    output as a broadcast literal — the llm_embedding_kmeans_step /
    trained-IVF iterative pattern. Compare llm_embedding_covariance,
    which SELLS the full D(D+1)/2 sufficient statistics; this query is
    why the matvec consumer never has to buy them.
    """
    return pca_power_step(T.load(spark, sf_dir, "embeddings"))


def pca_power_step(emb: DataFrame) -> DataFrame:
    """Scatter-matvec core over any (vec_id, embedding) frame — split out
    so the exact-Fraction python model drives synthetic vectors."""
    return pca_assemble(pca_dim_frame(emb))


def pca_finalize(parts: DataFrame) -> DataFrame:
    """Power-step output from accumulated per-batch ``pca_dim_frame``
    partials: the per-dimension (n_rows, a, s) sufficient statistics are
    row-local, so they re-sum losslessly by pos (decimal sums commute and
    stay in-range: the merged a/s are the same values the one-shot
    aggregate produces) before the same ``pca_assemble``. Streaming state
    is a 64-row decimal table per batch, never vectors; union-of-batches
    == one-shot is pinned by test_incremental_pca_partials_merge."""
    dim = parts.groupBy("pos").agg(
        F.sum("n_rows").cast("bigint").alias("n_rows"),
        F.sum("a").cast("decimal(24,14)").alias("a"),
        F.sum("s").cast("decimal(16,7)").alias("s"),
    )
    return pca_assemble(dim)


def pca_assemble(dim_pre: DataFrame) -> DataFrame:
    """Assemble the report from the D-row dim frame. The frame feeds BOTH
    the output and the (N, T) globals — the globals are DERIVED from it
    (N = any pos's count since posexplode emits every dim per row;
    T = Σ_j s_j = Σ_n r_n exactly, decimal sums commute), so the corpus
    is scanned ONCE; checkpoint the D rows per the ">=2 consumers and
    tiny vs source" rule. (pca_dim_frame stays separate so the plan guard
    can assert the pre-checkpoint pipeline: one scan, one Generate, no
    join-back.)"""
    dim = dim_pre.localCheckpoint()
    g = dim.agg(
        F.max("n_rows").cast("decimal(12,0)").alias("n_dec"),
        F.sum("s").cast("decimal(21,7)").alias("t"),
    )
    return dim.crossJoin(F.broadcast(g)).select(
        "pos",
        F.col("n_rows").alias("n"),
        F.expr(
            "CAST(floor(1000000000.0 * CAST(s AS DOUBLE)) AS BIGINT)"
        ).alias("s_e9"),
        F.expr(
            "CAST(floor(1000000000.0 * CAST(a AS DOUBLE)) AS BIGINT)"
        ).alias("a_e9"),
        F.expr(
            "CAST(floor(CAST(n_dec * a - s * t AS DOUBLE)) AS BIGINT)"
        ).alias("v1_floor"),
    )


def pca_dim_frame(emb: DataFrame) -> DataFrame:
    """Per-dimension exact-decimal partials (n, Σx·rowsum, Σx): the whole
    corpus-touching part of the power step."""
    xq = F.transform(
        F.col("embedding"), lambda v: v.cast("double").cast(VEC_DEC)
    )
    # row sum folded with a per-step cast back to (12,7): each add is
    # (12,7)+(9,7) -> exact, re-cast exact (|r| <= 64 < 1e5)
    rowd = emb.select(
        xq.alias("x"),
        F.aggregate(
            xq,
            F.lit(0).cast("decimal(12,7)"),
            lambda acc, v: (acc + v).cast("decimal(12,7)"),
        ).alias("r"),
    )
    return (
        rowd.select(F.posexplode("x").alias("pos0", "v"), "r")
        .groupBy((F.col("pos0") + 1).cast("bigint").alias("pos"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.col("v") * F.col("r")).cast("decimal(24,14)").alias("a"),
            F.sum("v").cast("decimal(16,7)").alias("s"),
        )
    )
