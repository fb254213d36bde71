"""LLM-pipeline scale-path operators: MinHash-LSH, SimHash, sign-LSH ANN, IVF.

These are the sub-quadratic twins of the brute-force ops in
``llm_queries.py`` — candidate generation through hashing/bucketing so the
pair space never materializes at 100 TB:

- MinHash+LSH: shingle -> K minhashes -> band buckets -> bucket self-join.
  Only bucket-colliding pairs get exact Jaccard verification.
- SimHash: 64-bit per-doc fingerprint from token-hash bit votes.
- Embedding near-dup: hyperplane-sign bucket prefilter, exact cosine inside.
- IVF ANN: coarse quantization to centroid cells; queries probe nprobe
  cells; exact rerank inside probed cells only.

Determinism: every hash is md5 (identical hex both engines); minhash "min"
is lexicographic min over fixed-width hex (== numeric min); cosine uses the
decimal-exact dot from llm_queries scaled to BIGINT. All hot-path
expressions are JVM-side (whole-stage codegen) — no Python UDFs.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window

from .. import tables as T
from .catalog import REGISTRY, query
from .llm_queries import (
    PRESCORE_MARGIN_E9,
    VEC_ACC,
    VEC_DEC,
    _cos_e9,
    _dot,
    _dot_dbl,
    _dot_q,
    _qdec,
    _ranked_topk_per_query,
    llm_ann_cosine_topk,
)

# MinHash parameters: K hash functions in B bands of R rows (K = B*R).
MINHASH_K, MINHASH_B, MINHASH_R = 12, 4, 3

_SHINGLE_SQL = """
toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
), idx AS (
    SELECT doc_id, t, unnest(range(1, greatest(len(t) - 1, 1))) AS i FROM toks
), sh AS (
    SELECT DISTINCT doc_id,
           t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
    FROM idx
)"""


def _shingles(d: DataFrame) -> DataFrame:
    """Distinct 3-word shingles per doc (same construction as the
    ngram-jaccard query so the two ops share one candidate space)."""
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    return (
        toks.select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(0), F.greatest(F.size("t") - 3, F.lit(0))),
                        lambda i: F.concat_ws(
                            " ",
                            F.try_element_at(F.col("t"), i + 1),
                            F.try_element_at(F.col("t"), i + 2),
                            F.try_element_at(F.col("t"), i + 3),
                        ),
                    )
                )
            ).alias("shingle"),
        )
        .filter(F.size(F.split("shingle", " ")) == 3)
    )


def _shingles_sized(d: DataFrame) -> DataFrame:
    """``_shingles`` plus a MAP-SIDE per-doc distinct-shingle count:
    (doc_id, n_sh BIGINT, shingle).

    The exact pair-scoring queries (ngram-jaccard, containment) need each
    side's set size next to every intersection row. Computing it here —
    ``size()`` of the same distinct array the explode consumes, one narrow
    projection, zero shuffles — lets those queries GROUP the pair join by
    (doc_a, doc_b, n_a, n_b) directly and drop the whole ``sizes`` branch
    they used to carry: a per-doc groupBy shuffle of the shingle frame plus
    TWO shuffle joins of the pair frame (the largest intermediate in either
    query) against it. n_sh is functionally determined by doc_id, so the
    wider grouping key changes no groups; the 8-byte column rides a shuffle
    that already carries the ~20-byte shingle string. Same construction as
    ``_shingles``, so the candidate space is bit-identical.

    SHAPE MATTERS (two measured dead ends, both row-identical):
    (1) The array must be projected as a NAMED COLUMN in its own step so
    it evaluates ONCE — putting ``size(arr_expr)`` and
    ``explode(arr_expr)`` as siblings in one projection evaluates the
    expression twice (Project and Generate are different operators, no
    cross-operator CSE): hidden at sf0.1 (~0.6 s derivation) but ~2x the
    whole query at x30. (2) The generator must be ``explode_outer``, not
    ``explode`` — InferFiltersFromGenerate skips outer generators, while
    plain explode over a named column made Catalyst infer a non-empty
    filter and predicate-pushdown substitute the WHOLE array
    construction below the loader's spread repartition onto the
    single-task parquet scan (sf0.1: 3.8 s vs 0.65 s). outer == inner
    here because the array is never empty (sequence(0, >=0) yields >= 1
    index; degenerate short shingles from tiny docs are dropped by the
    post-explode row filter, the same filter ``_shingles`` uses).
    n_sh = size(arr) is exact for every SURVIVING row: docs with >= 3
    tokens generate only valid 3-token shingles (the index sequence
    stops at size-3), and shorter docs' rows are all dropped, so their
    n_sh never surfaces.
    """
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    arr = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size("t") - 3, F.lit(0))),
            lambda i: F.concat_ws(
                " ",
                F.try_element_at(F.col("t"), i + 1),
                F.try_element_at(F.col("t"), i + 2),
                F.try_element_at(F.col("t"), i + 3),
            ),
        )
    )
    step = toks.select("doc_id", arr.alias("shs"))
    return step.select(
        "doc_id",
        F.size("shs").cast("bigint").alias("n_sh"),
        F.explode_outer("shs").alias("shingle"),
    ).filter(F.size(F.split("shingle", " ")) == 3)


def _minhash_oracle() -> str:
    mins = ",\n           ".join(
        f"MIN(md5('{i}:' || shingle)) AS h{i}" for i in range(MINHASH_K)
    )
    bands = "\n    UNION ALL ".join(
        "SELECT doc_id, {j} AS band, md5({cat}) AS bucket FROM mh".format(
            j=j,
            cat=" || ".join(f"h{MINHASH_R * j + k}" for k in range(MINHASH_R)),
        )
        for j in range(MINHASH_B)
    )
    return f"""
WITH {_SHINGLE_SQL},
mh AS (
    SELECT doc_id,
           {mins}
    FROM sh GROUP BY 1
), bands AS (
    {bands}
), cand AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared_bands
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
                AND a.doc_id < b.doc_id
    GROUP BY 1, 2
), sizes AS (
    SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1
), inter AS (
    SELECT c.doc_a, c.doc_b, COUNT(*) AS inter_ct
    FROM cand c
    JOIN sh a ON a.doc_id = c.doc_a
    JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
    GROUP BY 1, 2
)
SELECT c.doc_a, c.doc_b, c.shared_bands,
       COALESCE(i.inter_ct, 0) AS inter_ct,
       (1000 * COALESCE(i.inter_ct, 0))
           // (sa.n_sh + sb.n_sh - COALESCE(i.inter_ct, 0)) AS jaccard_permille
FROM cand c
LEFT JOIN inter i ON c.doc_a = i.doc_a AND c.doc_b = i.doc_b
JOIN sizes sa ON c.doc_a = sa.doc_id
JOIN sizes sb ON c.doc_b = sb.doc_id
"""


@query("llm_dedup_minhash_lsh", oracle=_minhash_oracle(), tags=("llm-dedup",))
def llm_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding near-dup detection.

    shingle -> K=12 md5-seeded minhashes -> 4 bands x 3 rows -> band-bucket
    self-join for candidates -> exact Jaccard ONLY on candidates. Scale
    path: the bucket join touches O(collisions), never the full pair space;
    the exact-verify join is driven BY the candidate set (semi-join
    pattern), so shingle inverted-index cost is bounded by LSH recall.
    Mirrors the classic Broder MinHash construction; lexicographic min over
    fixed-width md5 hex == numeric min, identical in Spark and DuckDB.
    """
    d = T.load(spark, sf_dir, "documents")
    sh = _shingles(d)
    cand = minhash_candidates(sh)
    return minhash_verify(cand, sh)


def minhash_candidates(sh: DataFrame) -> DataFrame:
    """Checkpointed LSH band-collision candidate pairs
    (doc_a, doc_b, shared_bands) from a shingle frame.

    Factored out of ``llm_dedup_minhash_lsh`` (r12 optimization) so
    downstream scorers that only need the CANDIDATE PAIR SET —
    ``llm_dedup_containment_lsh`` scores containment over exactly these
    pairs — can stop at the band self-join instead of paying the full
    minhash query's exact-Jaccard verify (intersection join + two size
    joins + a second shingle derivation) just to throw the scores away.
    The verify never filters a pair (its inter join is LEFT and the size
    joins hit every candidate doc, which by construction has shingles),
    so the pair set out of the full query is bit-identical to this one.
    """
    bands = minhash_bands(sh)
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("shared_bands"))
        # LSH-recall-sized (tiny vs corpus); feeds the verify join AND the
        # final score join — materialize so the band self-join runs once.
        .localCheckpoint()
    )


def minhash_bands(sh: DataFrame) -> DataFrame:
    """(doc_id, band, bucket) LSH band keys from a shingle frame — the
    shared construction for the batch query and the streaming-incremental
    twin (`streaming.incremental.incremental_minhash_pairs`).

    One row per doc at the signature stage (K hex minhashes). The band
    frame is typically self-joined, so without materialization the
    shingle explode + K-way min-agg would run once per join SIDE and
    once more per verify consumer — 8 documents scans in the r4 census.
    Checkpointing the signatures caps the corpus at 2 scans."""
    mh = sh.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle")))).alias(f"h{i}")
            for i in range(MINHASH_K)
        ]
    ).localCheckpoint()
    return mh.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band"),
                        F.md5(
                            F.concat(
                                *[F.col(f"h{MINHASH_R * j + k}") for k in range(MINHASH_R)]
                            )
                        ).alias("bucket"),
                    )
                    for j in range(MINHASH_B)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")


def minhash_verify(cand: DataFrame, sh: DataFrame) -> DataFrame:
    """Exact-Jaccard verification of LSH candidate pairs against a
    shingle frame; returns the final (doc_a, doc_b, shared_bands,
    inter_ct, jaccard_permille) columns. Shared by the batch query and
    the streaming-incremental twin.

    The verify touches only candidate docs: semi-join prune the shingle
    frame BEFORE the intersection join (same pattern as containment-LSH),
    then materialize the pruned shingles — sizes and both intersection
    sides read the pruned frame, so the corpus is never re-scanned."""
    cand_ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh_cand = sh.join(cand_ids, "doc_id", "left_semi").localCheckpoint()
    sizes = sh_cand.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    sa, sb2 = sh_cand.alias("sa"), sh_cand.alias("sb")
    inter = (
        cand.select("doc_a", "doc_b")
        .join(sa, F.col("sa.doc_id") == F.col("doc_a"))
        .join(
            sb2,
            (F.col("sb.doc_id") == F.col("doc_b"))
            & (F.col("sb.shingle") == F.col("sa.shingle")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter_ct"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    return (
        cand.join(inter, ["doc_a", "doc_b"], "left")
        .join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "shared_bands",
            F.coalesce("inter_ct", F.lit(0)).alias("inter_ct"),
            F.expr(
                "(1000 * coalesce(inter_ct, 0))"
                " div (na + nb - coalesce(inter_ct, 0))"
            ).alias("jaccard_permille"),
        )
    )


# ---------------------------------------------------------------------------
# SimHash — 64-bit fingerprint from per-bit token votes.
# ---------------------------------------------------------------------------
_HEX = "0123456789abcdef"


def _simhash_oracle() -> str:
    pivot = " || ".join(f"MAX(CASE WHEN p = {i} THEN c END)" for i in range(16))
    return f"""
WITH toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), h AS (
    SELECT doc_id, substr(md5(tok), 1, 16) AS h FROM toks
), pos AS (
    SELECT doc_id, h, unnest(range(0, 16)) AS p FROM h
), dig AS (
    SELECT doc_id, p, strpos('{_HEX}', substr(h, CAST(p AS INT) + 1, 1)) - 1 AS v
    FROM pos
), bits AS (
    SELECT doc_id, p, unnest(range(0, 4)) AS b, v FROM dig
), sums AS (
    SELECT doc_id, p, b,
           SUM(CASE WHEN (v >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
    FROM bits GROUP BY 1, 2, 3
), digit AS (
    SELECT doc_id, p, SUM(CASE WHEN s > 0 THEN (1 << b) ELSE 0 END) AS dv
    FROM sums GROUP BY 1, 2
), chars AS (
    SELECT doc_id, p, substr('{_HEX}', CAST(dv AS INT) + 1, 1) AS c FROM digit
)
SELECT doc_id, {pivot} AS simhash64
FROM chars GROUP BY doc_id
"""


@query("llm_dedup_simhash", oracle=_simhash_oracle(), tags=("llm-dedup",))
def llm_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash 64-bit document fingerprint (Charikar hyperplane rounding).

    Per token: 64-bit md5-prefix hash; per bit position: +1/-1 vote summed
    over tokens (frequency-weighted); fingerprint bit = sign of vote.
    Emitted as 16 hex chars. All JVM-side (explode + groupBy partial aggs);
    at 100 TB the token->bit explosion stays map-side until the single
    (doc_id) shuffle. Near-dup search then blocks fingerprints on 16-bit
    bands (hamming<=k within band collisions) — the fingerprint is the
    shuffle-compressed representation of the whole document.
    """
    # r12 optimization (guide §2.3/§2.4): the original shape exploded every
    # token x16 positions x4 bits (64 rows/token through a Generate chain)
    # and then needed THREE keyed shuffles — (doc,p,b) vote sums, (doc,p)
    # digit assembly, (doc) pivot — to fold the votes back into one
    # fingerprint. The votes are a fixed 64-wide reduction, so fold them in
    # ONE groupBy(doc_id): per hex position p, pack the four bit-COUNTS
    # c_{p,b} (= tokens with bit b of digit p set) two to a long in 32-bit
    # fields (overflow-safe to 2^31 tokens per doc — the HIGH lane's sum
    # occupies bits 32..63 of a SIGNED long, so its count must stay under
    # 2^31 before the shift touches the sign bit), 32 packed SUMs + one
    # COUNT — no row explosion, map-side partial aggregation, a single
    # shuffle carrying 33 longs per doc per map partition instead of 64
    # (doc,p,b,s) rows through three exchanges. The +1/-1 vote sum is
    # s = 2*c - n, so the sign rule s > 0 becomes 2*c > n — identical
    # fingerprints (A/B'd bit-identical on the full corpus; a 64-column
    # unpacked SUM(CASE +1/-1) variant measured SLOWER than the old shape,
    # the packed form is the one that wins). Oracle and both pair
    # consumers unchanged.
    d = T.load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    h = toks.select("doc_id", F.substring(F.md5("tok"), 1, 16).alias("h"))
    # per hex position p: the digit value 0..15 of this token's hash
    hv = h.select(
        "doc_id",
        *[
            (F.expr(f"instr('{_HEX}', substring(h, {p + 1}, 1))") - 1).alias(f"v{p}")
            for p in range(16)
        ],
    )
    packs = []
    for p in range(16):
        packs.append(
            F.sum(
                F.expr(
                    f"(CAST((v{p} & 1) AS BIGINT))"
                    f" + (CAST(((v{p} >> 1) & 1) AS BIGINT) << 32)"
                )
            ).alias(f"c{p}lo")
        )
        packs.append(
            F.sum(
                F.expr(
                    f"(CAST(((v{p} >> 2) & 1) AS BIGINT))"
                    f" + (CAST(((v{p} >> 3) & 1) AS BIGINT) << 32)"
                )
            ).alias(f"c{p}hi")
        )
    sums = hv.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"), *packs)

    def _dv(p: int) -> str:
        return " + ".join(
            [
                f"(CASE WHEN 2 * (c{p}lo & 4294967295) > n THEN 1 ELSE 0 END)",
                f"(CASE WHEN 2 * ((c{p}lo >> 32) & 4294967295) > n"
                " THEN 2 ELSE 0 END)",
                f"(CASE WHEN 2 * (c{p}hi & 4294967295) > n THEN 4 ELSE 0 END)",
                f"(CASE WHEN 2 * ((c{p}hi >> 32) & 4294967295) > n"
                " THEN 8 ELSE 0 END)",
            ]
        )

    chars = [
        F.expr(f"substring('{_HEX}', cast({_dv(p)} as int) + 1, 1)")
        for p in range(16)
    ]
    return sums.select("doc_id", F.concat(*chars).alias("simhash64"))


# Pigeonhole with 4 disjoint 16-bit blocks GUARANTEES a shared block only
# for pairs within hamming <= 3; a larger threshold would make the banding
# contract silently partial (pairs at distance 4+ recalled only when a
# block happens to collide) — and it is also what ballooned the output
# pair set at x10 scale (2.36 M pairs under the old <= 16). For a larger
# guaranteed radius r, band on r+1 blocks (Manku et al., WWW'07) — at
# 64 bits that means narrower blocks and quadratically more collisions,
# so 3 is the sweet spot the literature itself ships.
SIMHASH_HAMMING_MAX = 3
_POPCOUNT = "0112122312232334"  # popcount lookup for a 4-bit value


def _simhash_pairs_oracle() -> str:
    # fingerprints CTE = the simhash oracle body minus the final pivot
    pivot = " || ".join(f"MAX(CASE WHEN p = {i} THEN c END)" for i in range(16))
    hamming = " + ".join(
        "CAST(substr('{pc}', xor(strpos('{hx}', substr(a.simhash64, {i}, 1)) - 1,"
        " strpos('{hx}', substr(b.simhash64, {i}, 1)) - 1) + 1, 1) AS INT)".format(
            pc=_POPCOUNT, hx=_HEX, i=i + 1
        )
        for i in range(16)
    )
    return f"""
WITH toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), h AS (
    SELECT doc_id, substr(md5(tok), 1, 16) AS h FROM toks
), pos AS (
    SELECT doc_id, h, unnest(range(0, 16)) AS p FROM h
), dig AS (
    SELECT doc_id, p, strpos('{_HEX}', substr(h, CAST(p AS INT) + 1, 1)) - 1 AS v
    FROM pos
), bits AS (
    SELECT doc_id, p, unnest(range(0, 4)) AS b, v FROM dig
), sums AS (
    SELECT doc_id, p, b,
           SUM(CASE WHEN (v >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
    FROM bits GROUP BY 1, 2, 3
), digit AS (
    SELECT doc_id, p, SUM(CASE WHEN s > 0 THEN (1 << b) ELSE 0 END) AS dv
    FROM sums GROUP BY 1, 2
), chars AS (
    SELECT doc_id, p, substr('{_HEX}', CAST(dv AS INT) + 1, 1) AS c FROM digit
), fp AS (
    SELECT doc_id, {pivot} AS simhash64 FROM chars GROUP BY doc_id
), blocks AS (
    SELECT doc_id, simhash64, unnest(range(0, 4)) AS blk FROM fp
), bl AS (
    SELECT doc_id, simhash64, blk,
           substr(simhash64, CAST(blk AS INT) * 4 + 1, 4) AS block_val
    FROM blocks
), cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, a.simhash64 AS sim_a,
                    b.doc_id AS doc_b, b.simhash64 AS sim_b
    FROM bl a
    JOIN bl b ON a.blk = b.blk AND a.block_val = b.block_val
             AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, hamming FROM (
    SELECT a.doc_a, a.doc_b, CAST({hamming.replace('a.simhash64', 'a.sim_a').replace('b.simhash64', 'a.sim_b')} AS BIGINT) AS hamming
    FROM cand a
) WHERE hamming <= {SIMHASH_HAMMING_MAX}
"""


@query("llm_dedup_simhash_pairs", oracle=_simhash_pairs_oracle(), tags=("llm-dedup",))
def llm_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 16-bit block banding + hamming distance.

    The pigeonhole trick: two 64-bit fingerprints within hamming distance
    k <= 3 must agree on at least one of 4 16-bit blocks, so candidate
    pairs come from a block-equality self-join (4 shuffle keys per doc,
    never the O(n^2) pair space); hamming is then computed exactly from
    the hex digits via a 4-bit popcount lookup and filtered to
    SIMHASH_HAMMING_MAX = 3 — the threshold the banding actually
    GUARANTEES (recall = 1.0 within the radius; see the constant's note
    for why a wider radius needs more bands, not a looser filter). All
    JVM-side string/bit expressions.
    """
    # the fingerprint pipeline (tokenize + weighted bit votes over the
    # whole corpus) feeds BOTH sides of the block self-join — checkpoint
    # the skinny (doc_id, hex16) frame so it derives once, not twice
    # (guard: test_simhash_pairs_fingerprints_derived_once). The 64-bit
    # fingerprint is converted ONCE PER SIDE into two 32-bit halves so
    # the per-candidate hamming is two XOR + two bit_count intrinsics
    # (whole-stage codegen) instead of 16 hex-digit string lookups — the
    # candidate volume is the block-collision space (~millions at x10),
    # so the per-pair expression is the dominant cost of this query.
    fp = (
        llm_dedup_simhash(spark, sf_dir)
        .select(
            "doc_id",
            "simhash64",
            F.expr(
                "CAST(conv(substring(simhash64, 1, 8), 16, 10) AS BIGINT)"
            ).alias("fp_hi"),
            F.expr(
                "CAST(conv(substring(simhash64, 9, 8), 16, 10) AS BIGINT)"
            ).alias("fp_lo"),
        )
        .localCheckpoint(eager=True)
    )
    blocks = fp.select(
        "doc_id",
        "fp_hi",
        "fp_lo",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("blk"),
        F.col("simhash64"),
    ).withColumn("block_val", F.expr("substring(simhash64, blk * 4 + 1, 4)"))
    a, b = blocks.alias("a"), blocks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.block_val") == F.col("b.block_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("a.fp_hi").alias("ha_hi"),
            F.col("a.fp_lo").alias("ha_lo"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("b.fp_hi").alias("hb_hi"),
            F.col("b.fp_lo").alias("hb_lo"),
        )
        .distinct()
    )
    hamming = F.expr("bit_count(ha_hi ^ hb_hi) + bit_count(ha_lo ^ hb_lo)")
    return (
        cand.withColumn("hamming", hamming.cast("bigint"))
        .filter(F.col("hamming") <= SIMHASH_HAMMING_MAX)
        .select("doc_a", "doc_b", "hamming")
    )


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
        _dot(F.col("embedding"), F.col("embedding")).alias("n2"),
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
                * _dot(F.col("ea"), F.col("eb")).cast("double")
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
            _cos_e9(F.col("n2"), F.col("n2"), F.col("n2")).alias("cos_sim_e9"),
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
    the exact-decimal ``_dot``. Returns ``embn``'s rows plus ``_top``:
    array<struct<ce9, negcid>> of length <= nprobe (cell id = -negcid).

    Cost shape (default dot only): one in-row decimal pass over the K
    cells, both sides quantized ONCE (``_qdec`` per row / per broadcast
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
                                    _cos_e9(
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
    cent_arr = cent.withColumn("cq", _qdec(F.col("ce"))).agg(
        F.collect_list(F.struct("cid", "cn2", "cq")).alias("_cents")
    )
    return (
        embn.crossJoin(F.broadcast(cent_arr))
        .withColumn("_qe", _qdec(F.col("embedding")))
        .withColumn(
            "_top",
            F.slice(
                F.reverse(
                    F.array_sort(
                        F.transform(
                            "_cents",
                            lambda c: F.struct(
                                _cos_e9(
                                    _dot_q(F.col("_qe"), c["cq"]),
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
        _dot(F.col("embedding"), F.col("embedding")).alias("n2"),
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
    # rerank sides carry the ONCE-quantized arrays (_qdec): candidates are
    # a constant fraction of the base (nprobe/K), so per-row quantization
    # below the join beats per-pair re-casting inside the dot by ~6x
    qe = embn.filter(F.col("vec_id") < ANN_N_QUERIES).select(
        F.col("vec_id").alias("query_vec_id"),
        _qdec(F.col("embedding")).alias("qeq"),
        F.col("n2").alias("qn2"),
    )
    ne = embn.select(
        F.col("vec_id").alias("neighbor_vec_id"),
        _qdec(F.col("embedding")).alias("neq"),
        F.col("n2").alias("nn2"),
    )
    scored = (
        cand.join(F.broadcast(qe), "query_vec_id")
        .join(ne, "neighbor_vec_id")
        .select(
            "query_vec_id",
            "neighbor_vec_id",
            _cos_e9(
                _dot_q(F.col("qeq"), F.col("neq")), F.col("qn2"), F.col("nn2")
            ).alias("cos_sim_e9"),
        )
    )
    # two-phase exact ranked top-k (r12): the IVF candidate set is
    # ~nprobe/k_cells of the corpus per query — a single qid window
    # would rank it 8-way-parallel at any cluster size
    return _ranked_topk_per_query(
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
        _dot(F.col("embedding"), F.col("embedding")).alias("n2"),
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
                    _cos_e9(
                        _dot_dbl(F.col("ea"), F.col("eb")),
                        F.col("na2"),
                        F.col("nb2"),
                    )
                    >= NEARDUP_THRESHOLD_E9 - PRESCORE_MARGIN_E9,
                    _cos_e9(
                        _dot(F.col("ea"), F.col("eb")),
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
                _cos_e9(
                    _dot_dbl(F.col("ea"), F.col("eb")),
                    F.col("na2"),
                    F.col("nb2"),
                )
                >= NEARDUP_THRESHOLD_E9 - PRESCORE_MARGIN_E9,
                _cos_e9(
                    _dot(F.col("ea"), F.col("eb")), F.col("na2"), F.col("nb2")
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
        _dot(F.col("embedding"), F.col("embedding")).alias("na2"),
        _dot_dbl(F.col("embedding"), F.col("embedding")).alias("na2d"),
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
                _cos_e9(
                    _dot_dbl(F.col("ea"), F.col("embedding")),
                    F.col("na2d"),
                    _dot_dbl(F.col("embedding"), F.col("embedding")),
                )
                >= NEARDUP_THRESHOLD_E9 - PRESCORE_MARGIN_E9,
                _cos_e9(
                    _dot(F.col("ea"), F.col("embedding")),
                    F.col("na2"),
                    _dot(F.col("embedding"), F.col("embedding")),
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
        _dot(F.col("embedding"), F.col("embedding")).alias("n2"),
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


DUP_CLUSTER_THRESHOLD_PM = 500  # jaccard >= 0.5 => same duplicate cluster


def _dedup_clusters_oracle() -> str:
    minhash = REGISTRY["llm_dedup_minhash_lsh"].oracle
    return f"""
WITH RECURSIVE pairs AS (
    SELECT doc_a, doc_b FROM ({minhash})
    WHERE jaccard_permille >= {DUP_CLUSTER_THRESHOLD_PM}
), edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION ALL
    SELECT doc_b, doc_a FROM pairs
), nodes AS (
    SELECT DISTINCT src AS doc_id FROM edges
), reach AS (
    SELECT doc_id, doc_id AS lab FROM nodes
    UNION
    SELECT e.dst AS doc_id, r.lab
    FROM reach r JOIN edges e ON e.src = r.doc_id
)
SELECT doc_id, MIN(lab) AS cluster_id
FROM reach GROUP BY 1
"""


@query("llm_dedup_clusters", oracle=_dedup_clusters_oracle(), tags=("llm-dedup",))
def llm_dedup_clusters(
    spark: SparkSession,
    sf_dir: str,
    algorithm: str = "propagate",
    max_rounds: int | None = None,
) -> DataFrame:
    """Near-dup clusters: connected components over the MinHash-LSH pair
    graph (jaccard >= 0.5), cluster id = min doc_id in the component.

    The iterative-algorithm pattern SURVEY §7 calls out, via
    ``operators.graph.connected_components``: the registered default is
    min-label propagation run to the exact fixpoint — the oracle's
    recursive CTE reaches the same closure. For adversarial long-chain
    topologies (where O(diameter) sequential Spark jobs hurt), callers
    have two documented escape hatches the registry's kwargs pass
    through: ``max_rounds=N`` bounds the job count (possibly non-minimal
    labels past the bound) and ``algorithm='star'`` switches to the
    alternating large-star/small-star algorithm — exact in O(log^2 n)
    rounds regardless of diameter; `tests/test_graph.py` pins that both
    algorithms agree on this very pair graph and on a worst-case chain.
    """
    from ..operators.graph import connected_components

    pairs = (
        llm_dedup_minhash_lsh(spark, sf_dir)
        .filter(F.col("jaccard_permille") >= DUP_CLUSTER_THRESHOLD_PM)
        .select("doc_a", "doc_b")
    )
    # the operator symmetrizes internally — pass the directed pairs as-is
    cc = connected_components(
        pairs.toDF("src", "dst"), algorithm=algorithm, max_rounds=max_rounds
    )
    return cc.select(
        F.col("node").alias("doc_id"), F.col("lab").alias("cluster_id")
    )


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) distinct sketch — deterministic cardinality
# estimation that hash-matches across engines (md5 is the random oracle,
# so both engines compute the IDENTICAL estimate — unlike HLL, whose
# register layouts differ per implementation).
# ---------------------------------------------------------------------------
KMV_K = 64
KMV_SALT = 16  # k-min fold fanout: buckets per group in the partial agg
_KMV_HEX_DIGITS = 12  # 48-bit hash value: fits BIGINT exactly
_KMV_M = 16 ** _KMV_HEX_DIGITS


def _hexval_sql(col: str, fn: str) -> str:
    """Numeric value of the first 12 hex chars of ``col`` — identical text
    for Spark (fn='instr') and DuckDB (fn='strpos').

    Every coefficient is CAST to BIGINT: bare ``16**7`` parses as INT32, and
    ``(instr(..)-1) * 268435456`` overflows 32-bit exactly when the digit is
    >= 8 — an ANSI-mode runtime error that only fires on half of all hash
    values (a data-dependent landmine, found when a new query hashed every
    doc instead of just the k-th order statistic). The whole sum is
    parenthesized so callers can inline it into larger expressions without
    a trailing operator rebinding to just the last term."""
    return "(" + " + ".join(
        f"({fn}('{_HEX}', substr({col}, {i + 1}, 1)) - 1) * "
        f"CAST({16 ** (_KMV_HEX_DIGITS - 1 - i)} AS BIGINT)"
        for i in range(_KMV_HEX_DIGITS)
    ) + ")"


def _kmv_group_sketch(e) -> DataFrame:
    """Per-event_type KMV sketch via the k-min partial-aggregate fold:
    hashes salted by their own leading hex digit into ``KMV_SALT`` buckets
    (partitioning the hash space, so bucket k-mins merge losslessly and
    bucket distinct counts are disjoint); each (group, salt) bucket folds
    its distinct hashes to one sorted k-prefix via map-side-combinable
    collect_set; the per-group merge sorts at most salt x k values.
    Returns (event_type, n = exact distinct-hash count, kmin_all)."""
    h = e.select(
        "event_type", F.md5(F.col("user_id").cast("string")).alias("hx")
    )
    salted = h.withColumn(
        "salt", F.expr(f"instr('{_HEX}', substr(hx, 1, 1)) % {KMV_SALT}")
    )
    partial = (
        salted.groupBy("event_type", "salt")
        .agg(F.array_sort(F.collect_set("hx")).alias("hs"))
        .select(
            "event_type",
            F.slice("hs", 1, KMV_K).alias("kmin"),
            F.size("hs").cast("bigint").alias("n_bucket"),
        )
    )
    return partial.groupBy("event_type").agg(
        F.sum("n_bucket").alias("n"),
        F.slice(
            F.array_sort(F.flatten(F.collect_list("kmin"))), 1, KMV_K
        ).alias("kmin_all"),
    )


@query(
    "llm_sketch_kmv_distinct",
    oracle=f"""
WITH h AS (
    SELECT DISTINCT event_type, md5(CAST(user_id AS VARCHAR)) AS hx
    FROM events WHERE user_id IS NOT NULL
), r AS (
    SELECT event_type, hx,
           row_number() OVER (PARTITION BY event_type ORDER BY hx) AS rn,
           COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM h
), kth AS (
    SELECT event_type, n, {_hexval_sql("hx", "strpos")} AS v
    FROM r WHERE rn = LEAST(n, {KMV_K})
), exact AS (
    SELECT event_type, COUNT(DISTINCT user_id) AS ex
    FROM events WHERE user_id IS NOT NULL GROUP BY 1
), gh AS (
    SELECT DISTINCT hx FROM h
), gr AS (
    SELECT hx, row_number() OVER (ORDER BY hx) AS rn, COUNT(*) OVER () AS n
    FROM gh
), gkth AS (
    SELECT n, {_hexval_sql("hx", "strpos")} AS v
    FROM gr WHERE rn = LEAST(n, {KMV_K})
), gexact AS (
    SELECT COUNT(DISTINCT user_id) AS ex
    FROM events WHERE user_id IS NOT NULL
)
SELECT e.event_type,
       CAST(e.ex AS BIGINT) AS exact_distinct,
       CAST(CASE WHEN k.n < {KMV_K} THEN k.n
                 ELSE ({KMV_K - 1} * {_KMV_M}) // greatest(k.v, 1) END AS BIGINT)
           AS kmv_estimate,
       CAST((1000 * abs(CASE WHEN k.n < {KMV_K} THEN k.n
                 ELSE ({KMV_K - 1} * {_KMV_M}) // greatest(k.v, 1) END - e.ex)) // e.ex
            AS BIGINT) AS err_permille
FROM exact e JOIN kth k ON e.event_type = k.event_type
UNION ALL
SELECT '(all)' AS event_type,
       CAST(e.ex AS BIGINT) AS exact_distinct,
       CAST(CASE WHEN k.n < {KMV_K} THEN k.n
                 ELSE ({KMV_K - 1} * {_KMV_M}) // greatest(k.v, 1) END AS BIGINT)
           AS kmv_estimate,
       CAST((1000 * abs(CASE WHEN k.n < {KMV_K} THEN k.n
                 ELSE ({KMV_K - 1} * {_KMV_M}) // greatest(k.v, 1) END - e.ex)) // e.ex
            AS BIGINT) AS err_permille
FROM gexact e, gkth k
""",
    tags=("llm-text", "sketch"),
)
def llm_sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch, per event_type PLUS
    the ``(all)`` rollup row, each with its own measured error against the
    exact count. Folded in round 9: the former ``llm_sketch_kmv_union``
    query is now the ``(all)`` row — the global estimate computed by
    MERGING the per-event_type sketches, never re-scanning raw keys
    (registry-freeze fold, the llm_ann_ivf_recall template).

    The mergeable-sketch pattern every 100 TB pipeline needs for distinct
    counting WITHOUT a full shuffle of the key universe: keep the k
    smallest hash values per group; estimate = (k-1) / v_k where v_k is
    the k-th smallest hash as a fraction of hash space (Bar-Yossef et al.
    2002, the theta-sketch ancestor). md5 makes the estimate DETERMINISTIC
    and engine-portable — the DuckDB oracle computes the identical number,
    which no HLL implementation guarantees.

    Scale shape — the k-min PARTIAL-AGGREGATE FOLD (r04, replacing the
    r02 per-group distinct-sort window, which single-threads on a hot
    event_type): hashes are salted by their own leading bits into
    ``KMV_SALT`` buckets; each (group, salt) bucket folds its distinct
    hashes to ONE sorted k-prefix array via a map-side-combinable
    collect_set (buffer = bucket-local distinct set — sized by the salt
    fanout, never the group); the per-group merge then sorts at most
    salt x k values. Two shuffles total — (group, salt) then the tiny
    (group) merge — and no Window anywhere in the plan. The bucket
    distinct counts sum to the exact distinct-hash count n because the
    salt partitions the hash space.

    The ``(all)`` row is the mergeability proof: union(sketch_a, sketch_b)
    = k smallest of (kmin_a ∪ kmin_b), because every one of the global k
    smallest hashes is necessarily inside its own group's k-min set. The
    merge input is G x k values (G = event types) and crucially DEDUPS
    the hash multiset (one user active in several types appears in
    several sketches). The oracle computes the identical estimate from
    the raw key universe; exact equality of the two paths is the proof.
    When the merged set holds fewer than k values it IS the exact union,
    so the estimate is exact. The group-sketch frame feeds BOTH output
    arms, is G x k values vs an events scan + two shuffles to derive —
    the CLAUDE.md localCheckpoint class — so it is checkpointed once.
    """
    e = T.load(spark, sf_dir, "events", spread=False).filter(F.col("user_id").isNotNull())
    sketch = _kmv_group_sketch(e).localCheckpoint()
    kth = sketch.select(
        "event_type",
        "n",
        F.expr(
            _hexval_sql(
                f"element_at(kmin_all, cast(least(n, {KMV_K}) as int))", "instr"
            )
        ).alias("v"),
    )
    exact = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("ex")
    )
    est = F.when(F.col("n") < KMV_K, F.col("n")).otherwise(
        F.expr(f"({KMV_K - 1} * {_KMV_M}) div greatest(v, 1)")
    )
    per_type = (
        exact.join(kth, "event_type")
        .withColumn("kmv_estimate", est.cast("bigint"))
        .select(
            "event_type",
            F.col("ex").cast("bigint").alias("exact_distinct"),
            "kmv_estimate",
            F.expr("cast((1000 * abs(kmv_estimate - ex)) div ex as bigint)").alias(
                "err_permille"
            ),
        )
    )
    merged = sketch.select("kmin_all").agg(
        F.slice(
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("kmin_all")))),
            1,
            KMV_K,
        ).alias("km")
    ).filter(
        # an ungrouped agg emits one row even on EMPTY input; the oracle's
        # gkth CTE emits zero — filter the empty sketch out (element_at(km,
        # 0) would also raise INVALID_INDEX_OF_ZERO) so both engines
        # return an empty result set
        F.size("km") > 0
    ).select(
        F.size("km").cast("bigint").alias("m"),
        F.expr(
            _hexval_sql(
                f"element_at(km, cast(least(size(km), {KMV_K}) as int))", "instr"
            )
        ).alias("v"),
        F.lit(1).alias("jk"),
    )
    gexact = e.agg(F.countDistinct("user_id").alias("ex")).withColumn(
        "jk", F.lit(1)
    )
    gest = F.when(F.col("m") < KMV_K, F.col("m")).otherwise(
        F.expr(f"({KMV_K - 1} * {_KMV_M}) div greatest(v, 1)")
    )
    all_row = (
        gexact.join(merged, "jk")  # 1-row x 1-row equi join on a constant key
        .withColumn("kmv_estimate", gest.cast("bigint"))
        .select(
            F.lit("(all)").alias("event_type"),
            F.col("ex").cast("bigint").alias("exact_distinct"),
            "kmv_estimate",
            F.expr("cast((1000 * abs(kmv_estimate - ex)) div ex as bigint)").alias(
                "err_permille"
            ),
        )
    )
    return per_type.unionByName(all_row)


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
        _dot(F.col("embedding"), F.col("embedding")).alias("n2"),
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
    # the per-pair re-casting _dot is the ~6x overhead _dot_q removes)
    qe = embn.filter(F.col("vec_id") < ANN_N_QUERIES).select(
        F.col("vec_id").alias("query_vec_id"),
        _qdec(F.col("embedding")).alias("qeq"),
        F.col("n2").alias("qn2"),
    )
    ne = embn.select(
        F.col("vec_id").alias("neighbor_vec_id"),
        _qdec(F.col("embedding")).alias("neq"),
        F.col("n2").alias("nn2"),
    )
    tscored = (
        tcand.join(F.broadcast(qe), "query_vec_id")
        .join(ne, "neighbor_vec_id")
        .select(
            "query_vec_id",
            "neighbor_vec_id",
            _cos_e9(
                _dot_q(F.col("qeq"), F.col("neq")), F.col("qn2"), F.col("nn2")
            ).alias("cos_sim_e9"),
        )
    )
    # two-phase exact ranked top-k (r12) — see _ranked_topk_per_query
    ttopk = _ranked_topk_per_query(
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
# Histogram quantile sketch — deterministic mergeable quantile estimation
# (the role t-digest plays at scale, in a form both engines compute
# identically: fixed-width bins are exact integer arithmetic, while
# t-digest/GK sketches are implementation-defined).
# ---------------------------------------------------------------------------
HIST_BIN_W = 8  # tokens per bin


@query(
    "llm_sketch_histogram_quantiles",
    oracle=f"""
WITH t AS (
    SELECT source, len(string_split(text, ' ')) AS n_tok FROM documents
), b AS (
    SELECT source, CAST(n_tok // {HIST_BIN_W} AS BIGINT) AS bin, COUNT(*) AS ct
    FROM t GROUP BY 1, 2
), c AS (
    SELECT source, bin, ct,
           SUM(ct) OVER (PARTITION BY source ORDER BY bin
                         ROWS UNBOUNDED PRECEDING) AS cum,
           SUM(ct) OVER (PARTITION BY source) AS n
    FROM b
), q AS (
    SELECT source,
           MIN(CASE WHEN cum >= CAST(ceil(0.5 * n) AS BIGINT) THEN bin END) AS b50,
           MIN(CASE WHEN cum >= CAST(ceil(0.9 * n) AS BIGINT) THEN bin END) AS b90
    FROM c GROUP BY 1
), ex AS (
    SELECT source,
           CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY n_tok) AS BIGINT) AS p50,
           CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY n_tok) AS BIGINT) AS p90
    FROM t GROUP BY 1
)
SELECT q.source,
       CAST(q.b50 * {HIST_BIN_W} + {HIST_BIN_W // 2} AS BIGINT) AS est_p50,
       CAST(q.b90 * {HIST_BIN_W} + {HIST_BIN_W // 2} AS BIGINT) AS est_p90,
       ex.p50 AS exact_p50,
       ex.p90 AS exact_p90,
       CAST((1000 * abs(q.b50 * {HIST_BIN_W} + {HIST_BIN_W // 2} - ex.p50))
            // greatest(ex.p50, 1) AS BIGINT) AS err50_permille,
       CAST((1000 * abs(q.b90 * {HIST_BIN_W} + {HIST_BIN_W // 2} - ex.p90))
            // greatest(ex.p90, 1) AS BIGINT) AS err90_permille
FROM q JOIN ex ON q.source = ex.source
""",
    tags=("llm-text", "sketch"),
)
def llm_sketch_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile estimation from a fixed-width histogram sketch, per source,
    with self-reported error against exact percentile_disc.

    The mergeable-quantile pattern for 100 TB (the role t-digest plays):
    per-partition bin counts merge by addition — one (source, bin) shuffle
    whose cardinality is values/bin_width, NOT rows — then the quantile is
    read off the cumulative histogram. Fixed-width integer bins keep the
    estimate DETERMINISTIC and engine-identical, which t-digest/GK cannot
    guarantee (their centroids are implementation-defined); error is
    bounded by bin_width/2 around each true quantile. The exact
    percentile_disc twin (llm_text_length_quantiles) is the small-data
    path; this is what it swaps to at scale.
    """
    t = T.load(spark, sf_dir, "documents", spread=False).select(
        "source", F.size(F.split("text", " ")).alias("n_tok")
    )
    b = t.groupBy(
        "source", F.expr(f"cast(n_tok div {HIST_BIN_W} as bigint)").alias("bin")
    ).agg(F.count(F.lit(1)).alias("ct"))
    wc = (
        Window.partitionBy("source")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = Window.partitionBy("source")
    c = b.withColumn("cum", F.sum("ct").over(wc)).withColumn(
        "n", F.sum("ct").over(wn)
    )
    q = c.groupBy("source").agg(
        F.min(
            F.when(F.col("cum") >= F.ceil(0.5 * F.col("n")), F.col("bin"))
        ).alias("b50"),
        F.min(
            F.when(F.col("cum") >= F.ceil(0.9 * F.col("n")), F.col("bin"))
        ).alias("b90"),
    )
    ex = t.groupBy("source").agg(
        F.expr(
            "cast(percentile_disc(0.5) WITHIN GROUP (ORDER BY n_tok) as bigint)"
        ).alias("exact_p50"),
        F.expr(
            "cast(percentile_disc(0.9) WITHIN GROUP (ORDER BY n_tok) as bigint)"
        ).alias("exact_p90"),
    )
    half = HIST_BIN_W // 2
    est50 = (F.col("b50") * HIST_BIN_W + half).cast("bigint")
    est90 = (F.col("b90") * HIST_BIN_W + half).cast("bigint")
    return (
        q.join(ex, "source")
        .select(
            "source",
            est50.alias("est_p50"),
            est90.alias("est_p90"),
            "exact_p50",
            "exact_p90",
            F.expr(
                f"cast((1000 * abs(b50 * {HIST_BIN_W} + {half} - exact_p50))"
                " div greatest(exact_p50, 1) as bigint)"
            ).alias("err50_permille"),
            F.expr(
                f"cast((1000 * abs(b90 * {HIST_BIN_W} + {half} - exact_p90))"
                " div greatest(exact_p90, 1) as bigint)"
            ).alias("err90_permille"),
        )
    )
